package graft.core

import graft.SparkSpec

/** A19 breakdown recorder: stages attribute to the entry whose wall-clock
  * window covers their submission, shuffle/scan bytes are real, and
  * out-of-window stages land in _other instead of vanishing. The interval
  * arithmetic is pinned on perfbench/test_metrics.py's inputs and
  * expected values; streaming batches and executed plans come from the
  * same recorder. */
class EntryMetricsSpec extends SparkSpec {
  import EntryMetrics.{driverGap, unionLength}
  private def em = metrics

  test("interval union: disjoint, overlapping and nested intervals") {
    assert(unionLength(Seq((0.0, 2.0), (5.0, 6.0))) == 3)
    assert(unionLength(Seq((0.0, 4.0), (2.0, 6.0))) == 6)
    assert(unionLength(Seq((0.0, 10.0), (2.0, 3.0), (4.0, 5.0))) == 10)
    assert(unionLength(Seq((3.0, 5.0), (0.0, 1.0), (1.0, 3.0))) == 5)
  }

  test("interval union: clipping and empty input") {
    assert(unionLength(Seq((-5.0, 2.0), (8.0, 20.0)), 0, 10) == 4)
    assert(unionLength(Seq((12.0, 15.0)), 0, 10) == 0)
    assert(unionLength(Nil) == 0)
  }

  test("driver gap on synthetic job windows") {
    // a 10 ms window; jobs cover [1,3) and the overlapping pair [5,7)+[6,8)
    assert(driverGap((0, 10), Seq((1.0, 3.0), (5.0, 7.0), (6.0, 8.0))) == ((5.0, 5.0)))
    // a job running past the window's end counts only inside it
    assert(driverGap((0, 10), Seq((9.0, 30.0))) == ((1.0, 9.0)))
  }

  test("stages attribute to their entry window; shuffle and input bytes are recorded") {
    import org.apache.spark.sql.functions._

    // entry 1: a parquet scan + shuffle agg — must show input bytes,
    // shuffle write AND read, and >1 stage
    em.timed("e1_shuffle_agg") {
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy(col("l_orderkey")).agg(sum(col("l_quantity")).as("q"))
        .write.format("noop").mode("overwrite").save()
    }

    // entry 2: map-only — one stage, zero shuffle
    em.timed("e2_map_only") {
      spark.range(0, 1000, 1, 2).selectExpr("id * 2 AS x")
        .write.format("noop").mode("overwrite").save()
    }

    // an untagged job between windows must land in _other, not leak
    // into either entry
    spark.range(0, 10, 1, 1).count()

    em.drain()
    val b = em.breakdowns
    assert(b.contains("e1_shuffle_agg") && b.contains("e2_map_only"),
      s"missing entries in ${b.keySet}")

    val e1 = b("e1_shuffle_agg")
    assert(e1.stages >= 2, s"shuffle agg should span >=2 stages, got ${e1.stages}")
    assert(e1.inputBytes > 0, "parquet scan must record input bytes")
    assert(e1.shuffleWriteBytes > 0 && e1.shuffleReadBytes > 0,
      s"agg must shuffle: wrote ${e1.shuffleWriteBytes}, read ${e1.shuffleReadBytes}")

    val e2 = b("e2_map_only")
    assert(e2.shuffleWriteBytes == 0 && e2.shuffleReadBytes == 0,
      "map-only entry must not shuffle")
    assert(e2.tasks >= 2, s"expected the 2 range partitions, got ${e2.tasks}")

    assert(b.contains("_other"), "untagged work must surface under _other")

    val json = em.toJson(Map("code" -> "test"))
    // parse-safety: the driver reads this with json.loads
    assert(json.contains("\"e1_shuffle_agg\"") && json.contains("\"shuffle_read_mb\""))
    assert(json.startsWith("{") && json.endsWith("}"))
  }

  test("each entry reports its selected rep's job count and that rep's index") {
    // three reps of one entry, each exactly 3 single-stage jobs; the
    // middle rep is the fastest (the others sleep), so it is selected
    def rep(sleepMs: Long): Unit = em.timed("e_reps") {
      (1 to 3).foreach(_ => spark.sparkContext.parallelize(1 to 4, 2).count())
      Thread.sleep(sleepMs)
    }
    rep(1000); rep(0); rep(1000)
    em.drain()
    val (idx, b) = em.selected("e_reps")
    assert(idx == 1, s"selected rep $idx")
    assert(b.jobs == 3 && b.stages == 3, s"jobs ${b.jobs}, stages ${b.stages}")
    assert(em.selected("_other")._1 == -1)
    val json = em.toJson(Map.empty)
    assert(json.contains("\"e_reps\":{\"rep\":1,\"jobs\":3,\"stages\":3,"), json)
  }

  test("each rep reports its codegen compiles: a second identical run compiles none") {
    // a literal the JVM has not compiled yet, so the first rep compiles
    val k = 1000003L + System.nanoTime() % 1000000L
    def rep(): Unit = em.timed("e_codegen") {
      spark.range(0, 1000, 1, 2).selectExpr(s"id * $k AS x").groupBy("x").count()
        .write.format("noop").mode("overwrite").save()
    }
    rep(); rep()
    val Seq(first, second) = em.compiles("e_codegen")
    assert(first > 0 && second == 0, s"compiles per rep: $first, $second")
    em.drain()
    assert(em.toJson(Map.empty).contains("\"codegen_compiles\":"))
  }

  test("an AvailableNow stream inside a window reports its micro-batches") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = java.nio.file.Files.createTempDirectory("em-stream").toFile
    try {
      spark.range(0, 2000, 1, 2).selectExpr("id", "id % 7 AS k")
        .write.mode("overwrite").parquet(s"$dir/in")
      val src = spark.readStream.schema("id LONG, k LONG").parquet(s"$dir/in")
      em.timed("st") {
        val q = src.groupBy("k").count().writeStream.format("memory")
          .queryName(s"em_stream_${System.nanoTime}").outputMode("complete")
          .option("checkpointLocation", s"$dir/ckpt")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      em.drain()
      val b = em.breakdowns("st")
      assert(b.batches >= 1 && b.addBatchMs > 0,
        s"batches ${b.batches}, addBatch ${b.addBatchMs} ms")
      assert(em.toJson(Map.empty).contains("\"add_batch_sec\":"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("a groupBy noop write's captured plan is the final one; its window splits into busy and gap") {
    import org.apache.spark.sql.functions.col
    val df = spark.range(0, 20000, 1, 4).groupBy((col("id") % 7).as("k")).count()
    val ((_, sec), plans) = em.capture(em.timed("agg")(df.write.format("noop").mode("overwrite").save()))
    val plan = EntryMetrics.finalPlan(plans.last).toString
    assert(plan.contains("ShuffleQueryStage") || plan.contains("AQEShuffleRead"),
      s"not the executed AQE plan:\n$plan")
    val b = em.breakdowns("agg")
    assert(b.sqlQueries >= 1 && b.jobs >= 1 && b.jobBusyMs > 0 && b.driverGapMs >= 0, b.toString)
    // the window is the timed call give or take a clock tick at each end
    assert(math.abs(b.jobBusyMs + b.driverGapMs - sec * 1e3) < 5, s"$b vs $sec s")
  }
}
