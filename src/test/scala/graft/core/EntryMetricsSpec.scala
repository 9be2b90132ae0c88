package graft.core

import graft.SparkSpec

/** A19 breakdown recorder: stages attribute to the entry whose wall-clock
  * window covers their submission, shuffle/scan bytes are real, and
  * out-of-window stages land in _other instead of vanishing. */
class EntryMetricsSpec extends SparkSpec {

  test("stages attribute to their entry window; shuffle and input bytes are recorded") {
    val em = new EntryMetrics()
    spark.sparkContext.addSparkListener(em)
    try {
      import org.apache.spark.sql.functions._

      val w0 = System.currentTimeMillis()
      // entry 1: a parquet scan + shuffle agg — must show input bytes,
      // shuffle write AND read, and >1 stage
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy(col("l_orderkey")).agg(sum(col("l_quantity")).as("q"))
        .write.format("noop").mode("overwrite").save()
      em.window("e1_shuffle_agg", w0, System.currentTimeMillis())

      val w1 = System.currentTimeMillis()
      // entry 2: map-only — one stage, zero shuffle
      spark.range(0, 1000, 1, 2).selectExpr("id * 2 AS x")
        .write.format("noop").mode("overwrite").save()
      em.window("e2_map_only", w1, System.currentTimeMillis())

      // an untagged job between windows must land in _other, not leak
      // into either entry
      spark.range(0, 10, 1, 1).count()

      em.drain(spark)
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
    } finally spark.sparkContext.removeSparkListener(em)
  }

  test("each entry reports its selected rep's job count and that rep's index") {
    val em = new EntryMetrics()
    spark.sparkContext.addSparkListener(em)
    try {
      // three reps of one entry, each exactly 3 single-stage jobs; the
      // middle rep is the fastest (the others sleep), so it is selected
      def rep(sleepMs: Long): Unit = {
        val w0 = System.currentTimeMillis()
        (1 to 3).foreach(_ => spark.sparkContext.parallelize(1 to 4, 2).count())
        Thread.sleep(sleepMs)
        em.window("e_reps", w0, System.currentTimeMillis())
      }
      rep(1000); rep(0); rep(1000)
      em.drain(spark)
      val (idx, b) = em.selected("e_reps")
      assert(idx == 1, s"selected rep $idx")
      assert(b.jobs == 3 && b.stages == 3, s"jobs ${b.jobs}, stages ${b.stages}")
      assert(em.selected("_other")._1 == -1)
      val json = em.toJson(Map.empty)
      assert(json.contains("\"e_reps\":{\"rep\":1,\"jobs\":3,\"stages\":3,"), json)
    } finally spark.sparkContext.removeSparkListener(em)
  }
}
