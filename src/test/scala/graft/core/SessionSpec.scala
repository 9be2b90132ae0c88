package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Iterative-session semantics (SURVEY.md §3.3): persisted reuse across
  * jobs, broadcast scatter, bounded lineage under iteration. */
class SessionSpec extends SparkSpec {

  test("normalizeTs: Long nanos, TIMESTAMP_NTZ, and TIMESTAMP all normalize to the same instant") {
    // the regression class that broke st01/st06/st07/st09 in round 9: the
    // driver's events fixture has shipped ts as BOTH nanos-as-Long and
    // timestamp[us] isAdjustedToUTC=false (read as NTZ). All encodings of
    // the same instant must come out as identical TimestampType values.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val micros = 1700000000123456L                 // 2023-11-14T22:13:20.123456Z
    val fromLong = graft.core.Tables.normalizeTs(
      spark.range(1).select((lit(micros) * 1000L).as("ts")))
    val fromNtz = graft.core.Tables.normalizeTs(
      spark.range(1).select(timestamp_micros(lit(micros)).cast(TimestampNTZType).as("ts")))
    val fromTz = graft.core.Tables.normalizeTs(
      spark.range(1).select(timestamp_micros(lit(micros)).as("ts")))
    for (df <- Seq(fromLong, fromNtz, fromTz)) {
      assert(df.schema("ts").dataType == TimestampType, df.schema("ts").dataType.toString)
      assert(df.select(unix_micros(col("ts"))).head().getLong(0) == micros)
    }
  }

  test("persist pins data: cached frame survives source deletion (no re-scan)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftsess").toString
    Seq(1L, 2L, 3L).toDF("v").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val ctx = new GraftContext(spark)
    val df = ctx.persist(spark.read.parquet(s"$dir/t.parquet"))
    assert(df.count() == 3)
    // Delete the files behind Spark's back (a same-session Spark overwrite
    // would trigger refreshByPath and legitimately recache): any re-scan
    // now throws FileNotFound, so a correct answer proves cache service.
    import scala.reflect.io.Directory
    new Directory(new java.io.File(s"$dir/t.parquet")).deleteRecursively()
    assert(df.count() == 3, "persisted frame must not re-scan the source")
    assert(df.agg(sum("v")).head.getLong(0) == 6L)
    ctx.stop()
  }

  test("scatter ships a model once and executors read it") {
    val ctx = new GraftContext(spark)
    val b = ctx.scatter(Array(1.0, 2.0, 3.0))
    val s = spark.sparkContext.parallelize(1 to 3, 3).map(i => b.value(i - 1)).sum()
    assert(s == 6.0)
    ctx.stop()
  }

  test("iterate: 10 steps converge, lineage stays bounded via checkpoints") {
    val ctx = new GraftContext(spark)
    val init = spark.range(1024).toDF("v")
    // halve the row count every step: after 10 steps exactly 1 row
    val (out, _) = ctx.iterate(init, Nil, steps = 10, checkpointEvery = 3) { (cur, _, _) =>
      cur.filter(col("v") % 2 === 0).select((col("v") / 2).cast("long").as("v"))
    }
    assert(out.count() == 1)
    // localCheckpoint truncation: the final plan must not contain the
    // full 10-step filter chain
    val planDepth = out.queryExecution.optimizedPlan.toString.linesIterator.size
    assert(planDepth < 12, s"lineage not truncated: plan depth $planDepth")
    ctx.stop()
  }

  test("job audit: iterate observing k aggregates runs 1 job for init plus 1 per step") {
    val ctx = new GraftContext(spark)
    val init = spark.range(0, 1024, 1, 4).toDF("v")
    val seen = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val ((out, last), jobs) = countJobs(ctx.iterate(init,
        Seq(count(lit(1)).as("n"), sum(col("v")).as("s"), max(col("v")).as("m")),
        steps = 5, checkpointEvery = 2) { (cur, stats, _) =>
      seen += stats.getLong(0) -> stats.getLong(1)
      cur.filter(col("v") % 2 === 0).select((col("v") / 2).cast("long").as("v"))
    })
    assert(jobs == 1 + 5, s"iterate ran $jobs jobs")
    // each step saw its input's (n, Σ): {0..2^(10-i)-1} has n = 2^(10-i)
    val expect = (0 until 5).map { i => val n = 1024L >> i; n -> n * (n - 1) / 2 }
    assert(seen.toSeq == expect, s"observed $seen")
    assert(last.getLong(0) == 32L && last.getLong(1) == 31L * 32 / 2 && last.getLong(2) == 31L)
    assert(last.getAs[Long]("n") == 32L, "the stats row carries the aggregates' names")
    // the final frame is served from its cache: no job re-derives it
    val (n, reread) = countJobs(out.collect().length)
    assert(n == 32 && reread == 1, s"re-reading the final frame ran $reread jobs")
    ctx.stop()
  }

  test("observed steps leave the session serializable for closures that capture it") {
    // spark.ml's LinearSVC model captures the session in its scoring
    // closure (ml03); Spark's Observation API would attach a
    // non-serializable manager to the session and break that closure
    val ctx = new GraftContext(spark)
    ctx.iterate(spark.range(0, 64, 1, 2).toDF("v"), Seq(count(lit(1)).as("n")), steps = 1) {
      (cur, _, _) => cur.filter(col("v") > 3)
    }
    ctx.stop()
    new java.io.ObjectOutputStream(new java.io.ByteArrayOutputStream()).writeObject(spark)
  }

  test("job audit: ctx.persist materializes in 1 job") {
    val ctx = new GraftContext(spark)
    val (df, jobs) = countJobs(ctx.persist(spark.range(0, 5000, 1, 4).selectExpr("id * 3 AS x")))
    assert(jobs == 1, s"persist ran $jobs jobs")
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    assert(df.queryExecution.withCachedData.collectFirst {
      case r: InMemoryRelation => r.cacheBuilder.isCachedColumnBuffersLoaded
    }.contains(true), "persist left the cache unfilled")
    ctx.stop()
  }

  test("job audit: ctx.persist of a one-groupBy frame runs 3 jobs") {
    // map stage, the cache fill AQE plans as a stage of its own, and the
    // materializing pass — the baseline a 2-job materialization must beat
    GraftContext.scoped(spark) { ctx =>
      val (df, jobs) = countJobs(ctx.persist(spark.range(0, 5000, 1, 4)
        .groupBy((col("id") % 7).as("k")).agg(count(lit(1)).as("n"))))
      assert(jobs == 3, s"persist ran $jobs jobs")
      val (n, reread) = countJobs(df.collect().length)
      assert(n == 7 && reread == 1, s"re-reading the pinned frame ran $reread jobs")
    }
  }

  test("an observed step over an empty frame gets n = 0 and a null sum, without throwing or hanging") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val schema = StructType(Seq(StructField("v", LongType)))
    val inits = Seq(
      "filtered to empty" -> spark.range(0, 100, 1, 2).toDF("v").filter(col("v") < 0),
      "no partitions" -> spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema))
    for ((what, init) <- inits) {
      val ctx = new GraftContext(spark)
      val steps = scala.collection.mutable.ArrayBuffer[Row]()
      val run = Future(ctx.iterate(init,
          Seq(count(lit(1)).as("n"), sum(col("v")).as("s")), steps = 2) { (cur, stats, _) =>
        steps += stats
        cur.filter(col("v") > 0)
      })
      val (out, last) = Await.result(run, 2.minutes)
      (steps :+ last).foreach { r =>
        assert(r.getLong(0) == 0L && r.isNullAt(1), s"$what: observed $r")
      }
      assert(out.count() == 0)
      ctx.stop()
    }
  }

  test("iterative trim matches a driver-side reference loop") {
    val got = IterativeQueries.iterativeTrim(spark, sfDir).head()
    // reference computation, single-node
    var cents = graft.core.Tables.orders(spark, sfDir)
      .select(round(col("o_totalprice") * 100).cast("long").as("c"))
      .collect().map(_.getLong(0)).toSeq
    for (_ <- 1 to 3) {
      val n = cents.size; val s = cents.sum
      cents = cents.filter(c => c * 2 * n <= 3 * s)
    }
    assert(got.getLong(0) == cents.size.toLong)
    assert(got.getLong(1) == cents.sum)
  }

  test("job audit: i01 runs one job per materialized frame") {
    // the parquet reader's schema job, then init and 3 steps, one
    // observed pass each; the output is a driver-side row (no job)
    val (rows, jobs) = countJobs(IterativeQueries.iterativeTrim(spark, sfDir).collect())
    assert(rows.length == 1)
    assert(jobs == 1 + 1 + 3, s"i01 ran $jobs jobs")
  }

  test("i06 k-core peel matches a local reference loop and strictly shrinks") {
    val got = IterativeQueries.kcorePeel(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    // same generator, peeled locally
    var edges = (0L until 600L).map { e =>
      val u = (e * 2 * 1103515245L + 17L) % 2147483647L % 200L
      val v = ((e * 2 + 1) * 1103515245L + 17L) % 2147483647L % 200L
      (math.min(u, v), math.max(u, v))
    }.filter(p => p._1 != p._2).distinct
    val expect = (1 to 3).map { r =>
      val deg = edges.flatMap(p => Seq(p._1, p._2)).groupBy(identity)
        .map { case (v, xs) => v -> xs.size }
      val keep = deg.filter(_._2 >= 4).keySet
      edges = edges.filter(p => keep(p._1) && keep(p._2))
      (r.toLong, keep.size.toLong, edges.size.toLong)
    }
    assert(got.toSeq == expect, s"got ${got.toSeq}")
    // the peel must do real work on this graph at every round
    assert(expect.map(_._2).distinct.size == 3, "node counts must strictly shrink")
  }
}
