package graft.core

import graft.{SparkEntry, SparkSpec}
import graft.streaming.Streams
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.storage.StorageLevel

/** The scopes: [[GraftContext.scoped]] owns every DataFrame pin an entry
  * makes, [[GraftSession.withConf]] owns a session conf override, and
  * [[Streams.drive]] owns a streaming query, its sink view and its
  * fixture confs. Each undoes its effect when the body returns or
  * throws. */
class ScopeSpec extends SparkSpec {
  private def cache = spark.sharedState.cacheManager

  /** Every entry whose operators pin a DataFrame. */
  private val pinning = Seq(
    "a37_corrcoef", "d04_futures_map",
    "e03_ann_bucket", "e04_embed_neardup", "e05_ivf_ann", "e08_pq_adc", "e09_ivf_pq",
    "i01_iterative_trim", "i02_pagerank", "i03_triangles", "i04_bfs_layers",
    "i05_sssp", "i06_kcore",
    "ml06_kfold_cv", "ml10_parallel_sgd",
    "t07_lsh_buckets", "t09_neardup_pairs", "t21_dedup_clusters", "t30_prefix_join",
    "t31_kmv_union", "t32_surprisal", "t34_leak_split", "t38_editdist_pairs",
    "t44_containment", "t46_js_divergence", "t47_cms_sketch", "t48_bm25",
    "t54_dsir", "t57_bpe_train")

  test("every pinning entry leaves the cache empty once its result is written") {
    spark.catalog.clearCache()
    val held = pinning.flatMap { name =>
      SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      if (cache.isEmpty) None else { spark.catalog.clearCache(); Some(name) }
    }
    assert(held.isEmpty, s"entries left pins behind: ${held.mkString(", ")}")
  }

  test("pin starts no job; a scope whose body throws still releases pin and persist") {
    spark.catalog.clearCache()
    val boom = intercept[IllegalStateException] {
      GraftContext.scoped(spark) { ctx =>
        val (lazyPin, jobs) = countJobs(ctx.pin(spark.range(0, 100, 1, 2).toDF("v")))
        assert(jobs == 0, s"pin ran $jobs jobs")
        val eager = ctx.persist(spark.range(0, 100, 1, 2).selectExpr("id * 2 AS w"))
        assert(Seq(lazyPin, eager).forall(_.storageLevel != StorageLevel.NONE))
        throw new IllegalStateException("boom")
      }
    }
    assert(boom.getMessage == "boom")
    assert(cache.isEmpty, "pins survived the throw")
  }

  test("release drops one pin before the scope ends") {
    spark.catalog.clearCache()
    GraftContext.scoped(spark) { ctx =>
      val a = ctx.pin(spark.range(0, 10, 1, 1).toDF("a"))
      val b = ctx.pin(spark.range(0, 20, 1, 1).toDF("b"))
      ctx.release(a)
      assert(a.storageLevel == StorageLevel.NONE && b.storageLevel != StorageLevel.NONE)
    }
    assert(cache.isEmpty)
  }

  test("withConf restores a set key after a throw and unsets a key that was unset") {
    val set = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(set)
    intercept[IllegalStateException] {
      GraftSession.withConf(spark, set -> "3") {
        assert(spark.conf.get(set) == "3")
        throw new IllegalStateException("boom")
      }
    }
    assert(spark.conf.get(set) == before)

    val unset = "graft.scope.spec.unset"
    assert(spark.conf.getOption(unset).isEmpty)
    val out = GraftSession.withConf(spark, unset -> "on")(spark.conf.get(unset))
    assert(out == "on")
    assert(spark.conf.getOption(unset).isEmpty, "a key that was unset must be unset again")
  }

  /** The session confs a streaming drive sets while its query starts. */
  private val driveConfs = Seq("spark.sql.shuffle.partitions",
    Streams.NoDataBatchOff._1, Streams.RocksDb._1)

  /** What a streaming call left behind: sink views, active queries and
    * changed drive confs. */
  private def streamLeftovers(before: Seq[Option[String]]): Seq[String] =
    spark.catalog.listTables().collect().map(_.name).filter(_.startsWith("graft_st")).toSeq ++
      spark.streams.active.map(q => s"active query ${q.name}") ++
      driveConfs.zip(before).collect {
        case (k, v) if spark.conf.getOption(k) != v => s"$k=${spark.conf.getOption(k)}"
      }

  test("every streaming entry leaves no sink view, no active query and its confs as found") {
    val before = driveConfs.map(spark.conf.getOption)
    val left = Streams.queries.keys.toSeq.sorted.flatMap { name =>
      Streams.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      streamLeftovers(before).map(x => s"$name: $x")
    }
    assert(left.isEmpty, s"streaming entries left state behind:\n${left.mkString("\n")}")
  }

  test("a drive whose micro-batch throws surfaces the message and leaves nothing behind") {
    val before = driveConfs.map(spark.conf.getOption)
    val dir = java.nio.file.Files.createTempDirectory("graft_drive_fail_").resolve("src").toString
    spark.range(0, 10, 1, 1).write.parquet(dir)
    val failOn3 = udf { (v: Long) =>
      if (v == 3L) throw new IllegalStateException("drive boom on row 3") else v }
    val src = spark.readStream.schema("id LONG").parquet(dir).select(failOn3(col("id")).as("v"))
    val err = intercept[StreamingQueryException] {
      Streams.drain(src, "append", Streams.NoDataBatchOff, Streams.RocksDb)
    }
    assert(err.getMessage.contains("drive boom on row 3"), s"original message lost: $err")
    assert(streamLeftovers(before).isEmpty, streamLeftovers(before).mkString(", "))
  }
}
