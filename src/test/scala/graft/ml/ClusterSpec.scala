package graft.ml

import graft.SparkSpec
import graft.core.Tables
import graft.functions.ArrayDotLong
import graft.operators.{Similarity, TextSim}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The fused Lloyd kernel (one job per round, JVM assignment, per-task
  * cell sums) against the Catalyst formulation it replaced: a `least()`
  * packed argmin over literal codebook columns, and a posexplode +
  * (cell, dim) groupBy update collected to the driver. Both are kept here
  * as the reference; they must agree bit for bit. */
class ClusterSpec extends SparkSpec {

  private def staged(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), Similarity.quantize(col("embedding")).as("qv"))
      .withColumn("qn", ArrayDotLong.dotLong(col("qv"), col("qv")))

  /** Reference assignment: packed argmin `d²·8 + id` as one Catalyst column. */
  private def cellOf(cents: Seq[(Long, Array[Long])]): Column = {
    val keys = cents.map { case (id, cv) =>
      (col("qn") - lit(2L) * ArrayDotLong.dotLong(col("qv"), lit(cv)) + lit(cv.map(x => x * x).sum)) *
        lit(8L) + lit(id)
    }
    (if (keys.size == 1) keys.head else least(keys: _*)) % lit(8L)
  }

  /** Reference update: partial-aggregated (cell, dim) sums, floored means. */
  private def updateCents(assigned: DataFrame): Seq[(Long, Array[Long])] =
    assigned
      .select(col("cell"), posexplode(col("qv")).as(Seq("dim", "v")))
      .groupBy(col("cell"), col("dim"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("c"))
      .collect()
      .groupBy(_.getAs[Long]("cell"))
      .toSeq
      .map { case (cell, rows) =>
        val cv = new Array[Long](rows.map(_.getAs[Int]("dim")).max + 1)
        rows.foreach { r =>
          cv(r.getAs[Int]("dim")) =
            math.floor(r.getAs[Long]("s").toDouble / r.getAs[Long]("c")).toLong
        }
        cell -> cv
      }
      .sortBy(_._1)

  /** Reference rounds: (final assignment vec_id → cell, final codebook). */
  private def referenceLloyd(emb: DataFrame, k: Int, iters: Int)
      : (Map[Long, Long], Seq[(Long, Array[Long])]) = {
    val st = staged(emb).cache()
    val seed = st.filter(col("vec_id") < k).select(col("vec_id"), col("qv")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).sortBy(_._1).toSeq
    val cents = (1 until iters).foldLeft(seed)((c, _) => updateCents(st.withColumn("cell", cellOf(c))))
    val last = st.withColumn("cell", cellOf(cents)).cache()
    val assign = last.select("vec_id", "cell").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val out = (assign, updateCents(last))
    last.unpersist(); st.unpersist()
    out
  }

  private def show(c: Seq[(Long, Array[Long])]) = c.map { case (id, cv) => id -> cv.toSeq }

  /** 64-dim rows (vec_id, embedding) whose quantized first component is
    * `x` and the rest zero. */
  private def line(xs: Seq[(Long, Int)]): DataFrame = {
    val s = spark; import s.implicits._
    xs.map { case (id, x) => id -> Array.tabulate(64)(d => if (d == 0) x / 1000.0 else 0.0) }
      .toDF("vec_id", "embedding")
  }

  test("fused rounds give the Catalyst rounds' codebook and assignment on the fixture embeddings") {
    val emb = TextSim.spread(Tables.embeddings(spark, sfDir))
    for (iters <- Seq(1, 2, 3)) {
      val (refAssign, refCents) = referenceLloyd(emb, 8, iters)
      val (df, last) = Cluster.fitted(emb, 8, iters)
      val got = df.select("vec_id", "cell").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == refAssign, s"iters=$iters: assignments differ")
      assert(show(last.cents) == show(refCents), s"iters=$iters: codebooks differ")
      // ml04's rows are the same sums, read off the final round
      val km = Cluster.kmeans(emb, 8, iters).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val want = refAssign.groupBy(_._2).map { case (cell, m) =>
        (cell, m.size.toLong, m.keys.sum, refCents.toMap.apply(cell).sum) }.toSet
      assert(km == want, s"iters=$iters: kmeans rows differ")
    }
  }

  test("the JVM packed argmin assigns every row like the Catalyst column, ties included") {
    val fixture = TextSim.spread(Tables.embeddings(spark, sfDir))
    // ties: cells 1 and 2 share a centroid (every row ties between them),
    // and x = 1 and x = 3 sit exactly between two distinct centroids
    val ties = line(Seq(0L -> 0, 1L -> 2, 2L -> 2, 3L -> 4, 4L -> 1, 5L -> 3, 6L -> -1, 7L -> 2))
    for ((what, emb, k) <- Seq(("fixture", fixture, 8), ("ties", ties, 4))) {
      val st = staged(emb)
      val cents = st.filter(col("vec_id") < k).select(col("vec_id"), col("qv")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).sortBy(_._1).toSeq
      val book = cents.map { case (id, cv) => (id, cv, cv.map(x => x * x).sum) }.toArray
      val rows = st.withColumn("cell", cellOf(cents)).collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        val s = Cluster.Staged(r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2))
        assert(Cluster.nearest(s, book).toLong == r.getLong(3), s"$what: vec ${s.vecId}")
      }
      if (what == "ties") {
        val cell = rows.map(r => r.getLong(0) -> r.getLong(3)).toMap
        assert(cell(1) == 1 && cell(2) == 1 && cell(7) == 1, "equal centroids: the lower id wins")
        assert(cell(4) == 0 && cell(5) == 1, "equidistant rows go to the lower id")
      }
    }
  }

  test("job audit: kmeans runs two jobs to stage the corpus plus one per Lloyd round") {
    // staging is `spread`'s repartition (its map stage) and the cached
    // scan that collects the seed; the output is built on the driver
    val emb = TextSim.spread(Tables.embeddings(spark, sfDir))
    for (iters <- Seq(1, 2, 3)) {
      val (rows, jobs) = countJobs(Cluster.kmeans(emb, 8, iters).collect())
      assert(rows.nonEmpty)
      assert(jobs == 2 + iters, s"iters = $iters: kmeans ran $jobs jobs")
    }
  }
}
