package graft.ml

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import graft.core.Tables
import graft.functions.ArrayDotLong
import graft.operators.{Similarity, TextSim}

/** Distributed Lloyd k-means over the embeddings table — the clustering
  * primitive a training-data pipeline uses to structure a corpus (topic
  * balancing, diversity sampling, IVF codebook training for
  * [[graft.operators.Similarity.ivfTopK]]). Reference analog: the
  * iterative dask-ml jobs the reference runs over its futures facade
  * (`/root/reference/README.md:277-295` trains an estimator, and
  * Wukong's paper workloads include iterative ML); re-expressed
  * Spark-first.
  *
  * Distributed shape — the canonical scalable k-means, ONE Spark job per
  * Lloyd round (the corpus is quantized once and cached as JVM rows, so
  * no round re-plans a Catalyst query over a fresh literal codebook):
  *  - ASSIGN is map-only: the k×64 codebook rides in the task closure;
  *    each row takes the packed argmin over `d²·8 + id` (the e05 trick —
  *    exact integers, deterministic ties toward the lower cell id). The
  *    corpus is never shuffled to be assigned.
  *  - UPDATE is fused into the same tasks, not a shuffle: each task folds
  *    its assigned rows into per-cell partial sums (members, Σvec_id,
  *    per-dim Σ and count — k·64 numbers regardless of corpus size), and
  *    the driver merges the task results into the next codebook (the
  *    same small-model residency as [[Predict]]'s broadcast-score
  *    contract). The final round's sums also carry every per-cell
  *    statistic ml04 and e06 report.
  *  - Centroid components are FLOORED integer means (`floor(sum/cnt)`):
  *    sums of quantized ints are < 2^53, so the double division is
  *    correctly rounded and bit-equal on any IEEE engine — which is what
  *    makes a 2-iteration clustering exact-oracle checkable end to end.
  *
  * Empty cells simply drop out of the codebook (their id is not
  * reassigned — the packed key keeps ORIGINAL cell ids), matching the
  * oracle's GROUP BY semantics.
  */
object Cluster {
  type Q = (SparkSession, String) => DataFrame

  private val KPack = 8L

  /** A staged corpus row: the quantized vector and its squared norm. */
  private[graft] final case class Staged(vecId: Long, qv: Array[Long], qn: Long)

  /** A codebook: (cell id, integer centroid), sorted by cell id. */
  private[graft] type Cents = Seq[(Long, Array[Long])]

  /** Integer dot over the common prefix — [[ArrayDotLong]]'s semantics. */
  private def dot(a: Array[Long], b: Array[Long]): Long = {
    val n = math.min(a.length, b.length)
    var acc = 0L; var i = 0
    while (i < n) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** The packed argmin `min_j (d²(q, C_j)·8 + j) % 8` over a codebook
    * given as (id, centroid, ‖centroid‖²): exact integers, ties toward
    * the lower cell id — the oracle's `min(... * 8 + c.cell) % 8`. */
  private[graft] def nearest(s: Staged, book: Array[(Long, Array[Long], Long)]): Int = {
    var best = Long.MaxValue; var j = 0
    while (j < book.length) {
      val (id, cv, cn) = book(j)
      val key = (s.qn - 2L * dot(s.qv, cv) + cn) * KPack + id
      if (key < best) best = key
      j += 1
    }
    (best % KPack).toInt
  }

  /** Per-cell partial sums of one Lloyd pass — members, Σvec_id, and
    * per-dim Σ and count. Each task folds its rows into one; the driver
    * merges the task results. */
  private[graft] final class CellSums(k: Int) extends Serializable {
    val n = new Array[Long](k)
    val sumId = new Array[Long](k)
    private val sum = Array.fill(k)(Array.emptyLongArray)
    private val cnt = Array.fill(k)(Array.emptyLongArray)

    private def widen(c: Int, dims: Int): Unit = if (sum(c).length < dims) {
      sum(c) = java.util.Arrays.copyOf(sum(c), dims)
      cnt(c) = java.util.Arrays.copyOf(cnt(c), dims)
    }

    def add(c: Int, s: Staged): this.type = {
      n(c) += 1; sumId(c) += s.vecId
      widen(c, s.qv.length)
      var d = 0
      while (d < s.qv.length) { sum(c)(d) += s.qv(d); cnt(c)(d) += 1; d += 1 }
      this
    }

    def merge(o: CellSums): this.type = {
      for (c <- 0 until k) {
        n(c) += o.n(c); sumId(c) += o.sumId(c)
        widen(c, o.sum(c).length)
        for (d <- o.sum(c).indices) { sum(c)(d) += o.sum(c)(d); cnt(c)(d) += o.cnt(c)(d) }
      }
      this
    }

    /** The next codebook: FLOORED integer means of every non-empty
      * cell. Empty cells drop out and keep their ids unassigned. */
    def cents: Cents = (0 until k).filter(n(_) > 0).map { c =>
      c.toLong -> Array.tabulate(sum(c).length)(d =>
        math.floor(sum(c)(d).toDouble / cnt(c)(d)).toLong)
    }
  }

  /** `iters` Lloyd rounds from the deterministic `vec_id < k` seed over
    * the corpus staged once as cached JVM rows (quantization stays the
    * Catalyst expression the oracle mirrors). Staging collects the seed;
    * then each round is ONE job: every task assigns its rows against the
    * codebook in its closure and folds them into a [[CellSums]], and the
    * k-sized task results merge on the driver. Returns the final round's
    * assignment and its sums, whose floored means are the final
    * codebook; `keep` leaves that assignment cached. */
  private def lloyd(emb: DataFrame, k: Int, iters: Int,
                    keep: Boolean): (RDD[(Staged, Int)], CellSums) = {
    require(k <= KPack, s"packed argmin reserves ${KPack} cell ids")
    require(iters >= 1, s"iters must be positive, got $iters")
    val staged = emb
      .select(col("vec_id"), Similarity.quantize(col("embedding")).as("qv"))
      .queryExecution.toRdd
      .map { r => val qv = r.getArray(1).toLongArray(); Staged(r.getLong(0), qv, dot(qv, qv)) }
      .persist(StorageLevel.MEMORY_AND_DISK)
    var cents: Cents = staged.filter(_.vecId < k).map(s => s.vecId -> s.qv)
      .collect().sortBy(_._1).toSeq
    require(cents.nonEmpty, s"no seed rows: the corpus has no vec_id < $k")
    var last: (RDD[(Staged, Int)], CellSums) = null
    for (round <- 1 to iters) {
      val book = cents.map { case (id, cv) => (id, cv, dot(cv, cv)) }.toArray
      val assigned = staged.map(s => (s, nearest(s, book)))
      if (keep && round == iters) assigned.persist(StorageLevel.MEMORY_AND_DISK)
      val sums = assigned.aggregate(new CellSums(k))((acc, r) => acc.add(r._2, r._1), _ merge _)
      last = (assigned, sums)
      cents = sums.cents
    }
    staged.unpersist(false)
    last
  }

  private val assignSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("qv", ArrayType(LongType)),
    StructField("qn", LongType), StructField("cell", LongType)))

  /** The assignment after `iters` Lloyd rounds as (vec_id, qv, qn, cell)
    * rows, cached by the final round's job so downstream consumers — e06's
    * within-cluster self-join, e11's profile — never re-drive the rounds;
    * with the final round's sums. */
  private[graft] def fitted(emb: DataFrame, k: Int, iters: Int): (DataFrame, CellSums) = {
    val (assigned, last) = lloyd(emb, k, iters, keep = true)
    val rows = assigned.map { case (s, c) => Row(s.vecId, s.qv, s.qn, c.toLong) }
    (emb.sparkSession.createDataFrame(rows, assignSchema), last)
  }

  /** The assignment after `iters` Lloyd rounds from the deterministic
    * `vec_id < k` seed: (vec_id, qv, qn, cell), materialized. */
  private[graft] def assignDF(emb: DataFrame, k: Int = 8, iters: Int = 2): DataFrame =
    fitted(emb, k, iters)._1

  /** `iters` Lloyd iterations from the deterministic `vec_id < k` seed;
    * returns per-cell membership stats of the LAST assignment plus the
    * final codebook's component-sum checksum — every column an exact
    * integer. All of it is read off the final round's sums: the ≤ k-row
    * output is built on the driver. */
  def kmeans(emb: DataFrame, k: Int = 8, iters: Int = 2): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val (_, last) = lloyd(emb, k, iters, keep = false)
    last.cents.map { case (cell, cv) =>
      (cell, last.n(cell.toInt), last.sumId(cell.toInt), cv.sum)
    }.toDF("cell", "n_members", "sum_vec_id", "cent_sum")
  }

  def kmeansQuery(s: SparkSession, d: String): DataFrame =
    kmeans(TextSim.spread(Tables.embeddings(s, d)), k = 8, iters = 2)

  /** e06: SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540 — public method): k-means the embedding corpus,
    * then prune, WITHIN each cluster only, every vector that has a
    * lower-id near-duplicate at cosine ≥ τ; survivors keep the corpus.
    * Composes the gate's own primitives — the ml04 Lloyd assignment and
    * the e04 quantized-cosine scorer (the cosine is the same fixed IEEE
    * expression `dot/(√qnₐ·√qn_b)` mirrored bit-for-bit in the oracle).
    *
    * Scale story: the cluster count is THE knob — per-cluster pairwise
    * work is O(N²/k), so production sizes k ∝ N (SemDeDup itself runs
    * 50k clusters over 5B embeddings; cf. [[Similarity.numCellsFor]]'s
    * occupancy law for the same reasoning on IVF cells) and the
    * self-join below is an equi-join on `cell` — candidates never leave
    * their cluster, there is no global all-pairs anywhere. τ = 0.3
    * plays the role ~0.95 would on a real corpus (the synthetic
    * embeddings are mean-centered; max pairwise cos ≈ 0.46 — same
    * calibration note as e04). */
  def semanticDedup(emb: DataFrame, tau: Double = 0.3,
                    k: Int = 8, iters: Int = 2,
                    occupancyCap: Long = 4096L): DataFrame = {
    val (assigned, last) = fitted(emb, k, iters)
    val cosOf = ArrayDotLong.dotLong(col("qva"), col("qvb")).cast("double") /
      (sqrt(col("qna").cast("double")) * sqrt(col("qnb").cast("double")))
    // within-cell pairwise scoring, vectors carried through the equi-join
    def pairsExact(df: DataFrame): DataFrame =
      df.select(col("vec_id").as("va"), col("qv").as("qva"),
                col("qn").as("qna"), col("cell"))
        .join(df.select(col("vec_id").as("vb"), col("qv").as("qvb"),
                        col("qn").as("qnb"), col("cell")), Seq("cell"))
        .filter(col("va") < col("vb"))
        .withColumn("cos", cosOf).filter(col("cos") >= tau)
        .select(col("vb"))
    // cell-occupancy audit: ≤ k counts, read off the final Lloyd round.
    // A dense directional core piles into one cell no matter how the
    // occupancy law sizes k (the e04 failure shape); cells above the cap
    // spill their pairs through the CONSERVATIVE PQ pre-verify
    // ([[Similarity.pqPreVerify]] — no false negatives) so the wasted
    // below-threshold candidates are pruned before any vector ships.
    // Output is bit-identical at any cap.
    val bigCells = last.n.indices.filter(c => last.n(c) > occupancyCap).map(_.toLong)
    val pruned =
      (if (bigCells.isEmpty) pairsExact(assigned)
       else {
         val small = assigned.filter(!col("cell").isin(bigCells: _*))
         val big = assigned.filter(col("cell").isin(bigCells: _*))
         val summ = Similarity.pqSummaryOf(emb,
           emb.join(big.select(col("vec_id")), Seq("vec_id"), "left_semi"))
         val candBig = big.select(col("cell"), col("vec_id").as("vec_a"))
           .join(big.select(col("cell").as("cell2"), col("vec_id").as("vec_b")),
                 col("cell") === col("cell2") && col("vec_a") < col("vec_b"))
           .select(col("vec_a"), col("vec_b"))
         val kept = Similarity.pqPreVerify(candBig, summ,
           Similarity.pqCentDotTable(emb), tau)
         val exactBig = kept   // survivors fetch vectors once per side
           .join(assigned.select(col("vec_id").as("vec_a"), col("qv").as("qva"),
                                 col("qn").as("qna")), "vec_a")
           .join(assigned.select(col("vec_id").as("vec_b"), col("qv").as("qvb"),
                                 col("qn").as("qnb")), "vec_b")
           .withColumn("cos", cosOf).filter(col("cos") >= tau)
           .select(col("vec_b").as("vb"))
         pairsExact(small).unionByName(exactBig)
       }).distinct()
    assigned.join(pruned, assigned("vec_id") === pruned("vb"), "left_anti")
      .select(col("vec_id"), col("cell"))
  }

  /** e06 entry: runs the occupancy-scaled cell count
    * ([[Similarity.numCellsFor]] — resolves to the pinned 8 cells at
    * every gate sf, grows linearly with N, the e04/e05 discipline). */
  def semanticDedupQuery(s: SparkSession, d: String): DataFrame = {
    val emb = TextSim.spread(Tables.embeddings(s, d))
    val k = Similarity.requirePinned("e06", Similarity.numCellsFor(
      emb.select(col("vec_id")).count()), 8)
    semanticDedup(emb, k = k)
  }

  /** e11: clustering QUALITY profile — per-cell inertia (Σ‖q − c‖²),
    * squared radius (max member distance) and membership, the
    * k-means diagnostics (elbow curves, Davies–Bouldin inputs, cell
    * rebalancing decisions) read off a fitted codebook. Every distance
    * is EXACT INTEGER (quantized vectors × floored integer centroids:
    * qn − 2·q·c + cn), so the profile hash-matches the oracle's
    * closed-form reconstruction of the same two Lloyd rounds. Scale
    * shape: the codebook broadcasts (k rows), distances evaluate
    * map-side in the fused dot-product kernel, and one k-row aggregate
    * leaves the cluster — the corpus never shuffles. */
  def clusterProfile(emb: DataFrame, k: Int = 8, iters: Int = 2): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val (lastAssign, last) = fitted(emb, k, iters)
    // ≤ k rows (one per non-empty cell), so the broadcast hint is
    // bounded by construction, whatever the corpus size
    val centDf = last.cents.toDF("cell", "cv")
    val sq = col("qn") -
      lit(2L) * graft.functions.ArrayDotLong.dotLong(col("qv"), col("cv")) +
      graft.functions.ArrayDotLong.dotLong(col("cv"), col("cv"))
    lastAssign
      .join(broadcast(centDf), "cell")
      .withColumn("sq", sq)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"),
           sum(col("sq")).as("inertia"),
           max(col("sq")).as("max_sq_radius"))
  }

  def clusterProfileQuery(s: SparkSession, d: String): DataFrame =
    clusterProfile(TextSim.spread(Tables.embeddings(s, d)), k = 8, iters = 2)

  val queries: Map[String, Q] = Map(
    "e11_cluster_profile" -> (clusterProfileQuery _),
    "ml04_kmeans" -> (kmeansQuery _),
    "e06_semantic_dedup" -> (semanticDedupQuery _),
  )

  /** Unrolled 2-iteration Lloyd assignment CTE chain — ONE definition
    * shared by the ml04 and e06 oracles, so the two entries can never
    * assert against divergent clusterings: same quantization, same
    * packed argmin, same floored integer means (`//`-free: floor of a
    * correctly rounded double division, identical to Spark's). Ends at
    * `a2` = the final (vec_id, qv, cell) assignment. */
  private val assignCte =
    """WITH q AS (SELECT vec_id,
              list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000 + 0.5) AS BIGINT)) AS qv
            FROM embeddings),
          dims AS (SELECT UNNEST(generate_series(1, 64)) AS i),
          c0 AS (SELECT vec_id AS cell, qv AS cv FROM q WHERE vec_id < 8),
          a1 AS (SELECT v.vec_id, v.qv,
                   CAST(min((list_dot_product(v.qv, v.qv)
                             - 2*list_dot_product(v.qv, c.cv)
                             + list_dot_product(c.cv, c.cv)) * 8 + c.cell) % 8
                        AS BIGINT) AS cell
                 FROM q v, c0 c GROUP BY v.vec_id, v.qv),
          c1 AS (SELECT cell, list(comp ORDER BY i) AS cv FROM (
                   SELECT a1.cell, d.i,
                          CAST(floor(CAST(sum(a1.qv[d.i]) AS DOUBLE) / count(*)) AS BIGINT) AS comp
                   FROM a1, dims d GROUP BY a1.cell, d.i) t
                 GROUP BY cell),
          a2 AS (SELECT v.vec_id, v.qv,
                   CAST(min((list_dot_product(v.qv, v.qv)
                             - 2*list_dot_product(v.qv, c.cv)
                             + list_dot_product(c.cv, c.cv)) * 8 + c.cell) % 8
                        AS BIGINT) AS cell
                 FROM q v, c1 c GROUP BY v.vec_id, v.qv)"""

  val oracles: Map[String, String] = Map(
    // same two Lloyd rounds, same floored integer codebook, same exact
    // integer distances — inertia/radius are pure BIGINT sums
    "e11_cluster_profile" -> (assignCte + """,
          c2 AS (SELECT cell, list(comp ORDER BY i) AS cv FROM (
                   SELECT a2.cell, d.i,
                          CAST(floor(CAST(sum(a2.qv[d.i]) AS DOUBLE) / count(*)) AS BIGINT) AS comp
                   FROM a2, dims d GROUP BY a2.cell, d.i) t
                 GROUP BY cell)
          SELECT a2.cell, count(*) AS n_members,
                 CAST(sum(CAST(list_dot_product(a2.qv, a2.qv) AS BIGINT)
                          - 2*CAST(list_dot_product(a2.qv, c2.cv) AS BIGINT)
                          + CAST(list_dot_product(c2.cv, c2.cv) AS BIGINT)) AS BIGINT) AS inertia,
                 CAST(max(CAST(list_dot_product(a2.qv, a2.qv) AS BIGINT)
                          - 2*CAST(list_dot_product(a2.qv, c2.cv) AS BIGINT)
                          + CAST(list_dot_product(c2.cv, c2.cv) AS BIGINT)) AS BIGINT) AS max_sq_radius
          FROM a2 JOIN c2 USING (cell)
          GROUP BY a2.cell"""),
    "ml04_kmeans" -> (assignCte + """,
          c2 AS (SELECT cell, list(comp ORDER BY i) AS cv FROM (
                   SELECT a2.cell, d.i,
                          CAST(floor(CAST(sum(a2.qv[d.i]) AS DOUBLE) / count(*)) AS BIGINT) AS comp
                   FROM a2, dims d GROUP BY a2.cell, d.i) t
                 GROUP BY cell)
          SELECT a2.cell, count(*) AS n_members,
                 CAST(sum(a2.vec_id) AS BIGINT) AS sum_vec_id,
                 CAST(max(list_sum(c2.cv)) AS BIGINT) AS cent_sum
          FROM a2 JOIN c2 USING (cell)
          GROUP BY a2.cell"""),
    // within-cluster pairwise only (equi-join on cell), cosine as the
    // same fixed IEEE expression as the Spark side; prune any vector
    // with a lower-id near-dup in its cluster, survivors pass through.
    "e06_semantic_dedup" -> (assignCte + """,
          scored AS (SELECT x.vec_id AS va, y.vec_id AS vb,
                       CAST(list_dot_product(x.qv, y.qv) AS DOUBLE)
                       / (sqrt(CAST(list_dot_product(x.qv, x.qv) AS DOUBLE))
                          * sqrt(CAST(list_dot_product(y.qv, y.qv) AS DOUBLE))) AS cos
                     FROM a2 x JOIN a2 y ON x.cell = y.cell AND x.vec_id < y.vec_id),
          pruned AS (SELECT DISTINCT vb FROM scored WHERE cos >= 0.3)
          SELECT a2.vec_id, a2.cell
          FROM a2 LEFT JOIN pruned ON a2.vec_id = pruned.vb
          WHERE pruned.vb IS NULL"""),
  )
}
