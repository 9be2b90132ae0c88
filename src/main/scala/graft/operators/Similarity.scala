package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.{GraftContext, Tables}

/** Similarity search over the `embeddings` table (vec_id, embedding
  * FLOAT[64], label) — SURVEY-mandated ANN for the training-data
  * pipeline.
  *
  * Two paths:
  *  - [[bruteKnn]]: exact cosine top-k. The query side is broadcast
  *    (queries are small by definition); the corpus side streams — a
  *    map-side nested loop, no shuffle of the corpus. The baseline.
  *  - [[lshBuckets]] / [[annTopK]]: random-hyperplane LSH — each vector
  *    hashed to a sign-bit bucket (map-only), candidates found by
  *    equi-join on the bucket key. At 100 TB the candidate join touches
  *    only same-bucket pairs (corpus shuffled once on a 4-byte key),
  *    never the all-pairs product. The scale path.
  *
  * Cross-engine determinism: embeddings are quantized to integers
  * (floor(x·1000 + 0.5)), so dot products and norms are exact integer
  * sums in doubles (≤ 2^53) — order-independent and bit-equal to the
  * DuckDB oracle; cosine is then a single deterministic double division.
  * All arithmetic is array expressions (zip_with / aggregate) — codegen,
  * no UDFs.
  */
object Similarity {
  type Q = (SparkSession, String) => DataFrame

  val Scale = 1000

  /** Default hyperplane count (256 buckets) — what the sf-fixture gate
    * oracles pin. NOT a scale constant: see [[numPlanesFor]]. */
  val DefaultPlanes = 8

  /** Plane count scaled to corpus size: the per-bucket self-join costs
    * O(occupancy²) per bucket, so planes must grow with N to keep
    * occupancy ≈ N/2^planes bounded. planes = ceil(log2(N/target)),
    * floored at [[DefaultPlanes]] and capped at 30 (Long bucket ids).
    * A warehouse-scale corpus (N=1e9, target 4096) gets 18 planes /
    * 262k buckets — candidate work stays ~N·occupancy instead of the
    * fixed-256-bucket (N/256)² scale-killer. */
  def numPlanesFor(n: Long, targetOccupancy: Long = 4096L): Int = {
    val needed = math.ceil(
      math.log(math.max(1.0, n.toDouble / targetOccupancy)) / math.log(2.0)).toInt
    math.min(30, math.max(DefaultPlanes, needed))
  }

  /** Per-band plane count scaled to corpus size — [[numPlanesFor]]'s law
    * for the BANDED dedup join. A fixed 4-bit band (16 buckets) makes
    * per-band candidates O(N²/16): the round-12 scaling probe measured
    * exactly that — the e04 pipeline at 16× sf0.1 volume blew up to a
    * 3.42 time-vs-volume exponent and a 3.8 GB candidate shuffle.
    * Holding per-bucket occupancy at `targetOccupancy` instead makes
    * candidates ≈ N·occupancy/2 per band — LINEAR in N. Floored at 4
    * (the fixture-pinned constant, so gate corpora of ≤4·occupancy
    * vectors plan identically to the pinned oracles) and capped at 20
    * (band bucket ids pack into a Long well clear of the sign bit).
    * More planes per band lowers per-band recall; `numBands` recovers
    * it — the standard banding tradeoff, same as MinHash-LSH t06. */
  def planesPerBandFor(n: Long, targetOccupancy: Long = 256L): Int = {
    val needed = math.ceil(
      math.log(math.max(1.0, n.toDouble / targetOccupancy)) / math.log(2.0)).toInt
    math.min(20, math.max(4, needed))
  }

  /** Integer-quantized copy of a float embedding array. */
  def quantize(c: Column): Column =
    transform(c, x => floor(x.cast("double") * Scale + 0.5).cast("long"))

  /** Native fused kernel (graft.functions.ArrayDotLong): one codegen'd
    * loop, no intermediate array — vs `aggregate(zip_with(...))` which
    * allocates a products array per row and runs two lambdas. */
  private def dotInt(a: Column, b: Column): Column =
    graft.functions.ArrayDotLong.dotLong(a, b)

  /** Deterministic hyperplane weights: lcg over (plane, dim) in
    * [-1000, 1000] — identical formula in the oracle SQL. Precomputed on
    * the driver into a LITERAL array per plane, so a plane dot is one
    * fused `array_dot_long` codegen loop over constants instead of
    * per-element modular arithmetic re-evaluated for every row.
    * Exposed package-private so the dense-core fixture generator can
    * plant noise in the exact null space of these planes. */
  private[graft] def planeWeights(p: Int): Array[Long] =
    Array.tabulate(64)(d =>
      ((p.toLong * 64L + d) * 1103515245L + 17L) % 2147483647L % 2001L - 1000L)

  private def planeWeightsLit(p: Int): Column = lit(planeWeights(p))

  /** Sign-bit LSH bucket (0..2^numPlanes-1) for each vector: map-only. */
  def lshBuckets(emb: DataFrame, numPlanes: Int = DefaultPlanes): DataFrame = {
    val q = quantize(col("embedding"))
    val bucket = (0 until numPlanes).map { p =>
      val dot = dotInt(planeWeightsLit(p), q)
      when(dot > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    emb.select(col("vec_id"), bucket.as("bucket"))
  }

  /** Exact cosine top-k for a set of query vectors against the corpus.
    * Queries broadcast; ranking by (cosine desc, vec_id) per query.
    * Norms are computed ONCE per vector before the pairing (each pair
    * then costs a single dot product, not three — the n·k dominant term
    * at any scale); same-bits cosine since sqrt(norm) is unchanged. */
  def bruteKnn(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("q_id"), quantize(col("embedding")).as("qv"))
      .withColumn("qn", dotInt(col("qv"), col("qv")))
    val c = corpus.select(col("vec_id").as("n_id"), quantize(col("embedding")).as("nv"))
      .withColumn("nn", dotInt(col("nv"), col("nv")))
    val cos = dotInt(col("qv"), col("nv")).cast("double") /
      (sqrt(col("qn").cast("double")) * sqrt(col("nn").cast("double")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    // bounded: the caller's query sample (1 in 50 of the corpus at most)
    broadcast(q).crossJoin(c)
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), cos.as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"))
  }

  /** Bucketed ANN: nearest same-bucket neighbor per vector by cosine.
    * One map stage (bucket), one equi-join on bucket, per-bucket ranking.
    * The (vec, bucket) frame feeds both join sides, so it is pinned —
    * otherwise the quantize + numPlanes-hyperplane bucket pipeline
    * recomputes (and recompiles) per branch. */
  def annTopK(emb: DataFrame, k: Int, numPlanes: Int = DefaultPlanes): DataFrame =
    GraftContext.scoped(emb.sparkSession) { ctx =>
      val withB = ctx.pin(emb.select(col("vec_id"), quantize(col("embedding")).as("qv"))
        .withColumn("qn", dotInt(col("qv"), col("qv")))   // norm once per vector
        .join(lshBuckets(emb, numPlanes), "vec_id"))
      val a = withB.select(col("bucket"), col("vec_id").as("q_id"), col("qv"), col("qn"))
      val b = withB.select(col("bucket").as("b2"), col("vec_id").as("n_id"),
                           col("qv").as("nv"), col("qn").as("nn"))
      val cos = dotInt(col("qv"), col("nv")).cast("double") /
        (sqrt(col("qn").cast("double")) * sqrt(col("nn").cast("double")))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
      a.join(b, col("bucket") === col("b2") && col("q_id") =!= col("n_id"))
        .select(col("q_id"), col("n_id"), cos.as("cos"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("q_id"), col("n_id"), col("rank"))
        .localCheckpoint(true)
    }

  /** Banded sign-bit LSH: `numBands` independent buckets per vector, each
    * from `planesPerBand` hyperplane signs — the cosine analog of the
    * minhash band trick. A single 2^planes bucket table trades recall for
    * precision; banding recovers recall (pair collides if ANY band
    * matches) while keeping every candidate an equi-join output.
    *
    * Every band's bucket is its own column over FULLY CONSTANT literal
    * weights (one fused codegen dot per plane — nothing is indexed by a
    * runtime band value), then `stack` unpivots the numBands columns to
    * (band, bucket) rows. stack is a generator but NOT an Explode, so
    * InferFiltersFromGenerate cannot re-derive a pushed-down copy of the
    * bucket pipeline (the t06 lesson); the quantize+dot work stays
    * computed once, in one projection. */
  def bandedLsh(emb: DataFrame, planesPerBand: Int = 4, numBands: Int = 4): DataFrame = {
    val bucketCols = (0 until numBands).map { b =>
      (0 until planesPerBand).map { i =>
        val dot = dotInt(planeWeightsLit(b * planesPerBand + i), col("qv"))
        when(dot > 0, lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ + _).as(s"b$b")
    }
    val stackArgs = (0 until numBands).map(b => s"${b}L, b$b").mkString(", ")
    emb.select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .select(col("vec_id") +: bucketCols: _*)
      .selectExpr("vec_id", s"stack($numBands, $stackArgs) AS (band, bucket)")
  }

  /** Embedding-cosine near-duplicate pairs: banded-LSH candidates
    * (equi-join on (band, bucket) — never all pairs), distinct'd BEFORE
    * the exact cosine so a hot bucket's pair list re-partitions across
    * the cluster, then verified with the exact quantized cosine and kept
    * at `cos >= minCos`. The candidate join moves only (band, bucket,
    * vec_id); the 64-dim vectors ship once per side, joined back on
    * vec_id. Same staging as TextSim.nearDupPairs: the shared frames
    * are pinned and the small pair output is checkpointed. */
  def embedNearDups(emb: DataFrame, minCos: Double,
                    planesPerBand: Int = 4, numBands: Int = 4): DataFrame =
    GraftContext.scoped(emb.sparkSession) { ctx =>
      val withQ = ctx.pin(emb.select(col("vec_id"), quantize(col("embedding")).as("qv"))
        .withColumn("qn", dotInt(col("qv"), col("qv"))))   // norm once per vector
      val bands = ctx.persist(bandedLsh(emb, planesPerBand, numBands))
      val cand = bandPairs(bands).distinct()
      exactCosVerify(cand, withQ, minCos)
        .localCheckpoint(true)   // small: the surviving near-dup pairs
    }

  /** Same-(band, bucket) candidate pairs (vec_a < vec_b) from a banded
    * LSH frame — the equi-join that replaces the all-pairs product. */
  private def bandPairs(bands: DataFrame): DataFrame =
    bands.select(col("band"), col("bucket"), col("vec_id").as("vec_a"))
      .join(bands.select(col("band").as("band2"), col("bucket").as("bucket2"),
                         col("vec_id").as("vec_b")),
            col("band") === col("band2") && col("bucket") === col("bucket2") &&
              col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"))

  /** Exact quantized-cosine verification of id-pair candidates against
    * the pinned (vec_id, qv, qn) frame: the vectors ship once per side,
    * joined back on vec_id; survivors clear `cos >= minCos`. */
  private def exactCosVerify(cand: DataFrame, withQ: DataFrame,
                             minCos: Double): DataFrame = {
    val cos = dotInt(col("qa"), col("qb")).cast("double") /
      (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double")))
    cand
      .join(withQ.select(col("vec_id").as("vec_a"), col("qv").as("qa"),
                         col("qn").as("na")), "vec_a")
      .join(withQ.select(col("vec_id").as("vec_b"), col("qv").as("qb"),
                         col("qn").as("nb")), "vec_b")
      .select(col("vec_a"), col("vec_b"), cos.as("cos"))
      .filter(col("cos") >= minCos)
  }

  /** [[embedNearDups]] hardened against the DENSE DIRECTIONAL CORE —
    * the one corpus shape the occupancy law cannot split (a mass of
    * vectors sharing every band's sign pattern keeps colliding no
    * matter how many planes are added; the round-12 probe measured the
    * hottest bucket growing 260 → 686 → 1529 across 1×/4×/16× despite
    * +3 planes). When intra-core similarity clears the threshold the
    * quadratic candidate mass IS the answer; when it does NOT (the
    * waste case), this variant bounds the per-candidate cost:
    *
    *  - per-(band, bucket) occupancy is audited first (one aggregate at
    *    the bucket grain — metadata-scale);
    *  - buckets at or under `occupancyCap` take the exact path verbatim;
    *  - oversized buckets spill their candidates through
    *    [[pqPreVerify]] — a PROVABLY CONSERVATIVE PQ/ADC distance bound
    *    (no false negatives, see there), so each wasted candidate costs
    *    an 11-long summary join + m table lookups instead of shipping
    *    two 64-long vectors into the exact cosine (~6× fewer bytes,
    *    and below-threshold cores are pruned before the vector fetch).
    *
    * Output is bit-identical to [[embedNearDups]] at ANY cap (the
    * pre-verify admits every pair the exact verify would keep), which
    * is what lets the e04 gate run this path against the same oracle.
    * When no bucket exceeds the cap the candidate plan IS the exact
    * path (the audit is the only extra work).
    *
    * Two fall-backs keep the bit-identical contract unconditional:
    * a negative `minCos` (the pre-verify bound is only stated for
    * non-negative thresholds) routes to the uncapped [[embedNearDups]]
    * verbatim — the cap is an optimization, never a semantics change;
    * and a corpus whose codebook cannot be built (no vec_ids below
    * [[PqK]], so [[pqSummaryOf]]'s inner joins would silently drop
    * every big-bucket candidate) takes the exact path for the big
    * buckets too, paying the uncapped cost rather than losing pairs. */
  def embedNearDupsCapped(emb: DataFrame, minCos: Double,
                          planesPerBand: Int = 4, numBands: Int = 4,
                          occupancyCap: Long = 4096L): DataFrame = {
    if (minCos < 0)
      return embedNearDups(emb, minCos, planesPerBand, numBands)
    GraftContext.scoped(emb.sparkSession) { ctx =>
      val withQ = ctx.pin(emb.select(col("vec_id"), quantize(col("embedding")).as("qv"))
        .withColumn("qn", dotInt(col("qv"), col("qv"))))   // norm once per vector
      val bands = ctx.persist(bandedLsh(emb, planesPerBand, numBands))
      val sizes = ctx.pin(bands.groupBy(col("band"), col("bucket"))
        .agg(count(lit(1)).as("occ")))
      val occRow = sizes.agg(max(col("occ"))).first()
      val maxOcc = if (occRow.isNullAt(0)) 0L else occRow.getLong(0)
      // The PQ codebook is the subvectors of the corpus vectors with
      // vec_id < PqK; a corpus whose ids all start above PqK has no
      // codebook, and the pre-verify's inner joins would silently drop
      // every big-bucket candidate — detect that ONCE (a pushed-down
      // id-range count, metadata-scale) and fall back to the exact path.
      // MUST stay `lazy`: the probe is priced for the rare dense-core
      // branch only — it evaluates solely when `maxOcc > occupancyCap`
      // reaches it below, and hoisting it eagerly would put a corpus scan
      // on every call's hot path (VERDICT r14 nit).
      lazy val codebookBuildable =
        emb.filter(col("vec_id") < PqK).limit(1).count() > 0
      val cand =
        if (maxOcc <= occupancyCap || !codebookBuildable) bandPairs(bands).distinct()
        else {
          val sized = bands.join(sizes, Seq("band", "bucket"))
          val small = sized.filter(col("occ") <= occupancyCap)
          val big = sized.filter(col("occ") > occupancyCap)
          // summaries only for members of oversized buckets — at scale the
          // dense core is a small fraction of the corpus
          val bigMembers = big.select(col("vec_id")).distinct()
          val summ = pqSummaryOf(emb, emb.join(bigMembers, Seq("vec_id"), "left_semi"))
          val kept = pqPreVerify(bandPairs(big).distinct(), summ,
                                 pqCentDotTable(emb), minCos)
          bandPairs(small).unionByName(kept).distinct()
        }
      exactCosVerify(cand, withQ, minCos)
        .localCheckpoint(true)   // small: the surviving near-dup pairs
    }
  }

  /** [[annTopK]] with the plane count sized by [[numPlanesFor]] — one
    * metadata-scale count picks the bucket grain, so the per-bucket
    * self-join stays at target occupancy instead of O((N/256)²). At
    * gate fixture sizes the law resolves to the pinned
    * [[DefaultPlanes]], so the e03 oracle covers this path verbatim. */
  def annTopKScaled(emb: DataFrame, k: Int, targetOccupancy: Long = 4096L): DataFrame =
    annTopK(emb, k,
      numPlanesFor(emb.select(col("vec_id")).count(), targetOccupancy))

  /** [[ivfTopK]] with the cell count sized by [[numCellsFor]] — same
    * contract: resolves to the pinned 8 cells at gate fixture sizes,
    * grows linearly with N past 8·targetOccupancy. */
  def ivfTopKScaled(emb: DataFrame, topK: Int, targetOccupancy: Long = 256L): DataFrame =
    ivfTopK(emb, topK,
      numCellsFor(emb.select(col("vec_id")).count(), targetOccupancy))

  /** [[embedNearDups]] with the band width sized to the corpus by
    * [[planesPerBandFor]]: one count job (ids only — metadata-scale)
    * picks the plane count that holds per-bucket occupancy, so the
    * candidate join stays linear in N instead of O(N²/2^4). At gate
    * fixture sizes (N ≤ 4·targetOccupancy) this resolves to the pinned
    * 4-plane constant, so the e04 oracle covers both paths verbatim. */
  def embedNearDupsScaled(emb: DataFrame, minCos: Double, numBands: Int = 4,
                          targetOccupancy: Long = 256L): DataFrame =
    embedNearDupsCapped(emb, minCos,
      planesPerBandFor(emb.select(col("vec_id")).count(), targetOccupancy), numBands,
      occupancyCap = 16L * targetOccupancy)

  /** IVF coarse assignment: each vector goes to its nearest of `k`
    * centroids by exact squared L2 (integer domain). Centroids here are
    * the k lowest-id corpus vectors — a deterministic stand-in for a
    * k-means-trained codebook (training is a small offline job; swapping
    * the codebook changes no plan shape). The centroid set is broadcast
    * (tiny by construction), assignment is map-side — the corpus never
    * shuffles to be indexed. Argmin ties break toward the lower centroid
    * id via a packed `dist·16 + id` key, bit-identical cross-engine. */
  /** IVF cell count scaled to corpus size (same scale law as
    * [[numPlanesFor]]): per-cell candidate work is O(occupancy²), so
    * cells grow linearly with N to keep occupancy ≈ target. Floored at 8
    * (what the sf-fixture oracle pins) and capped at 256 (the packed
    * argmin key reserves 8 bits for the centroid id). */
  def numCellsFor(n: Long, targetOccupancy: Long = 256L): Int =
    math.min(256, math.max(8, ((n + targetOccupancy - 1) / targetOccupancy).toInt))

  def ivfCells(emb: DataFrame, k: Int = 8): DataFrame = {
    require(k <= 256, "packed argmin key reserves 8 bits for the centroid id")
    val cents = emb.filter(col("vec_id") < k)
      .select(col("vec_id").as("cent_id"), quantize(col("embedding")).as("cv"))
    val d2 = col("qn") - lit(2L) * dotInt(col("qv"), col("cv")) +
      dotInt(col("cv"), col("cv"))
    emb.select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .withColumn("qn", dotInt(col("qv"), col("qv")))
      // bounded: a k-row codebook (k ≤ 256)
      .join(broadcast(cents))
      .groupBy(col("vec_id"))
      .agg(min(d2 * 256L + col("cent_id")).as("key"))
      .select(col("vec_id"), (col("key") % 256L).as("cell"))
  }

  /** IVF-bucketed ANN (the inverted-file counterpart of [[annTopK]]):
    * nearest same-cell neighbor per vector by exact cosine. One
    * broadcast-assign stage, one equi-join on the cell id — at warehouse
    * scale candidates come from the query's cell list only (real IVF
    * probes the nprobe nearest cells; nprobe=1 here keeps the oracle
    * one equi-join). Same staging discipline as annTopK. */
  def ivfTopK(emb: DataFrame, topK: Int, k: Int = 8): DataFrame =
    GraftContext.scoped(emb.sparkSession) { ctx =>
      val withCell = ctx.pin(emb.select(col("vec_id"), quantize(col("embedding")).as("qv"))
        .withColumn("qn", dotInt(col("qv"), col("qv")))   // norm once per vector
        .join(ivfCells(emb, k), "vec_id"))
      val a = withCell.select(col("cell"), col("vec_id").as("q_id"), col("qv"), col("qn"))
      val b = withCell.select(col("cell").as("c2"), col("vec_id").as("n_id"),
                              col("qv").as("nv"), col("qn").as("nn"))
      val cos = dotInt(col("qv"), col("nv")).cast("double") /
        (sqrt(col("qn").cast("double")) * sqrt(col("nn").cast("double")))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
      a.join(b, col("cell") === col("c2") && col("q_id") =!= col("n_id"))
        .select(col("q_id"), col("n_id"), cos.as("cos"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= topK)
        .select(col("q_id"), col("n_id"), col("rank"))
        .localCheckpoint(true)
    }

  // ---- driver-gate queries ----

  /** e01: exact top-3 cosine neighbors for every 50th vector. */
  def knnQuery(s: SparkSession, d: String): DataFrame = {
    val emb = TextSim.spread(Tables.embeddings(s, d))
    bruteKnn(emb, emb.filter(col("vec_id") % 50 === 0), 3)
  }

  /** e13: kNN CLASSIFIER — the label-transfer / auto-labeling primitive
    * of embedding pipelines (and the standard eval harness for embedding
    * quality): each held-out query vector (vec_id % 50 == 0) takes the
    * majority label of its k = 10 exact-cosine neighbors among the
    * labeled corpus (the other 49/50). Reuses [[bruteKnn]] (queries
    * broadcast, corpus streamed, no corpus shuffle); the vote is a
    * (query, label) hash agg over q·k rows, winner by (votes desc,
    * label) — a total order, so tied votes resolve identically in any
    * engine. Output carries the true label and a 0/1 correctness flag,
    * making the entry double as a labeled-accuracy report. */
  def knnClassifyQuery(s: SparkSession, d: String): DataFrame = {
    val emb = TextSim.spread(Tables.embeddings(s, d))
    val corpus = emb.filter(col("vec_id") % 50 =!= 0)
    val nn = bruteKnn(corpus, emb.filter(col("vec_id") % 50 === 0), 10)
    val votes = nn
      .join(corpus.select(col("vec_id").as("n_id"),
                          col("label").cast("long").as("n_label")), "n_id")
      .groupBy(col("q_id"), col("n_label")).agg(count(lit(1)).as("votes"))
    val best = Window.partitionBy(col("q_id"))
      .orderBy(col("votes").desc, col("n_label"))
    votes.withColumn("rk", row_number().over(best)).filter(col("rk") === 1)
      .join(emb.select(col("vec_id").as("q_id"),
                       col("label").cast("long").as("true_label")), "q_id")
      .select(col("q_id"), col("n_label").as("pred_label"), col("votes"),
              col("true_label"),
              when(col("n_label") === col("true_label"), 1L).otherwise(0L)
                .as("correct"))
  }

  /** e14: CONFUSION-MATRIX EVALUATION over the e13 classifier — the
    * eval harness every labeling pipeline ships next to its model:
    * (true, predicted) cell counts plus per-cell recall (share of the
    * true class) and precision (share of the predicted class), both in
    * exact integer permille from whole-partition window sums. The cell
    * table is classes², so everything after the vote is dimension-sized
    * at any corpus scale. */
  def confusionMetrics(s: SparkSession, d: String): DataFrame = {
    val cells = knnClassifyQuery(s, d)
      .groupBy(col("true_label"), col("pred_label"))
      .agg(count(lit(1)).as("n"))
    cells
      .withColumn("row_total",
        sum(col("n")).over(Window.partitionBy(col("true_label"))))
      .withColumn("col_total",
        sum(col("n")).over(Window.partitionBy(col("pred_label"))))
      .select(col("true_label"), col("pred_label"), col("n"),
              expr("n * 1000 div row_total").as("recall_pm"),
              expr("n * 1000 div col_total").as("precision_pm"))
  }

  /** e02: LSH bucket assignment for every vector (exact oracle). */
  def bucketsQuery(s: SparkSession, d: String): DataFrame =
    lshBuckets(TextSim.spread(Tables.embeddings(s, d)))

  /** The scaled-law gate contract: the occupancy law must resolve to the
    * constant the DuckDB oracle hardcodes — a gate fixture that outgrows
    * the floor would otherwise fail as an opaque hash mismatch (the law
    * correctly re-sizes, the pinned oracle doesn't). Fail loudly with the
    * reason instead. */
  private[graft] def requirePinned(entry: String, resolved: Int, pinned: Int): Int = {
    require(resolved == pinned,
      s"$entry gate fixture outgrew the pinned oracle constants: the occupancy " +
        s"law resolved to $resolved (oracle pins $pinned) — regenerate the oracle SQL")
    resolved
  }

  /** e03: nearest same-bucket neighbor per vector (exact oracle). Runs
    * the occupancy-scaled path — the law resolves to the pinned
    * DefaultPlanes at every gate scale, the e04 discipline. */
  def annQuery(s: SparkSession, d: String): DataFrame = {
    val emb = TextSim.spread(Tables.embeddings(s, d))
    val planes = requirePinned("e03",
      numPlanesFor(emb.select(col("vec_id")).count()), DefaultPlanes)
    annTopK(emb, 1, planes)
  }

  /** e04: embedding-cosine near-dup pairs via banded LSH. The synthetic
    * embeddings are mean-centered (max pairwise cosine ≈ 0.46), so the
    * gate threshold 0.3 plays the role a ~0.95 threshold would on a real
    * near-dup corpus — the pipeline shape is identical. Runs the
    * OCCUPANCY-SCALED path ([[embedNearDupsScaled]] — the round-12
    * scaling probe caught the fixed 4-bit band going O(N²) at 16×
    * volume); at every gate scale (N ≤ 1024) the law resolves to the
    * same pinned 4 planes the oracle mirrors. */
  def embedNearDupQuery(s: SparkSession, d: String): DataFrame = {
    val emb = TextSim.spread(Tables.embeddings(s, d))
    val ppb = requirePinned("e04",
      planesPerBandFor(emb.select(col("vec_id")).count()), 4)
    embedNearDupsCapped(emb, 0.3, ppb)
  }

  /** e05: IVF-bucketed nearest same-cell neighbor (exact oracle). Runs
    * the occupancy-scaled path: [[numCellsFor]] resolves to exactly the
    * 8 cells the oracle SQL hardcodes at every gate sf (the law floors
    * there), and grows the cell count linearly with N past
    * 8·targetOccupancy — so the gate verifies the production sizing
    * path, not a parallel pinned one. */
  def ivfQuery(s: SparkSession, d: String): DataFrame = {
    val emb = TextSim.spread(Tables.embeddings(s, d))
    val cells = requirePinned("e05",
      numCellsFor(emb.select(col("vec_id")).count()), 8)
    ivfTopK(emb, 1, cells)
  }

  /** Exact maximum-inner-product top-k (MIPS) — retrieval where
    * magnitude matters (un-normalized embeddings: recommender scores,
    * learned rankers): rank by ⟨q,x⟩ itself, not cosine. Same
    * broadcast-queries / stream-corpus shape as [[bruteKnn]], but the
    * score is a PURE INTEGER dot product — bit-exact cross-engine with
    * no float division at all. The at-scale ANN path is the standard
    * norm-augmentation reduction (append sqrt(M²−‖x‖²) to each corpus
    * vector, 0 to queries: inner-product order becomes cosine order in
    * the augmented space, so the e02–e05 LSH/IVF machinery applies
    * unchanged) — SimilaritySpec pins the reduction's order-equivalence
    * on the fixture. */
  def bruteMips(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("q_id"), quantize(col("embedding")).as("qv"))
    val c = corpus.select(col("vec_id").as("n_id"), quantize(col("embedding")).as("nv"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("dot").desc, col("n_id"))
    // bounded: the caller's query sample (1 in 50 of the corpus at most)
    broadcast(q).crossJoin(c)
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), dotInt(col("qv"), col("nv")).as("dot"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"), col("dot"))
  }

  /** e07: exact top-3 inner-product neighbors for every 50th vector. */
  def mipsQuery(s: SparkSession, d: String): DataFrame = {
    val emb = TextSim.spread(Tables.embeddings(s, d))
    bruteMips(emb, emb.filter(col("vec_id") % 50 === 0), 3)
  }

  // ---- product quantization (PQ/ADC) ----

  /** PQ geometry: 64-dim vectors split into `PqM` subspaces of `PqDim`
    * dims, `PqK` centroids per subspace → one 4-bit code per subspace,
    * m·log2(k) = 32 bits per vector. At 100 TB this is the point: the
    * scanned "index" is 4 bytes/vector instead of 256 (the raw floats) —
    * a 64× reduction in the bytes the top-k scan touches. */
  val PqM = 8; val PqDim = 8; val PqK = 16

  /** (vec_id, sub, sv, sn): each vector's `PqM` subvectors with their
    * norms, unpivoted via `stack` (a generator but not an Explode — same
    * single-projection discipline as [[bandedLsh]]). */
  private def subVectors(emb: DataFrame): DataFrame = {
    val svCols = (0 until PqM).map(sub =>
      slice(col("qv"), sub * PqDim + 1, PqDim).as(s"s$sub"))
    val stackArgs = (0 until PqM).map(sub => s"${sub}L, s$sub").mkString(", ")
    emb.select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .select(col("vec_id") +: svCols: _*)
      .selectExpr("vec_id", s"stack($PqM, $stackArgs) AS (sub, sv)")
      .withColumn("sn", graft.functions.ArrayDotLong.dotLong(col("sv"), col("sv")))
  }

  /** PQ encode: per (vector, subspace), the id of the nearest codebook
    * centroid by exact integer squared-L2. Codebook = the subvectors of
    * the `PqK` lowest-id corpus vectors — the same deterministic
    * stand-in for an offline-trained codebook as [[ivfCells]] (swapping
    * in k-means centroids changes no plan shape). The codebook is
    * broadcast (m·k·subDim longs — bytes); encoding is map-side, the
    * corpus never shuffles to be indexed. Argmin ties break toward the
    * lower centroid id via the packed `d2·16 + id` key. */
  private def centsFrom(sv: DataFrame): DataFrame =
    sv.filter(col("vec_id") < PqK)
      .select(col("vec_id").as("cent_id"), col("sub").as("csub"),
              col("sv").as("cv"), col("sn").as("cn"))

  private def pqCodesFrom(sv: DataFrame): DataFrame = {
    val d2 = col("sn") - lit(2L) * dotInt(col("sv"), col("cv")) + col("cn")
    // bounded: the PqK × PqM-row codebook
    sv.join(broadcast(centsFrom(sv)), col("sub") === col("csub"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(d2 * PqK + col("cent_id")).as("key"))
      .select(col("vec_id"), col("sub"), (col("key") % PqK).as("code"))
  }

  def pqCodes(emb: DataFrame): DataFrame = pqCodesFrom(subVectors(emb))

  /** Driver-collected centroid-pair dot table for the pre-verify bound:
    * t[sub·k² + i·k + j] = ⟨cent_i^sub, cent_j^sub⟩ — PqM·PqK² = 2048
    * exact integer entries (the bounded k-centroids collect discipline),
    * broadcast as a literal so the per-pair approximate dot is m
    * codegen'd array lookups. */
  private[graft] def pqCentDotTable(emb: DataFrame): Array[Long] = {
    val rows = centsFrom(subVectors(emb))
      .select(col("csub"), col("cent_id"), col("cv")).collect()
    // An empty codebook (no corpus vec_id below PqK) would make every
    // downstream inner join against codes/summaries silently drop rows —
    // the consumer's no-false-negatives contract depends on this table
    // and the summaries being built from the SAME nonempty codebook, so
    // fail loudly here instead. (Fewer than PqK centroids is fine: codes
    // only ever reference centroids that exist, and this table covers
    // exactly those ids.)
    require(rows.nonEmpty,
      s"PQ codebook is empty: no corpus vec_id < $PqK — PQ paths need the " +
        "deterministic codebook vectors present (or callers must fall back " +
        "to an exact path, as embedNearDupsCapped does)")
    val bySub = rows.map(r =>
      ((r.getLong(0).toInt, r.getLong(1).toInt), r.getSeq[Long](2).toArray)).toMap
    val t = new Array[Long](PqM * PqK * PqK)
    for (((s, i), vi) <- bySub; ((s2, j), vj) <- bySub if s2 == s) {
      var d = 0L; var x = 0
      while (x < vi.length) { d += vi(x) * vj(x); x += 1 }
      t(s * PqK * PqK + i * PqK + j) = d
    }
    t
  }

  /** Per-vector PQ pre-verify summary: (vec_id, qn exact norm²,
    * codes[PqM], r2 residual norm²). The encode is the e08 packed
    * argmin; the residual Σ_sub d²(sv, cent[code]) falls out of the
    * same packed key (its high bits), so the summary costs one extra
    * narrow aggregate over what encoding already pays. */
  private[graft] def pqSummary(emb: DataFrame): DataFrame = pqSummaryOf(emb, emb)

  /** [[pqSummary]] for a SUBSET of the corpus, encoded against the
    * codebook trained on the FULL corpus — the codebook must be the
    * same one [[pqCentDotTable]] collected, or the bound's adot indexes
    * the wrong centroids. */
  private[graft] def pqSummaryOf(corpus: DataFrame, subset: DataFrame): DataFrame = {
    val cents = centsFrom(subVectors(corpus))
    val emb = subset
    val sv = subVectors(emb)
    val d2 = col("sn") - lit(2L) * dotInt(col("sv"), col("cv")) + col("cn")
    // bounded: the PqK × PqM-row codebook
    val enc = sv.join(broadcast(cents), col("sub") === col("csub"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(d2 * PqK + col("cent_id")).as("key"))
      .select(col("vec_id"), col("sub"),
              (col("key") % PqK).as("code"), expr(s"key div $PqK").as("d2min"))
      .groupBy(col("vec_id"))
      .agg(expr("transform(array_sort(collect_list(struct(sub, code))), s -> s.code)")
             .as("codes"),
           sum(col("d2min")).as("r2"))
    emb.select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .select(col("vec_id"), dotInt(col("qv"), col("qv")).as("qn"))
      .join(enc, "vec_id")
  }

  /** CONSERVATIVE PQ pre-verify: keeps a candidate pair iff the provable
    * upper bound on its exact dot clears τ·|a|·|b|:
    *
    *   ⟨a,b⟩ = ⟨â+rₐ, b̂+r_b⟩ ≤ ⟨â,b̂⟩ + |â||r_b| + |rₐ||b̂| + |rₐ||r_b|
    *         ≤ adot + |a||r_b| + |rₐ||b| + 3|rₐ||r_b|
    *
    * (â the PQ reconstruction, r the residual, Cauchy–Schwarz per cross
    * term with |â| ≤ |a|+|rₐ|; adot = Σ_sub table[cent_a, cent_b] is an
    * EXACT integer). NO FALSE NEGATIVES: a dropped pair provably fails
    * the exact verify, so composing this filter in front of
    * [[exactCosVerify]] changes no output — only the work. The float
    * tail (4 sqrts, 3 multiplies) is slacked by (1±1e-9) and +1, orders
    * beyond its few-ulp error; slack only ever ADMITS extra pairs, and
    * those still face the exact verify. Join shape: candidates attach an
    * (PqM + 2)-long summary per side instead of the 64-long vector —
    * ~6× fewer bytes per candidate, and a below-threshold dense core is
    * pruned before any vector ships. */
  private[graft] def pqPreVerify(cand: DataFrame, summ: DataFrame,
                                 centDots: Array[Long], minCos: Double): DataFrame = {
    require(minCos >= 0, "bound slack direction assumes a non-negative threshold")
    val sa = summ.select(col("vec_id").as("vec_a"), col("qn").as("pna"),
                         col("codes").as("pca"), col("r2").as("pra"))
    val sb = summ.select(col("vec_id").as("vec_b"), col("qn").as("pnb"),
                         col("codes").as("pcb"), col("r2").as("prb"))
    // fused codegen'd gather-sum (one loop, no allocation) — the
    // composable aggregate/transform/zip_with form pays three
    // interpreted lambdas per candidate on a quadratic stream
    val adot = graft.functions.PqLutSumLong.lutSum(
      col("cdots"), col("pca"), col("pcb"), PqK)
    val ub = col("adot").cast("double") +
      sqrt(col("pna").cast("double")) * sqrt(col("prb").cast("double")) +
      sqrt(col("pra").cast("double")) * sqrt(col("pnb").cast("double")) +
      lit(3.0) * sqrt(col("pra").cast("double")) * sqrt(col("prb").cast("double"))
    val rhs = lit(minCos) * sqrt(col("pna").cast("double")) * sqrt(col("pnb").cast("double"))
    cand.join(sa, "vec_a").join(sb, "vec_b")
      .withColumn("cdots", lit(centDots))
      .withColumn("adot", adot)
      .filter(ub * lit(1 + 1e-9) + lit(1.0) >= rhs * lit(1 - 1e-9))
      .select(col("vec_a"), col("vec_b"))
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: the query keeps its
    * exact subvectors; each corpus vector is represented by its codes.
    * distance(q, x) ≈ Σ_sub d2(q_sub, centroid[sub, code_sub(x)]) —
    * computed by joining the code table against a broadcast per-query
    * lookup table (queries × m × k exact integer distances), then one
    * partial-aggregated sum per (query, neighbor). The corpus side of
    * the join carries only (vec_id, sub, code) — never the vectors —
    * so the scan cost is the compressed index, and the only exchange is
    * the (q_id, n_id) partial-sum aggregation. Real deployments compose
    * this with [[ivfCells]] (IVF-PQ: probe a cell list, ADC-scan within);
    * the gate keeps them separate so each stays an equi-join oracle. */
  def pqTopK(emb: DataFrame, topK: Int): DataFrame = GraftContext.scoped(emb.sparkSession) { ctx =>
    val sv = ctx.pin(subVectors(emb))
    val codes = pqCodesFrom(sv)
    val lutD2 = col("sn") - lit(2L) * dotInt(col("sv"), col("cv")) + col("cn")
    val lut = sv.filter(col("vec_id") % 50 === 0)
      // bounded: the PqK × PqM-row codebook
      .join(broadcast(centsFrom(sv)), col("sub") === col("csub"))
      .select(col("vec_id").as("q_id"), col("sub").as("lsub"),
              col("cent_id"), lutD2.as("d2"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("adist"), col("n_id"))
    // bounded: the query sample's LUT, PqM × PqK rows per query
    codes.join(broadcast(lut),
        col("sub") === col("lsub") && col("code") === col("cent_id") &&
          col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id").as("n_id"))
      .agg(sum(col("d2")).as("adist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("n_id"), col("rank"), col("adist"))
      .localCheckpoint(true)
  }

  /** e08: PQ-compressed ADC top-3 for every 50th vector (exact oracle —
    * every distance is an exact integer, so codes, LUT, and the summed
    * approximate distances are bit-identical cross-engine). */
  def pqQuery(s: SparkSession, d: String): DataFrame =
    pqTopK(TextSim.spread(Tables.embeddings(s, d)), 3)

  /** IVF-PQ — the production ANN composition (the FAISS IVFPQ shape):
    * [[ivfCells]] bounds WHICH vectors are candidates (the query's
    * coarse cell; nprobe=1 keeps the oracle one equi-join, like e05)
    * and [[pqCodes]] bounds WHAT each candidate costs (an m-lookup ADC
    * sum over 4-bit codes instead of a d-dim exact distance). At
    * warehouse scale the scan term drops from N·d floats to
    * (N/cells)·m byte-lookups per query. Join shape: the corpus side
    * is (vec_id, cell, sub, code) — codes and cells joined once on
    * vec_id, both narrow — probed by a BROADCAST of the per-query
    * (cell, LUT) table; the only exchange is the (q_id, n_id)
    * partial-agged ADC sum. */
  def ivfPqTopK(emb: DataFrame, topK: Int, cellsK: Int = 8): DataFrame =
    GraftContext.scoped(emb.sparkSession) { ctx =>
      val sv = ctx.pin(subVectors(emb))
      val cand = pqCodesFrom(sv).join(ivfCells(emb, cellsK), "vec_id")
      val lutD2 = col("sn") - lit(2L) * dotInt(col("sv"), col("cv")) + col("cn")
      val lut = sv.filter(col("vec_id") % 50 === 0)
        // bounded: the PqK × PqM-row codebook
        .join(broadcast(centsFrom(sv)), col("sub") === col("csub"))
        .select(col("vec_id").as("q_id"), col("sub").as("lsub"),
                col("cent_id"), lutD2.as("d2"))
        .join(ivfCells(emb, cellsK).filter(col("vec_id") % 50 === 0)
                .select(col("vec_id").as("q_id"), col("cell").as("qcell")), "q_id")
      val w = Window.partitionBy(col("q_id")).orderBy(col("adist"), col("n_id"))
      // bounded: the query sample's LUT, PqM × PqK rows per query
      cand.join(broadcast(lut),
          col("sub") === col("lsub") && col("code") === col("cent_id") &&
            col("cell") === col("qcell") && col("vec_id") =!= col("q_id"))
        .groupBy(col("q_id"), col("vec_id").as("n_id"))
        .agg(sum(col("d2")).as("adist"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= topK)
        .select(col("q_id"), col("n_id"), col("rank"), col("adist"))
        .localCheckpoint(true)
    }

  /** e09: IVF-PQ nearest same-cell neighbor by ADC (exact oracle). */
  def ivfPqQuery(s: SparkSession, d: String): DataFrame =
    ivfPqTopK(TextSim.spread(Tables.embeddings(s, d)), 1)

  /** Cosine RANGE search (radius query): every corpus vector within
    * cosine ≥ τ of each probe — the "find everything semantically close"
    * retrieval mode top-k can't express (result cardinality is data-
    * driven, not k). The probe side broadcasts (e01 discipline: the
    * corpus never shuffles), and the threshold test runs ENTIRELY in
    * exact integers: for τ = 3/10, cos ≥ τ ⟺ dot > 0 ∧ 100·dot² ≥
    * 9·|a|²·|b|² — cross-multiplied so no square root or float compare
    * exists for a boundary row to flip on. All products stay well under
    * 2⁶³ for quantized 64-dim vectors (dot ≤ 6.4·10⁷). At corpus scale
    * the same predicate drops behind the e04 banded-LSH candidate
    * generator; this is the exact-verification kernel. */
  def rangeSearch(emb: DataFrame, probeMod: Long): DataFrame = {
    val q = emb.filter(col("vec_id") % probeMod === 0)
      .select(col("vec_id").as("q_id"), quantize(col("embedding")).as("qa"))
      .withColumn("na", dotInt(col("qa"), col("qa")))
    val c = emb.select(col("vec_id").as("n_id"), quantize(col("embedding")).as("qb"))
      .withColumn("nb", dotInt(col("qb"), col("qb")))
    // bounded: the 1-in-probeMod query sample
    c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("dot", dotInt(col("qa"), col("qb")))
      .filter(col("dot") > 0 &&
        col("dot") * col("dot") * lit(100L) >= col("na") * col("nb") * lit(9L))
      .select(col("q_id"), col("n_id"), col("dot"))
  }

  /** e10: all corpus neighbors with cosine ≥ 0.3 of every 40th vector. */
  def rangeQuery(s: SparkSession, d: String): DataFrame =
    rangeSearch(TextSim.spread(Tables.embeddings(s, d)), 40L)

  /** e12: ANN RECALL EVALUATION — the measurement loop every approximate
    * index needs before it replaces the exact path: for a probe sample
    * (every 50th vector, the e01 set), compare the LSH-bucket top-3
    * against the exact cosine top-3 and report per-query hit counts.
    * recall@3 = n_hits/3; n_approx < 3 exposes bucket under-fill (a
    * lone vector in its bucket has no candidates at all) — the two
    * failure modes an index operator actually tunes against. Scale
    * shape: the probe side is the SMALL side everywhere — probes
    * broadcast into the bucket equi-join (the corpus is never
    * re-shuffled for the evaluation) and into the brute-force pass
    * (e01 discipline: n·|probes| dots, the unavoidable exact cost).
    * All outputs are integer counts — exact cross-engine. */
  def recallQuery(s: SparkSession, d: String): DataFrame = {
    val emb = TextSim.spread(Tables.embeddings(s, d))
    val exact = bruteKnn(emb, emb.filter(col("vec_id") % 50 === 0), 3)
      .select(col("q_id"), col("n_id"))
    val side = emb.select(col("vec_id"), quantize(col("embedding")).as("v"))
      .withColumn("nrm", dotInt(col("v"), col("v")))
      .join(lshBuckets(emb), "vec_id")
    val probe = side.filter(col("vec_id") % 50 === 0)
      .select(col("bucket"), col("vec_id").as("q_id"),
              col("v").as("pv"), col("nrm").as("pn"))
    val cand = side.select(col("bucket").as("b2"), col("vec_id").as("n_id"),
                           col("v").as("nv"), col("nrm").as("nn"))
    val cos = dotInt(col("pv"), col("nv")).cast("double") /
      (sqrt(col("pn").cast("double")) * sqrt(col("nn").cast("double")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    // bounded: the 1-in-50 query sample, the same set as `exact`'s
    val approx = broadcast(probe)
      .join(cand, col("bucket") === col("b2") && col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), cos.as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("n_id"))
    val nApprox = approx.groupBy(col("q_id")).agg(count(lit(1)).as("n_approx"))
    val nHits = exact.join(approx, Seq("q_id", "n_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hits"))
    exact.select(col("q_id")).distinct()
      .join(nApprox, Seq("q_id"), "left")
      .join(nHits, Seq("q_id"), "left")
      .select(col("q_id"),
              coalesce(col("n_approx"), lit(0L)).as("n_approx"),
              coalesce(col("n_hits"), lit(0L)).as("n_hits"))
  }

  /** e15: SCALAR (int8) QUANTIZATION — the embedding-compression pass
    * vector stores run before ANN serving (4 bytes → 1 byte per dim).
    * Per-dimension min/max train on ONE tiny d-row aggregate (collected
    * — bounded by the embedding width, the k-centroids discipline) and
    * come back as broadcast array literals, so the quantization itself
    * is a MAP-ONLY whole-stage-codegen'd transform+aggregate over the
    * vectors: zero shuffle of vector data at any corpus size. The whole
    * chain runs in the permille-integer domain (the shared `quantSql`
    * grid): codes are exact floor divisions, the per-vector code sums
    * are exact integers — no float tail at all. */
  def sq8Quantize(s: SparkSession, d: String): DataFrame = {
    val qv = Tables.embeddings(s, d).select(col("vec_id"),
      expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000 + 0.5) AS BIGINT))")
        .as("qv"))
    val dims = qv.select(posexplode(col("qv")).as(Seq("dim", "v")))
      .groupBy(col("dim")).agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      .orderBy(col("dim")).collect()          // d rows — the embedding width
    val mn = dims.map(_.getLong(1)).toSeq
    val mx = dims.map(_.getLong(2)).toSeq
    qv.withColumn("mn", typedLit(mn)).withColumn("mx", typedLit(mx))
      .select(col("vec_id"),
        expr("""transform(qv, (v, i) -> CASE WHEN mx[i] = mn[i] THEN CAST(0 AS BIGINT)
                                             ELSE ((v - mn[i]) * 255) div (mx[i] - mn[i]) END)""")
          .as("codes"))
      .select(col("vec_id"),
        expr("aggregate(codes, CAST(0 AS BIGINT), (acc, c) -> acc + c)").as("sum_code"),
        expr("aggregate(codes, CAST(0 AS BIGINT), (acc, c) -> acc + c*c)").as("sum_code_sq"),
        size(col("codes")).cast("long").as("n_dims"))
  }

  /** e16: MAXIMAL-MARGINAL-RELEVANCE re-ranking — the diversity-aware
    * top-k every retrieval stack bolts onto ANN: after the cheap
    * relevance shortlist (top-12 exact cosine to the query), k = 5
    * results are selected greedily by
    * score(d) = 0.7·rel(d) − 0.3·max_{s∈S} cos(d, s). Distributed
    * shape: the shortlist cut is the e01 broadcast-query scan (the
    * corpus-sized stage); each greedy step is then one distributed
    * argmax over the shortlist with the ≤ k selected vectors attached
    * as LITERALS — at warehouse scale the shortlist is thousands of
    * rows and each step stays one tiny map+TakeOrdered job; only
    * k·(id, 64-long vector) crosses the driver, the bounded-collect
    * discipline. All floats are mirrored single IEEE expressions
    * (greatest is exact), so the greedy trace hash-matches the
    * unrolled-SQL oracle step for step. */
  def mmrDiversify(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val withQ = TextSim.spread(Tables.embeddings(s, d))
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .withColumn("n2", dotInt(col("qv"), col("qv")))
    def cosTo(vec: Array[Long], n2v: Long) =
      dotInt(lit(vec), col("qv")).cast("double") /
        (sqrt(lit(n2v).cast("double")) * sqrt(col("n2").cast("double")))
    val q0 = withQ.filter(col("vec_id") === 0L).select("qv", "n2").collect().head
    val (qv, qn) = (q0.getSeq[Long](0).toArray, q0.getLong(1))
    val cand = withQ.filter(col("vec_id") =!= 0L)
      .withColumn("rel", cosTo(qv, qn))
      .orderBy(col("rel").desc, col("vec_id")).limit(12)
      .select(col("vec_id"), col("qv"), col("n2"), col("rel"))
      .localCheckpoint(true)
    var selected = List.empty[(Long, Array[Long], Long)]
    val out = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
    for (step <- 1 to 5) {
      val scored =
        if (selected.isEmpty) cand.withColumn("score", col("rel"))
        else {
          val maxSim = selected
            .map { case (_, sv, sn) => cosTo(sv, sn) }.reduce(greatest(_, _))
          cand.filter(!col("vec_id").isin(selected.map(_._1): _*))
            .withColumn("score", lit(0.7) * col("rel") - lit(0.3) * maxSim)
        }
      val pick = scored.orderBy(col("score").desc, col("vec_id")).limit(1)
        .collect().head
      selected ::= ((pick.getLong(0), pick.getSeq[Long](1).toArray, pick.getLong(2)))
      out += ((step.toLong, pick.getLong(0)))
    }
    out.toSeq.toDF("rank", "n_id")
  }

  /** e17: EMBEDDING-SPACE DRIFT — cosine between the MEAN vectors of
    * two corpus slices (even/odd ids standing in for old/new snapshots),
    * the cheap embedding-distribution monitor run before re-training an
    * index. Cosine is scale-invariant, so the mean never needs the
    * division: per-dimension integer SUMS of the quantized vectors are
    * enough, and those come out of ONE partial-combined aggregate over
    * a 2×64-key grid — whole-corpus drift for the cost of a scan, the
    * ml17/ml18 shape lifted to vector space. One mirrored double tail
    * (two sqrts, one divide, round 6). */
  def embedDrift(s: SparkSession, d: String): DataFrame = {
    val dims = TextSim.spread(Tables.embeddings(s, d))
      .select((col("vec_id") % 2).as("g"),
              posexplode(quantize(col("embedding"))))
      .groupBy(col("g"), col("pos"))
      .agg(sum(col("col")).as("sv"), count(lit(1)).as("n"))
    val a = dims.filter(col("g") === 0)
      .select(col("pos"), col("sv").as("sa"), col("n").as("na"))
    val b = dims.filter(col("g") === 1)
      .select(col("pos"), col("sv").as("sb"), col("n").as("nb"))
    a.join(b, "pos")
      .groupBy()
      .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
           sum(col("sa") * col("sb")).as("dot"),
           sum(col("sa") * col("sa")).as("na2"),
           sum(col("sb") * col("sb")).as("nb2"))
      .select(col("n_a"), col("n_b"), col("dot"), col("na2"), col("nb2"),
              round(col("dot").cast("double") /
                    (sqrt(col("na2").cast("double")) * sqrt(col("nb2").cast("double"))), 6)
                .as("cos_mean"))
  }

  val queries: Map[String, Q] = Map(
    "e17_embed_drift" -> (embedDrift _),
    "e16_mmr"         -> (mmrDiversify _),
    "e15_sq8"         -> (sq8Quantize _),
    "e14_confusion"   -> (confusionMetrics _),
    "e13_knn_classify" -> (knnClassifyQuery _),
    "e12_ann_recall"  -> (recallQuery _),
    "e10_range_search" -> (rangeQuery _),
    "e01_knn_cosine"  -> (knnQuery _),
    "e02_lsh_buckets" -> (bucketsQuery _),
    "e03_ann_bucket"  -> (annQuery _),
    "e04_embed_neardup" -> (embedNearDupQuery _),
    "e05_ivf_ann"     -> (ivfQuery _),
    "e07_mips"        -> (mipsQuery _),
    "e08_pq_adc"      -> (pqQuery _),
    "e09_ivf_pq"      -> (ivfPqQuery _),
  )

  private val quantSql =
    """q AS (SELECT vec_id,
              list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000 + 0.5) AS BIGINT)) AS qv
            FROM embeddings)"""

  private val bucketSql =
    """b AS (SELECT vec_id,
              CAST(list_sum([CASE WHEN list_sum([(((p*64 + i)*1103515245 + 17) % 2147483647 % 2001 - 1000) * qv[i+1]
                                                 for i in generate_series(0,63)]) > 0
                             THEN (1::BIGINT << p) ELSE 0 END
                             for p in generate_series(0,7)]) AS BIGINT) AS bucket
            FROM q)"""

  /** Shared CTE chain for the e13 classifier (also the e14 input) —
    * defined once so the two oracles cannot drift. Ends with `preds`. */
  private lazy val knnClassifyCte =
    s"""$quantSql,
        pairs AS (
          SELECT a.vec_id AS q_id, b.vec_id AS n_id,
                 CAST(list_dot_product(a.qv, b.qv) AS DOUBLE)
                 / (sqrt(CAST(list_dot_product(a.qv, a.qv) AS DOUBLE))
                    * sqrt(CAST(list_dot_product(b.qv, b.qv) AS DOUBLE))) AS cos
          FROM q a JOIN q b ON a.vec_id % 50 = 0 AND b.vec_id % 50 <> 0),
        top AS (SELECT q_id, n_id FROM (
                  SELECT q_id, n_id,
                         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
                  FROM pairs) t
                WHERE rank <= 10),
        votes AS (SELECT top.q_id, CAST(e.label AS BIGINT) AS n_label,
                         count(*) AS votes
                  FROM top JOIN embeddings e ON e.vec_id = top.n_id
                  GROUP BY 1, 2),
        best AS (SELECT q_id, n_label, votes FROM (
                   SELECT q_id, n_label, votes,
                          row_number() OVER (PARTITION BY q_id ORDER BY votes DESC, n_label) AS rk
                   FROM votes) t
                 WHERE rk = 1),
        preds AS (
          SELECT best.q_id, best.n_label AS pred_label, best.votes,
                 CAST(qe.label AS BIGINT) AS true_label,
                 CAST(CASE WHEN best.n_label = CAST(qe.label AS BIGINT)
                           THEN 1 ELSE 0 END AS BIGINT) AS correct
          FROM best JOIN embeddings qe ON qe.vec_id = best.q_id)"""

  /** The e16 oracle: the same greedy MMR trace unrolled — generated so
    * the step count and score expression cannot drift between the Spark
    * loop and the SQL (the i02/i04/i05 discipline). */
  private def mmrOracle: String = {
    def cos(sel: String) =
      s"""CAST(list_dot_product($sel.qv, c.qv) AS DOUBLE)
             / (sqrt(CAST($sel.n2 AS DOUBLE)) * sqrt(CAST(c.n2 AS DOUBLE)))"""
    val relSql =
      """CAST(list_dot_product(qq.qv, cn.qv) AS DOUBLE)
           / (sqrt(CAST(qq.n2 AS DOUBLE)) * sqrt(CAST(cn.n2 AS DOUBLE)))"""
    val steps = (2 to 5).map { t =>
      val prev = (1 until t).map(k => s"s$k")
      val maxSim = if (prev.size == 1) cos(prev.head)
                   else s"greatest(${prev.map(cos).mkString(", ")})"
      val notPicked = prev.map(p => s"c.id <> $p.id").mkString(" AND ")
      s""",
          s$t AS (SELECT c.id, c.qv, c.n2, c.rel
                  FROM cand c, ${prev.mkString(", ")}
                  WHERE $notPicked
                  ORDER BY 0.7 * c.rel - 0.3 * ($maxSim) DESC, c.id
                  LIMIT 1)"""
    }.mkString
    s"""WITH $quantSql,
        qq AS (SELECT qv, list_dot_product(qv, qv) AS n2 FROM q WHERE vec_id = 0),
        cn AS (SELECT vec_id AS id, qv, list_dot_product(qv, qv) AS n2
               FROM q WHERE vec_id <> 0),
        cand AS (SELECT id, qv, n2, rel FROM (
                   SELECT cn.id, cn.qv, cn.n2, $relSql AS rel,
                          row_number() OVER (ORDER BY $relSql DESC, cn.id) AS rk
                   FROM cn, qq) t
                 WHERE rk <= 12),
        s1 AS (SELECT id, qv, n2, rel FROM cand ORDER BY rel DESC, id LIMIT 1)$steps
        SELECT * FROM (
          SELECT CAST(1 AS BIGINT) AS rank, s1.id AS n_id FROM s1
          UNION ALL SELECT 2, s2.id FROM s2
          UNION ALL SELECT 3, s3.id FROM s3
          UNION ALL SELECT 4, s4.id FROM s4
          UNION ALL SELECT 5, s5.id FROM s5) u"""
  }

  val oracles: Map[String, String] = Map(
    // same even/odd split, same per-dimension integer sums, same
    // two-sqrt one-divide round(6) tail
    "e17_embed_drift" ->
      s"""WITH $quantSql,
          dm AS (SELECT vec_id % 2 AS g, s.i AS pos, qv[s.i] AS v
                 FROM q, generate_series(1, 64) AS s(i)),
          ag AS (SELECT g, pos, CAST(sum(v) AS BIGINT) AS sv, count(*) AS n
                 FROM dm GROUP BY 1, 2),
          j AS (SELECT a.sv AS sa, b.sv AS sb, a.n AS na, b.n AS nb
                FROM ag a JOIN ag b ON a.pos = b.pos AND a.g = 0 AND b.g = 1)
          SELECT CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
                 CAST(sum(sa * sb) AS BIGINT) AS dot,
                 CAST(sum(sa * sa) AS BIGINT) AS na2,
                 CAST(sum(sb * sb) AS BIGINT) AS nb2,
                 round(CAST(sum(sa * sb) AS BIGINT)
                       / (sqrt(CAST(sum(sa * sa) AS BIGINT))
                          * sqrt(CAST(sum(sb * sb) AS BIGINT))), 6) AS cos_mean
          FROM j""",
    "e16_mmr" -> mmrOracle,
    // same permille grid, per-dim min/max, exact floor-division codes
    "e15_sq8" ->
      s"""WITH $quantSql,
          e AS (SELECT vec_id, unnest(qv) AS v,
                       CAST(generate_subscripts(qv, 1) AS BIGINT) AS dim
                FROM q),
          st AS (SELECT dim, min(v) AS mn, max(v) AS mx FROM e GROUP BY 1),
          c AS (SELECT vec_id,
                       CASE WHEN mx = mn THEN 0
                            ELSE ((v - mn) * 255) // (mx - mn) END AS code
                FROM e JOIN st USING (dim))
          SELECT vec_id, CAST(sum(code) AS BIGINT) AS sum_code,
                 CAST(sum(code*code) AS BIGINT) AS sum_code_sq,
                 count(*) AS n_dims
          FROM c GROUP BY 1""",
    // same quantized-cosine top-10, same (votes desc, label) majority
    "e13_knn_classify" ->
      s"""WITH $knnClassifyCte
          SELECT q_id, pred_label, votes, true_label, correct FROM preds""",
    // same cell counts; whole-partition window sums give the class and
    // prediction totals, permille by integer floor division
    "e14_confusion" ->
      s"""WITH $knnClassifyCte,
          cells AS (SELECT true_label, pred_label, count(*) AS n
                    FROM preds GROUP BY 1, 2)
          SELECT true_label, pred_label, n,
                 CAST(n * 1000 // CAST(sum(n) OVER (PARTITION BY true_label) AS BIGINT) AS BIGINT) AS recall_pm,
                 CAST(n * 1000 // CAST(sum(n) OVER (PARTITION BY pred_label) AS BIGINT) AS BIGINT) AS precision_pm
          FROM cells""",
    // exact top-3 vs same-bucket top-3 for the same probe set; pure
    // integer hit counts
    "e12_ann_recall" ->
      s"""WITH $quantSql, $bucketSql,
          ex AS (
            SELECT q_id, n_id FROM (
              SELECT a.vec_id AS q_id, b.vec_id AS n_id,
                     row_number() OVER (PARTITION BY a.vec_id ORDER BY
                       CAST(list_dot_product(a.qv, b.qv) AS DOUBLE)
                       / (sqrt(CAST(list_dot_product(a.qv, a.qv) AS DOUBLE))
                          * sqrt(CAST(list_dot_product(b.qv, b.qv) AS DOUBLE))) DESC,
                       b.vec_id) AS rank
              FROM q a JOIN q b ON a.vec_id % 50 = 0 AND a.vec_id <> b.vec_id) t
            WHERE rank <= 3),
          ap AS (
            SELECT q_id, n_id FROM (
              SELECT qa.vec_id AS q_id, qb.vec_id AS n_id,
                     row_number() OVER (PARTITION BY qa.vec_id ORDER BY
                       CAST(list_dot_product(qa.qv, qb.qv) AS DOUBLE)
                       / (sqrt(CAST(list_dot_product(qa.qv, qa.qv) AS DOUBLE))
                          * sqrt(CAST(list_dot_product(qb.qv, qb.qv) AS DOUBLE))) DESC,
                       qb.vec_id) AS rank
              FROM b ba JOIN b bb ON ba.bucket = bb.bucket
                   AND ba.vec_id % 50 = 0 AND ba.vec_id <> bb.vec_id
              JOIN q qa ON qa.vec_id = ba.vec_id
              JOIN q qb ON qb.vec_id = bb.vec_id) t
            WHERE rank <= 3),
          aa AS (SELECT q_id, count(*) AS n_approx FROM ap GROUP BY 1),
          ha AS (SELECT ex.q_id, count(*) AS n_hits
                 FROM ex JOIN ap ON ex.q_id = ap.q_id AND ex.n_id = ap.n_id
                 GROUP BY 1)
          SELECT e.q_id,
                 CAST(coalesce(aa.n_approx, 0) AS BIGINT) AS n_approx,
                 CAST(coalesce(ha.n_hits, 0) AS BIGINT) AS n_hits
          FROM (SELECT DISTINCT q_id FROM ex) e
          LEFT JOIN aa ON e.q_id = aa.q_id
          LEFT JOIN ha ON e.q_id = ha.q_id""",
    // same cross-multiplied integer threshold — no float ever compares
    "e10_range_search" ->
      s"""WITH $quantSql,
          n AS (SELECT vec_id, qv,
                       CAST(list_dot_product(qv, qv) AS BIGINT) AS nn
                FROM q),
          pairs AS (
            SELECT a.vec_id AS q_id, b.vec_id AS n_id,
                   CAST(list_dot_product(a.qv, b.qv) AS BIGINT) AS dot,
                   a.nn AS na, b.nn AS nb
            FROM n a JOIN n b ON a.vec_id % 40 = 0 AND a.vec_id <> b.vec_id)
          SELECT q_id, n_id, dot FROM pairs
          WHERE dot > 0 AND dot * dot * 100 >= na * nb * 9""",
    "e01_knn_cosine" ->
      s"""WITH $quantSql,
          pairs AS (
            SELECT a.vec_id AS q_id, b.vec_id AS n_id,
                   CAST(list_dot_product(a.qv, b.qv) AS DOUBLE)
                   / (sqrt(CAST(list_dot_product(a.qv, a.qv) AS DOUBLE))
                      * sqrt(CAST(list_dot_product(b.qv, b.qv) AS DOUBLE))) AS cos
            FROM q a JOIN q b ON a.vec_id % 50 = 0 AND a.vec_id <> b.vec_id)
          SELECT q_id, n_id, rank FROM (
            SELECT q_id, n_id,
                   row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
            FROM pairs) t
          WHERE rank <= 3""",
    "e02_lsh_buckets" ->
      s"""WITH $quantSql, $bucketSql
          SELECT vec_id, bucket FROM b""",
    "e03_ann_bucket" ->
      s"""WITH $quantSql, $bucketSql,
          pairs AS (
            SELECT qa.vec_id AS q_id, qb.vec_id AS n_id,
                   CAST(list_dot_product(qa.qv, qb.qv) AS DOUBLE)
                   / (sqrt(CAST(list_dot_product(qa.qv, qa.qv) AS DOUBLE))
                      * sqrt(CAST(list_dot_product(qb.qv, qb.qv) AS DOUBLE))) AS cos
            FROM b ba JOIN b bb ON ba.bucket = bb.bucket AND ba.vec_id <> bb.vec_id
            JOIN q qa ON qa.vec_id = ba.vec_id
            JOIN q qb ON qb.vec_id = bb.vec_id)
          SELECT q_id, n_id, rank FROM (
            SELECT q_id, n_id,
                   row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
            FROM pairs) t
          WHERE rank <= 1""",
    "e04_embed_neardup" ->
      s"""WITH $quantSql,
          bb AS (SELECT vec_id, bd.range AS band,
                   CAST(list_sum([CASE WHEN list_sum([((((bd.range*4 + ib)*64 + d)*1103515245 + 17) % 2147483647 % 2001 - 1000) * qv[d+1]
                                                      for d in generate_series(0,63)]) > 0
                                  THEN (1::BIGINT << ib) ELSE 0 END
                                  for ib in generate_series(0,3)]) AS BIGINT) AS bucket
                 FROM q, range(4) bd),
          cand AS (SELECT DISTINCT a.vec_id AS vec_a, b2.vec_id AS vec_b
                   FROM bb a JOIN bb b2
                     ON a.band = b2.band AND a.bucket = b2.bucket AND a.vec_id < b2.vec_id),
          scored AS (SELECT vec_a, vec_b,
                       CAST(list_dot_product(qa.qv, qb.qv) AS DOUBLE)
                       / (sqrt(CAST(list_dot_product(qa.qv, qa.qv) AS DOUBLE))
                          * sqrt(CAST(list_dot_product(qb.qv, qb.qv) AS DOUBLE))) AS cos
                     FROM cand JOIN q qa ON qa.vec_id = cand.vec_a
                               JOIN q qb ON qb.vec_id = cand.vec_b)
          SELECT vec_a, vec_b, cos FROM scored WHERE cos >= 0.3""",
    // rank by the raw integer dot — no float division anywhere
    "e07_mips" ->
      s"""WITH $quantSql,
          pairs AS (
            SELECT a.vec_id AS q_id, b.vec_id AS n_id,
                   CAST(list_dot_product(a.qv, b.qv) AS BIGINT) AS dot
            FROM q a JOIN q b ON a.vec_id % 50 = 0 AND a.vec_id <> b.vec_id)
          SELECT q_id, n_id, rank, dot FROM (
            SELECT q_id, n_id, dot,
                   row_number() OVER (PARTITION BY q_id ORDER BY dot DESC, n_id) AS rank
            FROM pairs) t
          WHERE rank <= 3""",
    // PQ/ADC: integer-exact end to end — codebook = subvectors of the 16
    // lowest-id vectors, codes by packed argmin, ADC = summed LUT lookups
    "e08_pq_adc" ->
      s"""WITH $quantSql,
          sv AS (SELECT vec_id, CAST(sub.range AS BIGINT) AS sub,
                   [qv[CAST(sub.range*8 + d + 1 AS BIGINT)] for d in generate_series(0,7)] AS sv
                 FROM q, range(8) sub),
          cents AS (SELECT vec_id AS cent_id, sub, sv AS cv FROM sv WHERE vec_id < 16),
          codes AS (SELECT s.vec_id, s.sub,
                      CAST(min((CAST(list_dot_product(s.sv,s.sv) AS BIGINT)
                                - 2*CAST(list_dot_product(s.sv,c.cv) AS BIGINT)
                                + CAST(list_dot_product(c.cv,c.cv) AS BIGINT))*16 + c.cent_id) % 16 AS BIGINT) AS code
                    FROM sv s JOIN cents c ON s.sub = c.sub GROUP BY s.vec_id, s.sub),
          lut AS (SELECT s.vec_id AS q_id, s.sub, c.cent_id,
                    CAST(list_dot_product(s.sv,s.sv) AS BIGINT)
                    - 2*CAST(list_dot_product(s.sv,c.cv) AS BIGINT)
                    + CAST(list_dot_product(c.cv,c.cv) AS BIGINT) AS d2
                  FROM sv s JOIN cents c ON s.sub = c.sub WHERE s.vec_id % 50 = 0),
          adist AS (SELECT l.q_id, co.vec_id AS n_id, CAST(sum(l.d2) AS BIGINT) AS adist
                    FROM codes co JOIN lut l ON l.sub = co.sub AND l.cent_id = co.code
                    WHERE l.q_id <> co.vec_id GROUP BY 1,2)
          SELECT q_id, n_id, rank, adist FROM (
            SELECT q_id, n_id, adist,
                   row_number() OVER (PARTITION BY q_id ORDER BY adist, n_id) AS rank
            FROM adist) t
          WHERE rank <= 3""",
    // IVF cell equality gates the e08 ADC join; otherwise identical CTEs
    "e09_ivf_pq" ->
      s"""WITH $quantSql,
          assign AS (
            SELECT v.vec_id,
                   CAST(min((list_dot_product(v.qv, v.qv)
                             - 2*list_dot_product(v.qv, c.qv)
                             + list_dot_product(c.qv, c.qv)) * 256 + c.vec_id) % 256
                        AS BIGINT) AS cell
            FROM q v, q c WHERE c.vec_id < 8 GROUP BY v.vec_id),
          sv AS (SELECT vec_id, CAST(sub.range AS BIGINT) AS sub,
                   [qv[CAST(sub.range*8 + d + 1 AS BIGINT)] for d in generate_series(0,7)] AS sv
                 FROM q, range(8) sub),
          cents AS (SELECT vec_id AS cent_id, sub, sv AS cv FROM sv WHERE vec_id < 16),
          codes AS (SELECT s.vec_id, s.sub,
                      CAST(min((CAST(list_dot_product(s.sv,s.sv) AS BIGINT)
                                - 2*CAST(list_dot_product(s.sv,c.cv) AS BIGINT)
                                + CAST(list_dot_product(c.cv,c.cv) AS BIGINT))*16 + c.cent_id) % 16 AS BIGINT) AS code
                    FROM sv s JOIN cents c ON s.sub = c.sub GROUP BY s.vec_id, s.sub),
          lut AS (SELECT s.vec_id AS q_id, s.sub, c.cent_id,
                    CAST(list_dot_product(s.sv,s.sv) AS BIGINT)
                    - 2*CAST(list_dot_product(s.sv,c.cv) AS BIGINT)
                    + CAST(list_dot_product(c.cv,c.cv) AS BIGINT) AS d2
                  FROM sv s JOIN cents c ON s.sub = c.sub WHERE s.vec_id % 50 = 0),
          adist AS (SELECT l.q_id, co.vec_id AS n_id, CAST(sum(l.d2) AS BIGINT) AS adist
                    FROM codes co JOIN lut l ON l.sub = co.sub AND l.cent_id = co.code
                    JOIN assign ac ON ac.vec_id = co.vec_id
                    JOIN assign aq ON aq.vec_id = l.q_id AND aq.cell = ac.cell
                    WHERE l.q_id <> co.vec_id GROUP BY 1,2)
          SELECT q_id, n_id, rank, adist FROM (
            SELECT q_id, n_id, adist,
                   row_number() OVER (PARTITION BY q_id ORDER BY adist, n_id) AS rank
            FROM adist) t
          WHERE rank <= 1""",
    "e05_ivf_ann" ->
      s"""WITH $quantSql,
          assign AS (
            SELECT v.vec_id,
                   CAST(min((list_dot_product(v.qv, v.qv)
                             - 2*list_dot_product(v.qv, c.qv)
                             + list_dot_product(c.qv, c.qv)) * 256 + c.vec_id) % 256
                        AS BIGINT) AS cell
            FROM q v, q c WHERE c.vec_id < 8 GROUP BY v.vec_id),
          pairs AS (
            SELECT qa.vec_id AS q_id, qb.vec_id AS n_id,
                   CAST(list_dot_product(qa.qv, qb.qv) AS DOUBLE)
                   / (sqrt(CAST(list_dot_product(qa.qv, qa.qv) AS DOUBLE))
                      * sqrt(CAST(list_dot_product(qb.qv, qb.qv) AS DOUBLE))) AS cos
            FROM assign aa JOIN assign ab
              ON aa.cell = ab.cell AND aa.vec_id <> ab.vec_id
            JOIN q qa ON qa.vec_id = aa.vec_id
            JOIN q qb ON qb.vec_id = ab.vec_id)
          SELECT q_id, n_id, rank FROM (
            SELECT q_id, n_id,
                   row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
            FROM pairs) t
          WHERE rank <= 1""",
  )
}
