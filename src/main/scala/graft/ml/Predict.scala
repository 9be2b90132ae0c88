package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.sources.Generators

/** ML parallel batch prediction — SURVEY.md §2.B4, the rebuild of the
  * reference's ParallelPostFit demo: fit a small model, broadcast it,
  * score a large dataset embarrassingly parallel
  * (reference README.md:277-295, docs/examples/examples.rst:119-142,
  * 800k samples / 20 chunks).
  *
  * The fit itself is distributed (one exact integer-domain aggregate
  * over the data — never a driver-side loop); only the closed-form
  * coefficients (two doubles) come back to the driver, then ship to
  * executors inside the scoring closure (the `scatter`/broadcast step).
  * Scoring runs in `mapPartitions` — the per-partition imperative shape
  * the reference used for chunked predict.
  */
object Predict {
  type Q = (SparkSession, String) => DataFrame

  final case class LinearModel(intercept: Double, slope: Double) {
    def predict(x: Double): Double = intercept + slope * x
  }

  /** Least-squares fit of yCents ≈ a + b·xCents from exact integer sums
    * (order-independent ⇒ identical coefficients on any cluster layout
    * or engine). One aggregation job over the data. */
  def fitCents(df: DataFrame, xCol: String, yCol: String): LinearModel = {
    // sxx/sxy accumulate in DECIMAL(38,0): per-row cents products reach
    // ~5e10, so a LongType sum silently wraps around sf>=200 under
    // non-ANSI Spark (the DuckDB oracle promotes to HUGEINT) — the
    // decimal path keeps the closed-form solve exact at warehouse scale.
    val xd = col("x").cast("decimal(19,0)")
    val yd = col("y").cast("decimal(19,0)")
    val r = df.select(
        round(col(xCol) * 100).cast("long").as("x"),
        round(col(yCol) * 100).cast("long").as("y"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
           sum(xd * xd).as("sxx"), sum(xd * yd).as("sxy"))
      .head()
    val n = r.getLong(0).toDouble
    val sx = r.getLong(1).toDouble; val sy = r.getLong(2).toDouble
    val sxx = r.getDecimal(3).doubleValue(); val sxy = r.getDecimal(4).doubleValue()
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val intercept = (sy - slope * sx) / n
    LinearModel(intercept, slope)
  }

  /** ml01: fit spend-per-quantity on lineitem, then broadcast-score every
    * row with mapPartitions. Exact-oracle: the coefficients come from
    * exact integer sums and the per-row arithmetic is a fixed IEEE
    * expression shape mirrored in SQL. */
  def predictLineitem(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d)
    val model = fitCents(li, "l_quantity", "l_extendedprice")
    val bc = s.sparkContext.broadcast(model)
    li.select(col("l_orderkey"), col("l_linenumber"),
        round(col("l_quantity") * 100).cast("long").as("xc"))
      .as[(Long, Int, Long)]
      .mapPartitions { it =>
        val m = bc.value
        it.map { case (ok, ln, xc) => (ok, ln, m.predict(xc.toDouble)) }
      }
      .toDF("l_orderkey", "l_linenumber", "pred_cents")
  }

  /** ml02: the reference's headline predict scale — 800k generated
    * samples, broadcast linear scorer, one aggregated profile row.
    * Integer-domain throughout (LCG features, LCG scoring weights with a
    * *different* salt than the ground truth, so the confusion counts are
    * nontrivial): every dot product is an exact 64-bit integer, making
    * the (n, n_correct, n_pos) profile bit-reproducible in SQL — this
    * upgrades the former rows-only gate to a hash-matched oracle. The
    * broadcast-scorer mapPartitions shape (the point of B4) is unchanged. */
  def predictGenerated(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val data = Generators.makeClassificationLcg(s, 800000L, 20, seed = 5L)
    val ws = Array.tabulate(20)(j => ((8888L * 20 + j) * 1103515245L + 5L) % 2147483647L % 1000L - 500L)
    val bc = s.sparkContext.broadcast(ws)
    data.select(col("row_id"), col("features"), col("label"))
      .as[(Long, Array[Long], Long)]
      .mapPartitions { it =>
        val w = bc.value
        it.map { case (_, x, label) =>
          var dot = 0L; var j = 0
          while (j < w.length) { dot += w(j) * x(j); j += 1 }
          val pred = if (dot > 0L) 1L else 0L
          (pred, label, if (pred == label) 1L else 0L)
        }
      }
      .toDF("pred", "label", "hit")
      .agg(count(lit(1)).as("n"), sum(col("hit")).as("n_correct"),
           sum(col("pred")).as("n_pos"))
  }

  /** ml03: `spark.ml` LinearSVC variant of the broadcast-predict shape —
    * the rebuild of the reference's `ParallelPostFit(SVC(gamma='scale'))`
    * demo (reference README.md:277-295): fit a hinge-loss linear model
    * on a small train slice (the "cheap fit" half of ParallelPostFit),
    * then score the full corpus embarrassingly parallel through the
    * model's `transform` — coefficients ship to executors inside the
    * predict closure, no shuffle of the scored data.
    *
    * Hash-matched via margin construction (upgrading the round-4
    * rows-only gate): the corpus is the integer LCG classification set
    * restricted to points whose ground-truth functional margin |wg·x|
    * exceeds 2e5 (≈0.54σ — ~59% of rows survive; geometric margin ≈12%
    * of the feature radius). The solver's coefficients are still not
    * SQL-expressible — but they don't need to be: ANY adequately
    * converged large-margin separator classifies every margin point
    * identically to the ground truth, so the scored confusion profile
    * (n, n_correct=n, n_pos) is fully determined by the LCG labels and
    * the DuckDB oracle can state it in closed form. MlSpec asserts the
    * 100%-on-margin-points property directly; the near-boundary regime
    * (where solver identity would matter) stays covered rows-only-free
    * by ml02/ml05's exact-integer scorers.
    *
    * Measured convergence headroom (tools/Ml03HeadroomProbe, Spark
    * 4.1.2 local[32]): cos(ŵ, wg) = 0.9277; 0 of 68,617 margin points
    * misclassified; min |ŵ·x + b| over margin points = 0.538 against a
    * median of 2.79 (max 8.07) — the nearest margin point sits at ~19%
    * of the typical decision magnitude from the fitted boundary, so a
    * flip requires a perturbation of the fit direction far beyond
    * float-reduction-order noise. If this gate ever flakes, re-run the
    * probe and compare against these numbers. */
  /** ml03's fixture and fit — the ONE definition of the ground-truth
    * weight vector, margin cut, train slice, and SVC hyperparameters,
    * shared with `tools.Ml03HeadroomProbe` so the recorded headroom
    * numbers always describe exactly the gate's model. Returns
    * (margin-filtered data with `features_v`, scoring model, wg). The
    * scoring model is `copy(ParamMap.empty)` of the fitted one: the copy
    * keeps uid, coefficients and intercept but not the training summary,
    * whose DataFrame would pull the SparkSession into every scoring
    * closure. */
  private[graft] def svcMarginFixture(s: SparkSession)
      : (DataFrame, org.apache.spark.ml.classification.LinearSVCModel, Array[Long]) = {
    import org.apache.spark.ml.classification.LinearSVC
    import org.apache.spark.ml.functions.array_to_vector
    val dim = 20
    // deliberately NOT persisted: regenerating the seeded features is a
    // cheap map, and measured end-to-end the persist+eager-checkpoint
    // staging costs more than the two regeneration passes it saves
    val wg = Array.tabulate(dim)(j =>
      ((9999L * dim + j) * 1103515245L + 11L) % 2147483647L % 1000L - 500L)
    val data = Generators.makeClassificationLcg(s, 100000L, dim, seed = 11L)
      .withColumn("dot", aggregate(
        zip_with(col("features"), lit(wg), (x, w) => x * w),
        lit(0L), (acc, t) => acc + t))
      .filter(abs(col("dot")) > 200000L)
      .withColumn("features_v",
        array_to_vector(transform(col("features"), _.cast("double"))))
    val model = new LinearSVC().setMaxIter(25).setRegParam(1e-6)
      .setFeaturesCol("features_v").setLabelCol("label")
      .fit(data.filter(col("row_id") % 20 === 0))       // 5% train slice
    (data, model.copy(org.apache.spark.ml.param.ParamMap.empty), wg)
  }

  def predictSvc(s: SparkSession, d: String): DataFrame = {
    val (data, model, _) = svcMarginFixture(s)
    model.transform(data)
      .agg(count(lit(1)).as("n"),
           sum(when(col("prediction") === col("label"), 1L).otherwise(0L)).as("n_correct"),
           sum(col("prediction")).cast("long").as("n_pos"))
  }

  /** ml05: NONLINEAR broadcast-score — a polynomial-kernel machine over
    * exact integers, closing the gap ml03 leaves open (the reference demo
    * is a kernel SVC, `ParallelPostFit(SVC(gamma='scale'))`, reference
    * README.md:290-292, but iterative solver coefficients aren't
    * SQL-expressible, so ml03 is rows-only forever). Here the kernel
    * machine is fully deterministic: support set = the first 16 data rows,
    * ŷₛ = ±1 from the ground truth, αₛ ≥ 0 from an LCG with its own salt,
    * score(x) = Σₛ αₛ·ŷₛ·(1 + xₛᵀx)² — a degree-2 polynomial kernel in
    * exact 64-bit arithmetic (|xₛᵀx| ≤ 5e6 ⇒ |score| ≤ 2e17 < 2⁶³), so
    * the full confusion profile hash-matches the DuckDB oracle.
    * The broadcast-score shape is identical to ml01/ml02: the 16×20
    * support matrix + alphas ship to executors once; scoring is
    * mapPartitions, map-only, no shuffle of the scored corpus. */
  def predictKernel(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val n = 200000L; val dim = 20; val m = 16; val seed = 5L
    // support vectors = data rows 0..15 (same closed-form LCG as the
    // generator, so nothing is collected — the "fit" is a driver-side
    // formula, the scale cost is scoring)
    val sv = Array.tabulate(m, dim)((si, j) =>
      ((si.toLong * dim + j) * 1103515245L + seed) % 2147483647L % 1000L - 500L)
    val wg = Array.tabulate(dim)(j =>
      ((9999L * dim + j) * 1103515245L + seed) % 2147483647L % 1000L - 500L)
    val ys = sv.map { x =>
      var dot = 0L; var j = 0
      while (j < dim) { dot += wg(j) * x(j); j += 1 }
      if (dot > 0L) 1L else -1L
    }
    val alpha = Array.tabulate(m)(si =>
      ((7777L * m + si) * 1103515245L + seed) % 2147483647L % 500L)
    val bc = s.sparkContext.broadcast((sv, ys, alpha))
    Generators.makeClassificationLcg(s, n, dim, seed)
      .select(col("features"), col("label")).as[(Array[Long], Long)]
      .mapPartitions { it =>
        val (svv, yss, al) = bc.value
        it.map { case (x, label) =>
          var score = 0L; var si = 0
          while (si < svv.length) {
            val sx = svv(si)
            var dot = 0L; var j = 0
            while (j < x.length) { dot += sx(j) * x(j); j += 1 }
            val t = 1L + dot
            score += al(si) * yss(si) * t * t
            si += 1
          }
          val pred = if (score > 0L) 1L else 0L
          (pred, label, if (pred == label) 1L else 0L)
        }
      }
      .toDF("pred", "label", "hit")
      .agg(count(lit(1)).as("n"), sum(col("hit")).as("n_correct"),
           sum(col("pred")).as("n_pos"))
  }

  /** ml06: 5-fold cross-validation from MERGEABLE sufficient statistics
    * — the distributed-CV algebra: one groupBy(fold) pass collects each
    * fold's exact {n, Σx, Σy, Σx², Σxy}; every fold's TRAINING stats
    * are then total − fold (pure subtraction in the exact decimal
    * domain — no second data pass per fold, the same shard-local/merge-
    * upward shape as t31/t35 sketches), closed-form per-fold models,
    * and one broadcast join scores every row against its own held-out
    * fold's model. Fold assignment is the t15/q32 deterministic md5
    * hash (retry-idempotent, engine-independent). Validation error is
    * the sum of |rounded residual| — integer, so exact cross-engine.
    * Scale: two passes over the data total (stats + scoring),
    * regardless of fold count. */
  def kfoldCv(s: SparkSession, d: String): DataFrame = {
    val folds = 5
    val h = conv(substring(md5(concat_ws("_", col("l_orderkey"),
      col("l_linenumber"))), 1, 15), 16, 10).cast("long") % folds
    val r = Tables.lineitem(s, d).select(
        round(col("l_quantity") * 100).cast("long").as("x"),
        round(col("l_extendedprice") * 100).cast("long").as("y"),
        h.as("fold"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val xd = col("x").cast("decimal(19,0)"); val yd = col("y").cast("decimal(19,0)")
    val fs = r.groupBy(col("fold")).agg(
      count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(xd * xd).as("sxx"), sum(xd * yd).as("sxy"))
    val tot = fs.agg(sum(col("n")).as("tn"), sum(col("sx")).as("tsx"),
      sum(col("sy")).as("tsy"), sum(col("sxx")).as("tsxx"), sum(col("sxy")).as("tsxy"))
    // training stats = total − fold, subtracted EXACTLY, then one cast
    val nC = (col("tn") - col("n")).cast("double")
    val sxC = (col("tsx") - col("sx")).cast("double")
    val syC = (col("tsy") - col("sy")).cast("double")
    val sxxC = (col("tsxx") - col("sxx")).cast("double")
    val sxyC = (col("tsxy") - col("sxy")).cast("double")
    val slope = (nC * sxyC - sxC * syC) / (nC * sxxC - sxC * sxC)
    val models = fs.crossJoin(broadcast(tot))
      .select(col("fold"), (col("tn") - col("n")).as("n_train"), col("n").as("n_val"),
              slope.as("slope"), ((syC - slope * sxC) / nC).as("icept"))
    val resid = col("y").cast("double") -
      (col("icept") + col("slope") * col("x").cast("double"))
    val out = r.join(broadcast(models), "fold")
      .select(col("fold"), col("n_train"), col("n_val"), col("slope"), col("icept"),
              abs(round(resid)).cast("long").as("ae"))
      .groupBy(col("fold"), col("n_train"), col("n_val"))
      .agg(round(max(col("slope")), 6).as("slope"),
           round(max(col("icept")), 4).as("icept"),
           sum(col("ae")).as("sae"))
      .localCheckpoint(true)
    r.unpersist(false)
    out
  }

  /** ml07: hashing-trick text featurization + linear scoring — the
    * feature-extraction half of ParallelPostFit-style batch prediction
    * applied to raw text: each token hashes into one of 512 buckets
    * (the classic feature-hashing trick — no vocabulary to build, no
    * fit pass, memory O(buckets)) and the doc's score is the sum of its
    * buckets' model weights, token multiplicity included. The weight
    * vector here is a deterministic integer function of the bucket id
    * (an already-fitted model, exactly SQL-expressible), so the gate
    * checks the full hash→bucket→weight→sum pipeline bit-for-bit.
    * Scale shape: the hashed feature vector NEVER materializes — the
    * bucket lookup and the weighted sum fuse into one array expression
    * inside the scan projection; zero shuffles at any corpus size (the
    * at-scale ideal for model scoring: pure map). */
  def hashFeatureScore(s: SparkSession, d: String): DataFrame = {
    import graft.operators.TextSim
    val score = aggregate(
      transform(col("ws"), t =>
        (TextSim.h64(t) % 512L) * 2654435761L % 1001L - 500L),
      lit(0L), (acc, x) => acc + x)
    TextSim.spread(graft.core.Tables.documents(s, d))
      .select(col("doc_id"), TextSim.words(col("text")).as("ws"))
      .select(col("doc_id"), score.as("score"))
      .select(col("doc_id"), col("score"),
              when(col("score") > 0, 1L).otherwise(0L).as("pred"))
  }

  /** ml08: StandardScaler fit + transform over the embedding corpus —
    * the feature-normalization step every dask-ml/spark.ml pipeline
    * runs before a distance-based model. FIT is one partial-aggregable
    * pass collecting per-dimension exact integer power sums (n, Σq,
    * Σq²) over the quantized vectors — 64 rows of state total, however
    * large the corpus; mean/std derive from the sums with ONE float
    * tail mirrored token-for-token by the oracle. TRANSFORM broadcasts
    * those 64 stat rows back onto the cells — a map-side join, the
    * corpus never shuffles. Output: z-scores for a deterministic probe
    * slice (every 20th vector × first 8 dims) with the fitted stats
    * inline, hash-exact at round(6). */
  def standardScaler(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Similarity
    val cells = graft.core.Tables.embeddings(s, d)
      .select(col("vec_id"),
        posexplode(Similarity.quantize(col("embedding"))).as(Seq("dim", "q")))
    val stats = cells.groupBy(col("dim").cast("long").as("dim"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("sx"),
           sum(col("q") * col("q")).as("sxx"))
    val nd = col("n").cast("double")
    val sxd = col("sx").cast("double")
    val sxxd = col("sxx").cast("double")
    val mean = sxd / nd
    val std = sqrt((nd * sxxd - sxd * sxd) / (nd * (nd - lit(1.0))))
    cells.filter(col("vec_id") % 20 === 0 && col("dim") < 8)
      .select(col("vec_id"), col("dim").cast("long").as("dim"), col("q"))
      .join(broadcast(stats), "dim")
      .select(col("vec_id"), col("dim"),
        round((col("q").cast("double") - mean) / std, 6).as("z"),
        round(mean, 6).as("mean"), round(std, 6).as("std"))
  }

  /** ml09: one-hot encoding (dask_ml/pandas `get_dummies` after
    * `categorize`) — the categorical-to-numeric expansion every tabular
    * model pipeline runs. Faithful two-pass shape: pass 1 DISCOVERS the
    * category set (a distinct over the column — the dask `categorize`
    * step; the collect is bounded by category cardinality, never data
    * size), pass 2 expands each discovered category into a 0/1 dummy
    * column in ONE map-side projection — no shuffle beyond the final
    * per-nation aggregation, which partial-combines. Output stays
    * bounded (nations × (2 + |categories|) exact integers). The oracle
    * pins the discovered set (the five TPC-H segments, sorted) — same
    * dynamic-schema contract pandas has: column set = category set. */
  def oneHotDummies(s: SparkSession, d: String): DataFrame = {
    val c = graft.core.Tables.customer(s, d)
      .select(col("c_nationkey"), col("c_mktsegment"))
    val cats = c.select(col("c_mktsegment")).distinct()
      .collect().map(_.getString(0)).sorted
    val dummies = cats.toSeq.map { seg =>
      sum(when(col("c_mktsegment") === seg, 1L).otherwise(0L))
        .as("seg_" + seg.toLowerCase)
    }
    c.groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_cust"), dummies: _*)
  }

  /** ml10: distributed SYNCHRONOUS full-batch subgradient descent — the
    * data-parallel training loop itself (the shape under every
    * large-scale SGD/AllReduce pipeline), not just post-fit scoring:
    * per epoch, every partition computes a partial subgradient, one
    * tree-aggregated reduce combines them, the driver applies the
    * model-sized update and re-broadcasts. Three epochs of the batch
    * perceptron rule w ← w + Σ_{yᵢ(w·xᵢ)≤0} yᵢxᵢ over lineitem features
    * x = (quantity, discount-cents, 1), y = ±1 on returnflag='R'. All
    * arithmetic is integer (no learning rate, no float), so the oracle
    * unrolls the three epochs exactly. What moves per epoch: the 3-long
    * model to executors, ONE 4-long partial per partition back — the
    * driver holds model-sized state only, at any data scale. Output:
    * (epoch, misclassified count, w) — the training curve. */
  def parallelSgd(s: SparkSession, d: String): DataFrame = {
    val facts = Tables.lineitem(s, d).select(
        col("l_quantity").cast("long").as("x1"),
        round(col("l_discount") * 100).cast("long").as("x2"),
        when(col("l_returnflag") === "R", 1L).otherwise(-1L).as("y"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var w = (0L, 0L, 0L)
    val curve = (1 to 3).map { epoch =>
      val m = col("y") * (lit(w._1) * col("x1") + lit(w._2) * col("x2") + lit(w._3))
      val g = facts.filter(m <= 0)
        .agg(count(lit(1)).as("mis"),
             coalesce(sum(col("y") * col("x1")), lit(0L)).as("g1"),
             coalesce(sum(col("y") * col("x2")), lit(0L)).as("g2"),
             coalesce(sum(col("y")), lit(0L)).as("gb"))
        .collect().head   // ONE model-sized row per epoch — the AllReduce result
      w = (w._1 + g.getLong(1), w._2 + g.getLong(2), w._3 + g.getLong(3))
      (epoch.toLong, g.getLong(0), w._1, w._2, w._3)
    }
    facts.unpersist(false)
    import s.implicits._
    curve.toDF("epoch", "mis", "w1", "w2", "wb")
  }

  /** ml11: RIDGE REGRESSION, closed form — the regularized sibling of
    * q70's OLS, per returnflag: β = (XᵀX + λI)⁻¹ Xᵀt for two features
    * (quantity, discount-cents) → price cents, λ = 1000 in squared
    * feature units. The whole fit is ONE partial-aggregable pass over
    * the facts (five exact decimal(38,0) power sums, map-side combined);
    * the 2×2 inverse is the explicit determinant closed form — a
    * six-operation double tail the oracle mirrors token-for-token on
    * HUGEINT sums. The distributed shape is the AllReduce-to-normal-
    * equations pattern every d≪N linear model trains with at 100 TB:
    * gram-matrix sums shrink the data to O(d²) per partition, the solve
    * is free. */
  def ridgeClosedForm(s: SparkSession, d: String): DataFrame = {
    val dec = "decimal(38,0)"
    val sums = Tables.lineitem(s, d).select(
        col("l_returnflag").as("k"),
        round(col("l_quantity")).cast("long").cast(dec).as("x"),
        round(col("l_discount") * 100).cast("long").cast(dec).as("y"),
        round(col("l_extendedprice") * 100).cast("long").cast(dec).as("t"))
      .groupBy(col("k")).agg(
        count(lit(1)).as("n"),
        sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("t")).as("sxt"), sum(col("y") * col("t")).as("syt"))
    val lam = lit(1000.0)
    val (sxx, sxy, syy) = (col("sxx").cast("double"), col("sxy").cast("double"),
                           col("syy").cast("double"))
    val (sxt, syt) = (col("sxt").cast("double"), col("syt").cast("double"))
    val det = (sxx + lam) * (syy + lam) - sxy * sxy
    sums.select(col("k"), col("n"),
      round(((syy + lam) * sxt - sxy * syt) / det, 6).as("beta_qty"),
      round(((sxx + lam) * syt - sxy * sxt) / det, 6).as("beta_disc"))
  }

  /** ml12: PCA, closed form — the 2-feature principal-component
    * decomposition via the exact 2×2 eigenvalue formula:
    * λ± = ((cxx+cyy) ± √((cxx−cyy)² + 4cxy²)) / 2 over the n²-scaled
    * integer covariance entries cxx = nΣx²−(Σx)² (scale cancels in
    * every reported ratio). Like ml11, the whole fit is one
    * partial-aggregable pass shrinking the data to O(d²) sums — the
    * 100 TB PCA-whitening recipe for d ≪ N — and the eigen tail is
    * sqrt/±/÷ only (IEEE-exact, mirrored; no iterative eigensolver, no
    * pow). Reports the explained-variance ratio of PC1 and the
    * covariance trace; degenerate groups (trace 0) are gated on exact
    * integers. */
  def pcaClosedForm(s: SparkSession, d: String): DataFrame = {
    val dec = "decimal(38,0)"
    val sums = Tables.lineitem(s, d).select(
        col("l_returnflag").as("k"),
        round(col("l_quantity")).cast("long").cast(dec).as("x"),
        round(col("l_discount") * 100).cast("long").cast(dec).as("y"))
      .groupBy(col("k")).agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy"))
    val nD = col("n").cast(dec)
    val cxx = (nD * col("sxx") - col("sx") * col("sx")).cast("double")
    val cyy = (nD * col("syy") - col("sy") * col("sy")).cast("double")
    val cxy = (nD * col("sxy") - col("sx") * col("sy")).cast("double")
    val lamMax = (cxx + cyy + sqrt((cxx - cyy) * (cxx - cyy) + lit(4.0) * cxy * cxy)) / 2.0
    sums
      .filter(nD * col("sxx") - col("sx") * col("sx") +
              (nD * col("syy") - col("sy") * col("sy")) =!= lit(0).cast(dec))
      .select(col("k"), col("n"),
              round(lamMax / (cxx + cyy), 6).as("evr_pc1"))
  }

  /** ml13: NEAREST-CENTROID (Rocchio) TEXT CLASSIFIER — train/predict
    * entirely in the engine: class profiles are per-(lang, token) counts
    * over the training split (doc_id % 5 ≠ 0), normalized to exact
    * integer ppm of the class token mass (the t49 log-free discipline —
    * this is multinomial scoring with the float log replaced by a
    * monotone integer rate), and each held-out document's class score is
    * the tf·rate dot product, argmax with a deterministic (score desc,
    * class) tie-break. Distributed shape: tokens shuffle once per split
    * into partial-combined count aggregates; the class-total attachment
    * broadcasts (|classes| rows); the tf→profile join keys on the token
    * (vocabulary-sized, NOT broadcast — vocab grows with the corpus);
    * the argmax is a per-doc row_number over ≤ |classes| rows. Integer
    * end-to-end: per-doc scores ≤ doc_len·10⁶, exact in int64. */
  def centroidClassify(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.TextSim
    val base = TextSim.spread(Tables.documents(s, d))
      .select(col("doc_id"), col("lang"), TextSim.words(col("text")).as("ws0"))
      .select(col("doc_id"), col("lang"),
              expr("filter(ws0, w -> w <> '')").as("ws"))
    val toks = base.select(col("doc_id"), col("lang"), explode(col("ws")).as("tok"))
    val prof = toks.filter(col("doc_id") % 5 =!= 0)
      .groupBy(col("lang").as("c"), col("tok"))
      .agg(count(lit(1)).as("n_cw"))
    val classTot = prof.groupBy(col("c")).agg(sum(col("n_cw")).as("n_c"))
    val rates = prof.join(broadcast(classTot), "c")
      .select(col("tok"), col("c"), expr("(n_cw * 1000000) div n_c").as("r_ppm"))
    val tf = toks.filter(col("doc_id") % 5 === 0)
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val scores = tf.join(rates, "tok")
      .groupBy(col("doc_id"), col("c"))
      .agg(sum(col("tf") * col("r_ppm")).as("score"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("c"))
    scores.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .join(base.select(col("doc_id"), col("lang")), "doc_id")
      .select(col("doc_id"), col("c").as("pred"), col("score"),
              when(col("c") === col("lang"), 1L).otherwise(0L).as("is_correct"))
  }

  /** ml14: DECISION-STUMP TRAINING — the full threshold sweep for a
    * one-split tree on an integer feature (l_quantity ∈ 1..50, label
    * l_returnflag = 'R'), minimizing exact misclassification count
    * (min(pos,neg) on each side — the stump criterion that stays in
    * integers, unlike Gini's rationals). Distributed shape: ONE
    * partial-combined groupBy collapses the fact table to |domain| = 50
    * (value, n, n_pos) rows; the cumulative sweep, totals, and argmin
    * then run windows over those 50 rows — per-row work is O(rows),
    * decision work is O(|domain| log |domain|), the same two-phase
    * split-finding layout xgboost/lightgbm histograms use. Emits the
    * whole sweep (every candidate's side counts + error) with the
    * chosen split flagged, deterministic (err, thr) tie-break. */
  def stumpTrain(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perX = Tables.lineitem(s, d)
      .select(col("l_quantity").cast("long").as("x"),
              when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
      .groupBy(col("x"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("np"))
    val wCum = Window.orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    val sides = perX.select(col("x").as("thr"),
        sum(col("n")).over(wCum).as("nl"), sum(col("np")).over(wCum).as("pl"),
        sum(col("n")).over(wAll).as("nt"), sum(col("np")).over(wAll).as("pt"))
      .select(col("thr"), col("nl"), col("pl"),
              (col("nt") - col("nl")).as("nr"), (col("pt") - col("pl")).as("pr"))
      .select(col("thr"), col("nl"), col("pl"), col("nr"), col("pr"),
              (least(col("pl"), col("nl") - col("pl")) +
               least(col("pr"), col("nr") - col("pr"))).as("err"))
    sides.select(col("thr"), col("nl"), col("pl"), col("nr"), col("pr"), col("err"),
      when(row_number().over(Window.orderBy(col("err"), col("thr"))) === 1, 1L)
        .otherwise(0L).as("is_best"))
  }

  /** ml15: EXACT ROC-AUC via the rank-sum (Mann–Whitney U) identity —
    * AUC = (wins + ties/2) / (n_pos·n_neg) over all pos/neg pairs,
    * computed WITHOUT materializing pairs: scores quantize to a
    * DOMAIN-bounded grid (price in tens of dollars — ≤ ~10⁴ bins at any
    * row count, the histogram-AUC every large-scale eval uses), one
    * partial-combined groupBy collapses N rows to the grid, and a
    * cumulative window over the grid turns pair counting into
    * Σ np(s)·(2·cum_nn(<s) + nn(s)) — integer-exact 2U. The only
    * single-task step touches the bounded grid, never rows. Emitted as
    * u2 (= 2U) and auc_ppm = u2·5·10⁵ div (n_pos·n_neg). */
  def aucEval(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perS = Tables.lineitem(s, d)
      .select(expr("cast(round(l_extendedprice * 100) as bigint) div 1000").as("score"),
              when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
      .groupBy(col("score"))
      .agg(sum(col("y")).as("np"), (count(lit(1)) - sum(col("y"))).as("nn"))
    val wBelow = Window.orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, -1)
    perS.select(col("np"), col("nn"),
        coalesce(sum(col("nn")).over(wBelow), lit(0L)).as("cnn"))
      .agg(sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"),
           sum(col("np") * (lit(2L) * col("cnn") + col("nn"))).as("u2"))
      .select(col("n_pos"), col("n_neg"), col("u2"),
              expr("(u2 * 500000) div (n_pos * n_neg)").as("auc_ppm"))
  }

  /** ml16: CHI-SQUARE CONTINGENCY — per-cell χ² contributions for the
    * returnflag × quantity-quintile table, the feature-independence
    * test behind categorical feature selection. ONE partial-combined
    * groupBy collapses the fact table to the 15-cell grid; margins
    * attach as tiny broadcasts. Exactness discipline: O, R, C, T and
    * the signed residual Δ = O·T − R·C stay in int64 (|Δ| ≤ N² fits
    * comfortably at fixture scales); only the final χ² cell value takes
    * the mirrored IEEE tail — two exact long→double casts, one
    * multiply, one divide, round(6) — so the hash matches bit-for-bit.
    * Per-cell emission (not the summed statistic) keeps every float op
    * a single mirrored expression, never an order-dependent
    * aggregation. */
  def chi2Contingency(s: SparkSession, d: String): DataFrame = {
    val cells = Tables.lineitem(s, d)
      .select(col("l_returnflag").as("f"),
              expr("(cast(l_quantity as bigint) - 1) div 10").as("b"))
      .groupBy(col("f"), col("b")).agg(count(lit(1)).as("o"))
    val rowT = cells.groupBy(col("f")).agg(sum(col("o")).as("r_tot"))
    val colT = cells.groupBy(col("b")).agg(sum(col("o")).as("c_tot"))
    val tot = cells.groupBy().agg(sum(col("o")).as("t_tot"))
    cells.join(broadcast(rowT), "f").join(broadcast(colT), "b")
      .crossJoin(broadcast(tot))
      .select(col("f"), col("b"), col("o"), col("r_tot"), col("c_tot"), col("t_tot"),
              (col("o") * col("t_tot") - col("r_tot") * col("c_tot")).as("delta"))
      .select(col("f"), col("b"), col("o"), col("r_tot"), col("c_tot"),
              col("t_tot"), col("delta"),
              round((col("delta").cast("double") * col("delta").cast("double")) /
                    (col("r_tot") * col("c_tot") * col("t_tot")).cast("double"), 6)
                .as("chi2_cell"))
  }

  /** ml17: POPULATION STABILITY INDEX — the drift monitor every
    * deployed model ships with: PSI = Σ (p_b − q_b)·ln(p_b/q_b) between
    * the early (≤1995) and late (>1995) order-price distributions, per
    * order priority. Distribution state is DOMAIN-bounded ($1000 price
    * buckets); shares are single mirrored IEEE divisions and each
    * term floors to integer nanos BEFORE the sum (the t46 discipline —
    * the reduction is then order-independent and engine-exact).
    * One-sided buckets (mass in only one period) are counted, not
    * ln(0)'d — the practitioner epsilon question surfaces as an
    * explicit column instead of a fudge. */
  def psiDrift(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d).select(
      col("o_orderpriority").as("prio"),
      expr("cast(round(o_totalprice * 100) as bigint) div 100000").as("bucket"),
      when(year(col("o_orderdate").cast("date")) <= 1995, "a").otherwise("b").as("period"))
    val cnt = base.groupBy(col("prio"), col("bucket"))
      .agg(sum(when(col("period") === "a", 1L).otherwise(0L)).as("ca"),
           sum(when(col("period") === "b", 1L).otherwise(0L)).as("cb"))
    val tot = cnt.groupBy(col("prio"))
      .agg(sum(col("ca")).as("ta"), sum(col("cb")).as("tb"))
    val p = col("ca").cast("double") / col("ta").cast("double")
    val q = col("cb").cast("double") / col("tb").cast("double")
    cnt.join(broadcast(tot), "prio")
      .select(col("prio"), col("ca"), col("cb"),
        when(col("ca") > 0 && col("cb") > 0,
             floor((p - q) * log(p / q) * lit(1.0e9)).cast("long")).as("nano"))
      .groupBy(col("prio"))
      .agg(count(lit(1)).as("n_buckets"),
           sum(when(col("nano").isNull, 1L).otherwise(0L)).as("n_onesided"),
           sum(col("nano")).as("psi_nano"))
      .select(col("prio"), col("n_buckets"), col("n_onesided"), col("psi_nano"),
              round(col("psi_nano").cast("double") / lit(1.0e9), 6).as("psi"))
  }

  /** ml18: TWO-SAMPLE KOLMOGOROV–SMIRNOV — D = max_s |F_a(s) − F_b(s)|
    * between the same two price populations, computed EXACTLY in
    * integers: on the domain-bounded dollar grid, |cum_a·tot_b −
    * cum_b·tot_a| is the cross-multiplied CDF gap (no float CDFs), its
    * max is one more grid aggregate, and D lands as exact ppm. The
    * whole statistic = one partial-combined histogram + one bounded
    * cumulative window + one max — the distributed KS every feature-
    * drift suite wants and scipy can't scale. */
  def ksTest(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grid = Tables.orders(s, d).select(
        expr("cast(round(o_totalprice * 100) as bigint) div 100000").as("bucket"),
        when(year(col("o_orderdate").cast("date")) <= 1995, 1L).otherwise(0L).as("isa"))
      .groupBy(col("bucket"))
      .agg(sum(col("isa")).as("ca"), sum(lit(1L) - col("isa")).as("cb"))
    val wCum = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    grid.select(col("bucket"),
        sum(col("ca")).over(wCum).as("cuma"), sum(col("cb")).over(wCum).as("cumb"),
        sum(col("ca")).over(wAll).as("ta"), sum(col("cb")).over(wAll).as("tb"))
      .select(abs(col("cuma") * col("tb") - col("cumb") * col("ta")).as("gap"),
              col("ta"), col("tb"))
      .groupBy().agg(max(col("gap")).as("d_num"),
                     max(col("ta")).as("n_a"), max(col("tb")).as("n_b"))
      .select(col("n_a"), col("n_b"), col("d_num"),
              expr("(d_num * 1000000) div (n_a * n_b)").as("d_ppm"))
  }

  /** ml19: EXTERNAL MODEL-ARTIFACT INGESTION — the reference's
    * torch/keras/numpy payload handlers (`SS/wukong/protocol/torch.py`,
    * `keras.py`, `numpy.py`): a model serialized OUTSIDE the engine
    * arrives as a binary artifact and must become a broadcast scorer.
    * A 2×4 weight matrix (two scorers × four features) is staged as an
    * NPY v1 file from an EXECUTOR (the src15 staging pattern), ingested
    * back through binaryFile → `NpyLite.read`, and broadcast into a
    * map-side lineitem scoring pass — the artifact never rides a
    * shuffle, the fact table never collects. All-integer weights and
    * cent-domain features keep every score exact; the oracle recomputes
    * the weights from the LCG closed form. */
  def npyModelScore(s: SparkSession, d: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    import graft.sources.{FileFormats, NpyLite}
    val tmp = FileFormats.scratch("npy")
    FileFormats.deleteTree(Paths.get(tmp))
    Files.createDirectories(Paths.get(tmp))
    s.range(1).foreach { _ =>
      val w = Array.tabulate(8)(k =>
        (graft.array.DMatrix.lcg(k / 4, k % 4, 4, 37L) % 100L).toDouble)
      Files.write(Paths.get(tmp, "model.npy"),
        NpyLite.write(Array(2L, 4L), w, asInt = true))
      ()
    }
    val bytes = s.read.format("binaryFile").option("pathGlobFilter", "*.npy")
      .load(tmp).select("content").head.getAs[Array[Byte]](0)
    val m = NpyLite.read(bytes)
    require(m.dims.sameElements(Array(2L, 4L)), s"bad model shape ${m.dims.mkString("x")}")
    val w = s.sparkContext.broadcast(m.data)
    val feats = Tables.lineitem(s, d).select(
      col("l_returnflag"),
      col("l_quantity").cast("long").as("f0"),
      expr("cast(round(l_extendedprice * 100) as bigint) div 100").as("f1"),
      expr("cast(round(l_discount * 100) as bigint)").as("f2"),
      expr("cast(round(l_tax * 100) as bigint)").as("f3"))
    val wv = w.value.map(v => lit(v.toLong))
    feats.select(col("l_returnflag"),
        (wv(0) * col("f0") + wv(1) * col("f1") + wv(2) * col("f2") + wv(3) * col("f3")).as("s0"),
        (wv(4) * col("f0") + wv(5) * col("f1") + wv(6) * col("f2") + wv(7) * col("f3")).as("s1"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
           sum(col("s0")).cast("long").as("score0_sum"),
           sum(col("s1")).cast("long").as("score1_sum"),
           sum(when(col("s0") > col("s1"), 1L).otherwise(0L)).as("n_pick0"))
      .orderBy(col("l_returnflag"))
  }

  /** ml20: KERAS-LAYOUT HDF5 MODEL INGESTION — the reference's keras
    * payload handler (`SS/wukong/protocol/keras.py`): a trained MLP's
    * weight file arrives in the nested-group HDF5 layout keras writes
    * (`model_weights/<layer>/<layer>/{kernel:0,bias:0}`) and must become
    * a broadcast scorer. A 4→3 relu layer + 3→1 output layer with
    * integer LCG weights is staged from an EXECUTOR via
    * [[graft.sources.Hdf5Lite.writeTree]], ingested back through
    * binaryFile → path-qualified dataset decode, broadcast, and scored
    * map-side over the ml19 cent-domain lineitem features — forward
    * pass entirely in exact integers (relu = greatest(0, ·)), so the
    * oracle recomputes the weights in closed form. The artifact never
    * rides a shuffle; the fact table never collects. */
  def kerasModelScore(s: SparkSession, d: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    import graft.sources.{FileFormats, Hdf5Lite}
    import graft.sources.Hdf5Lite.{H5Ds, H5Group}
    val tmp = FileFormats.scratch("keras")
    FileFormats.deleteTree(Paths.get(tmp))
    Files.createDirectories(Paths.get(tmp))
    s.range(1).foreach { _ =>
      def lcg(i: Long, j: Long, n: Long, seed: Long): Double =
        (graft.array.DMatrix.lcg(i, j, n, seed) % 100L - 50L).toDouble
      val tree = Seq(H5Group("model_weights", Seq(
        H5Group("dense", Seq(H5Group("dense", Seq(
          H5Ds("kernel:0", Array(4L, 3L), Array.tabulate(12)(k => lcg(k / 3, k % 3, 3, 41L))),
          H5Ds("bias:0", Array(3L), Array.tabulate(3)(j => lcg(j, 0, 1, 43L))))))),
        H5Group("dense_1", Seq(H5Group("dense_1", Seq(
          H5Ds("kernel:0", Array(3L, 1L), Array.tabulate(3)(j => lcg(j, 0, 1, 47L))),
          H5Ds("bias:0", Array(1L), Array(lcg(0, 0, 1, 53L))))))))))
      Files.write(Paths.get(tmp, "weights.h5"), Hdf5Lite.writeTree(tree, asInt = true))
      ()
    }
    val bytes = s.read.format("binaryFile").option("pathGlobFilter", "*.h5")
      .load(tmp).select("content").head.getAs[Array[Byte]](0)
    def tensor(path: String, dims: Array[Long]): Array[Long] = {
      val t = Hdf5Lite.readDataset(bytes, path)
      require(t.dims.sameElements(dims),
        s"$path: shape ${t.dims.mkString("x")} != ${dims.mkString("x")}")
      t.data.map(_.toLong)
    }
    val w1 = tensor("model_weights/dense/dense/kernel:0", Array(4L, 3L))
    val b1 = tensor("model_weights/dense/dense/bias:0", Array(3L))
    val w2 = tensor("model_weights/dense_1/dense_1/kernel:0", Array(3L, 1L))
    val b2 = tensor("model_weights/dense_1/dense_1/bias:0", Array(1L))
    val model = s.sparkContext.broadcast((w1, b1, w2, b2))
    val feats = Tables.lineitem(s, d).select(
      col("l_returnflag"),
      col("l_quantity").cast("long").as("f0"),
      expr("cast(round(l_extendedprice * 100) as bigint) div 100").as("f1"),
      expr("cast(round(l_discount * 100) as bigint)").as("f2"),
      expr("cast(round(l_tax * 100) as bigint)").as("f3"))
    val (mw1, mb1, mw2, mb2) = model.value
    val fs = Seq(col("f0"), col("f1"), col("f2"), col("f3"))
    val h = (0 until 3).map { j =>
      greatest(lit(0L),
        (0 until 4).map(i => lit(mw1(i * 3 + j)) * fs(i)).reduce(_ + _) + lit(mb1(j)))
    }
    val y = (0 until 3).map(j => h(j) * lit(mw2(j))).reduce(_ + _) + lit(mb2(0))
    feats.select(col("l_returnflag"), y.as("y"),
        (h(0) + h(1) + h(2)).as("act"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
           sum(col("y")).cast("long").as("score_sum"),
           sum(when(col("y") > 0, 1L).otherwise(0L)).as("n_pos"),
           sum(col("act")).cast("long").as("act_sum"))
      .orderBy(col("l_returnflag"))
  }

  val queries: Map[String, Q] = Map(
    "ml20_keras_model"   -> (kerasModelScore _),
    "ml19_npy_model"     -> (npyModelScore _),
    "ml18_ks"            -> (ksTest _),
    "ml17_psi"           -> (psiDrift _),
    "ml16_chi2"          -> (chi2Contingency _),
    "ml15_auc"           -> (aucEval _),
    "ml14_stump"         -> (stumpTrain _),
    "ml13_centroid_text" -> (centroidClassify _),
    "ml12_pca"           -> (pcaClosedForm _),
    "ml11_ridge"         -> (ridgeClosedForm _),
    "ml10_parallel_sgd"  -> (parallelSgd _),
    "ml08_std_scaler"    -> (standardScaler _),
    "ml09_onehot"        -> (oneHotDummies _),
    "ml01_predict"       -> (predictLineitem _),
    "ml02_predict_bench" -> (predictGenerated _),
    "ml03_predict_svc"   -> (predictSvc _),
    "ml05_predict_kernel" -> (predictKernel _),
    "ml06_kfold_cv"      -> (kfoldCv _),
    "ml07_hash_features" -> (hashFeatureScore _),
  )

  /** The ml10 oracle: the same three epochs unrolled — generated so the
    * epoch count and update rule cannot drift between loop and SQL. */
  private def sgdOracle(epochs: Int): String = {
    val base = """WITH f AS (
         SELECT CAST(l_quantity AS BIGINT) AS x1,
                CAST(round(l_discount*100) AS BIGINT) AS x2,
                CASE WHEN l_returnflag = 'R' THEN CAST(1 AS BIGINT)
                     ELSE CAST(-1 AS BIGINT) END AS y
         FROM lineitem),
       w0 AS (SELECT CAST(0 AS BIGINT) AS w1, CAST(0 AS BIGINT) AS w2,
                     CAST(0 AS BIGINT) AS wb)"""
    val steps = (1 to epochs).map { e =>
      s""",
       g$e AS (SELECT count(*) AS mis,
                      CAST(COALESCE(sum(y * x1), 0) AS BIGINT) AS s1,
                      CAST(COALESCE(sum(y * x2), 0) AS BIGINT) AS s2,
                      CAST(COALESCE(sum(y), 0) AS BIGINT) AS sb
               FROM f, w${e - 1}
               WHERE y * (w${e - 1}.w1 * x1 + w${e - 1}.w2 * x2 + w${e - 1}.wb) <= 0),
       w$e AS (SELECT w${e - 1}.w1 + g$e.s1 AS w1, w${e - 1}.w2 + g$e.s2 AS w2,
                      w${e - 1}.wb + g$e.sb AS wb
               FROM w${e - 1}, g$e)"""
    }.mkString
    val rows = (1 to epochs).map { e =>
      s"SELECT CAST($e AS BIGINT) AS epoch, g$e.mis AS mis, w$e.w1, w$e.w2, w$e.wb FROM g$e, w$e"
    }.mkString("\n       UNION ALL ")
    base + steps + "\n       " + rows
  }

  /** The staged NPY weight w[k] = lcg(k/4, k%4, 4, 37) % 100 in closed
    * form (i*4+j == k, so the LCG collapses to one term per k). */
  private def wSql(k: Int) = s"((CAST($k AS BIGINT)*1103515245+37)%2147483647%100)"

  /** The staged keras weights in closed form: kernel1[i][j] over a
    * 4×3 LCG grid, the rest 1-column grids — all shifted to [-50, 49]. */
  private def kerasW(i: Int, j: Int, n: Int, seed: Int) =
    s"((CAST(${i * n + j} AS BIGINT)*1103515245+$seed)%2147483647%100 - 50)"

  val oracles: Map[String, String] = Map(
    // same cent-domain features, the staged nested-group weights in
    // closed form, relu as greatest(0, ·) — pure BIGINT end to end
    "ml20_keras_model" -> {
      val hj = (0 until 3).map { j =>
        val lin = (0 until 4).map(i => s"${kerasW(i, j, 3, 41)}*f$i").mkString(" + ")
        s"GREATEST(CAST(0 AS BIGINT), $lin + ${kerasW(j, 0, 1, 43)}) AS h$j"
      }.mkString(",\n                 ")
      val y = (0 until 3).map(j => s"h$j*${kerasW(j, 0, 1, 47)}").mkString(" + ") +
        s" + ${kerasW(0, 0, 1, 53)}"
      s"""WITH f AS (SELECT l_returnflag,
                 CAST(l_quantity AS BIGINT) AS f0,
                 CAST(round(l_extendedprice*100) AS BIGINT)//100 AS f1,
                 CAST(round(l_discount*100) AS BIGINT) AS f2,
                 CAST(round(l_tax*100) AS BIGINT) AS f3
               FROM lineitem),
          hid AS (SELECT l_returnflag,
                 $hj
               FROM f),
          sc AS (SELECT l_returnflag, $y AS y, h0 + h1 + h2 AS act FROM hid)
          SELECT l_returnflag, count(*) AS n,
                 CAST(sum(y) AS BIGINT) AS score_sum,
                 CAST(sum(CASE WHEN y > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
                 CAST(sum(act) AS BIGINT) AS act_sum
          FROM sc GROUP BY 1 ORDER BY 1"""
    },
    // integer cent-domain features, the staged weights in closed form —
    // the artifact moved a model, never values
    "ml19_npy_model" ->
      s"""WITH f AS (SELECT l_returnflag,
                 CAST(l_quantity AS BIGINT) AS f0,
                 CAST(round(l_extendedprice*100) AS BIGINT)//100 AS f1,
                 CAST(round(l_discount*100) AS BIGINT) AS f2,
                 CAST(round(l_tax*100) AS BIGINT) AS f3
               FROM lineitem),
          s AS (SELECT l_returnflag,
                 ${wSql(0)}*f0 + ${wSql(1)}*f1 + ${wSql(2)}*f2 + ${wSql(3)}*f3 AS s0,
                 ${wSql(4)}*f0 + ${wSql(5)}*f1 + ${wSql(6)}*f2 + ${wSql(7)}*f3 AS s1
               FROM f)
          SELECT l_returnflag, count(*) AS n,
                 CAST(sum(s0) AS BIGINT) AS score0_sum,
                 CAST(sum(s1) AS BIGINT) AS score1_sum,
                 CAST(sum(CASE WHEN s0 > s1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pick0
          FROM s GROUP BY 1 ORDER BY 1""",
    // same $1000 buckets and period split, same per-term floor-nano
    // ln discipline (t46), one-sided buckets counted not ln(0)'d
    "ml17_psi" ->
      """WITH b AS (SELECT o_orderpriority AS prio,
                           CAST(round(o_totalprice * 100) AS BIGINT) // 100000 AS bucket,
                           CASE WHEN year(CAST(o_orderdate AS DATE)) <= 1995
                                THEN 'a' ELSE 'b' END AS period
                    FROM orders),
         c AS (SELECT prio, bucket,
                      CAST(sum(CASE WHEN period = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                      CAST(sum(CASE WHEN period = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS cb
               FROM b GROUP BY 1, 2),
         t AS (SELECT prio, CAST(sum(ca) AS BIGINT) AS ta,
                      CAST(sum(cb) AS BIGINT) AS tb FROM c GROUP BY 1),
         n AS (SELECT c.prio, c.ca, c.cb,
                      CASE WHEN c.ca > 0 AND c.cb > 0 THEN
                        CAST(floor((CAST(c.ca AS DOUBLE) / CAST(t.ta AS DOUBLE)
                                  - CAST(c.cb AS DOUBLE) / CAST(t.tb AS DOUBLE))
                                 * ln((CAST(c.ca AS DOUBLE) / CAST(t.ta AS DOUBLE))
                                    / (CAST(c.cb AS DOUBLE) / CAST(t.tb AS DOUBLE)))
                                 * 1.0e9) AS BIGINT)
                      END AS nano
               FROM c JOIN t ON c.prio = t.prio)
         SELECT prio, count(*) AS n_buckets,
                CAST(sum(CASE WHEN nano IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_onesided,
                CAST(sum(nano) AS BIGINT) AS psi_nano,
                round(CAST(sum(nano) AS BIGINT) / 1.0e9, 6) AS psi
         FROM n GROUP BY 1""",
    // same dollar grid, same cross-multiplied integer CDF gap
    "ml18_ks" ->
      """WITH g AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) // 100000 AS bucket,
                           CAST(sum(CASE WHEN year(CAST(o_orderdate AS DATE)) <= 1995
                                         THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                           CAST(sum(CASE WHEN year(CAST(o_orderdate AS DATE)) <= 1995
                                         THEN 0 ELSE 1 END) AS BIGINT) AS cb
                    FROM orders GROUP BY 1),
         c AS (SELECT bucket,
                      CAST(sum(ca) OVER (ORDER BY bucket
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS BIGINT) AS cuma,
                      CAST(sum(cb) OVER (ORDER BY bucket
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS BIGINT) AS cumb,
                      CAST(sum(ca) OVER () AS BIGINT) AS ta,
                      CAST(sum(cb) OVER () AS BIGINT) AS tb
               FROM g),
         a AS (SELECT CAST(max(abs(cuma * tb - cumb * ta)) AS BIGINT) AS d_num,
                      CAST(max(ta) AS BIGINT) AS n_a,
                      CAST(max(tb) AS BIGINT) AS n_b
               FROM c)
         SELECT n_a, n_b, d_num, (d_num * 1000000) // (n_a * n_b) AS d_ppm
         FROM a""",
    // same 15-cell grid, same int64 margins/residual, same two-cast
    // one-multiply one-divide round(6) double tail
    "ml16_chi2" ->
      """WITH c AS (SELECT l_returnflag AS f,
                           (CAST(l_quantity AS BIGINT) - 1) // 10 AS b,
                           count(*) AS o
                    FROM lineitem GROUP BY 1, 2),
         rt AS (SELECT f, CAST(sum(o) AS BIGINT) AS r_tot FROM c GROUP BY 1),
         ct AS (SELECT b, CAST(sum(o) AS BIGINT) AS c_tot FROM c GROUP BY 1),
         tt AS (SELECT CAST(sum(o) AS BIGINT) AS t_tot FROM c),
         j AS (SELECT c.f, c.b, c.o, rt.r_tot, ct.c_tot, tt.t_tot,
                      c.o * tt.t_tot - rt.r_tot * ct.c_tot AS delta
               FROM c JOIN rt ON c.f = rt.f JOIN ct ON c.b = ct.b
               CROSS JOIN tt)
         SELECT f, b, o, r_tot, c_tot, t_tot, delta,
                round((CAST(delta AS DOUBLE) * CAST(delta AS DOUBLE))
                      / CAST(r_tot * c_tot * t_tot AS DOUBLE), 6) AS chi2_cell
         FROM j""",
    // same tens-of-dollars score grid, same strictly-below cumulative
    // and 2U pair identity — integers end to end
    "ml15_auc" ->
      """WITH g AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) // 1000 AS score,
                           CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                                AS BIGINT) AS np,
                           CAST(count(*) - sum(CASE WHEN l_returnflag = 'R'
                                               THEN 1 ELSE 0 END) AS BIGINT) AS nn
                    FROM lineitem GROUP BY 1),
         c AS (SELECT np, nn,
                      CAST(coalesce(sum(nn) OVER (ORDER BY score
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                           AS BIGINT) AS cnn
               FROM g),
         a AS (SELECT CAST(sum(np) AS BIGINT) AS n_pos,
                      CAST(sum(nn) AS BIGINT) AS n_neg,
                      CAST(sum(np * (2 * cnn + nn)) AS BIGINT) AS u2
               FROM c)
         SELECT n_pos, n_neg, u2, (u2 * 500000) // (n_pos * n_neg) AS auc_ppm
         FROM a""",
    // same 50-value histogram, same cumulative sides and integer
    // misclassification; DuckDB's default RANGE frame equals the
    // explicit ROWS frame because x is distinct per row
    "ml14_stump" ->
      """WITH g AS (SELECT CAST(l_quantity AS BIGINT) AS x, count(*) AS n,
                           CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                                AS BIGINT) AS np
                    FROM lineitem GROUP BY 1),
         c AS (SELECT x AS thr,
                      CAST(sum(n) OVER (ORDER BY x) AS BIGINT) AS nl,
                      CAST(sum(np) OVER (ORDER BY x) AS BIGINT) AS pl,
                      CAST(sum(n) OVER () AS BIGINT) AS nt,
                      CAST(sum(np) OVER () AS BIGINT) AS pt
               FROM g),
         e AS (SELECT thr, nl, pl, nt - nl AS nr, pt - pl AS pr FROM c),
         f AS (SELECT thr, nl, pl, nr, pr,
                      least(pl, nl - pl) + least(pr, nr - pr) AS err FROM e)
         SELECT thr, nl, pl, nr, pr, err,
                CAST(CASE WHEN row_number() OVER (ORDER BY err, thr) = 1
                     THEN 1 ELSE 0 END AS BIGINT) AS is_best
         FROM f""",
    // same integer ppm rates over the same 80/20 doc_id split; sum of
    // BIGINT is DECIMAL in DuckDB — cast the score back; same argmax
    // tie-break (score desc, class)
    "ml13_centroid_text" ->
      """WITH d AS (
           SELECT doc_id, lang,
                  list_filter(string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' '),
                              w -> w <> '') AS ws
           FROM documents),
         t AS (SELECT doc_id, lang, unnest(ws) AS tok FROM d),
         p AS (SELECT lang AS c, tok, count(*) AS n_cw
               FROM t WHERE doc_id % 5 <> 0 GROUP BY 1, 2),
         ct AS (SELECT c, CAST(sum(n_cw) AS BIGINT) AS n_c FROM p GROUP BY 1),
         r AS (SELECT p.tok, p.c, (p.n_cw * 1000000) // ct.n_c AS r_ppm
               FROM p JOIN ct ON p.c = ct.c),
         tf AS (SELECT doc_id, tok, count(*) AS tf
                FROM t WHERE doc_id % 5 = 0 GROUP BY 1, 2),
         sc AS (SELECT tf.doc_id, r.c, CAST(sum(tf.tf * r.r_ppm) AS BIGINT) AS score
                FROM tf JOIN r ON tf.tok = r.tok GROUP BY 1, 2),
         b AS (SELECT doc_id, c, score,
                      row_number() OVER (PARTITION BY doc_id
                                         ORDER BY score DESC, c) AS rn
               FROM sc)
         SELECT b.doc_id, b.c AS pred, b.score,
                CAST(CASE WHEN b.c = dl.lang THEN 1 ELSE 0 END AS BIGINT) AS is_correct
         FROM b JOIN (SELECT doc_id, lang FROM documents) dl
                ON b.doc_id = dl.doc_id
         WHERE b.rn = 1""",
    // HUGEINT covariance entries; identical sqrt-eigenvalue double tail
    "ml12_pca" ->
      """WITH f AS (SELECT l_returnflag AS k,
                           CAST(round(l_quantity) AS BIGINT) AS x,
                           CAST(round(l_discount*100) AS BIGINT) AS y
                    FROM lineitem),
         s AS (SELECT k, count(*) AS n,
                      sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
                      sum(CAST(x AS HUGEINT)*x) AS sxx,
                      sum(CAST(x AS HUGEINT)*y) AS sxy,
                      sum(CAST(y AS HUGEINT)*y) AS syy
               FROM f GROUP BY 1),
         c AS (SELECT k, n,
                      CAST(n*sxx - sx*sx AS DOUBLE) AS cxx,
                      CAST(n*syy - sy*sy AS DOUBLE) AS cyy,
                      CAST(n*sxy - sx*sy AS DOUBLE) AS cxy
               FROM s
               WHERE n*sxx - sx*sx + (n*syy - sy*sy) <> 0)
         SELECT k, n,
                round((cxx + cyy + sqrt((cxx - cyy)*(cxx - cyy) + 4.0*cxy*cxy)) / 2.0
                      / (cxx + cyy), 6) AS evr_pc1
         FROM c""",
    // HUGEINT power sums; the same six-operation 2×2-inverse double tail
    "ml11_ridge" ->
      """WITH f AS (SELECT l_returnflag AS k,
                           CAST(round(l_quantity) AS BIGINT) AS x,
                           CAST(round(l_discount*100) AS BIGINT) AS y,
                           CAST(round(l_extendedprice*100) AS BIGINT) AS t
                    FROM lineitem),
         s AS (SELECT k, count(*) AS n,
                      sum(CAST(x AS HUGEINT)*x) AS sxx, sum(CAST(x AS HUGEINT)*y) AS sxy,
                      sum(CAST(y AS HUGEINT)*y) AS syy,
                      sum(CAST(x AS HUGEINT)*t) AS sxt, sum(CAST(y AS HUGEINT)*t) AS syt
               FROM f GROUP BY 1)
         SELECT k, n,
                round(((CAST(syy AS DOUBLE) + 1000.0) * CAST(sxt AS DOUBLE)
                       - CAST(sxy AS DOUBLE) * CAST(syt AS DOUBLE))
                     /((CAST(sxx AS DOUBLE) + 1000.0) * (CAST(syy AS DOUBLE) + 1000.0)
                       - CAST(sxy AS DOUBLE) * CAST(sxy AS DOUBLE)), 6) AS beta_qty,
                round(((CAST(sxx AS DOUBLE) + 1000.0) * CAST(syt AS DOUBLE)
                       - CAST(sxy AS DOUBLE) * CAST(sxt AS DOUBLE))
                     /((CAST(sxx AS DOUBLE) + 1000.0) * (CAST(syy AS DOUBLE) + 1000.0)
                       - CAST(sxy AS DOUBLE) * CAST(sxy AS DOUBLE)), 6) AS beta_disc
         FROM s""",
    "ml10_parallel_sgd" -> sgdOracle(3),
    // the oracle pins the discovered category set (pass-1 distinct,
    // sorted): the five TPC-H market segments of the fixture
    "ml09_onehot" ->
      """SELECT c_nationkey, count(*) AS n_cust,
                CAST(sum(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END) AS BIGINT) AS seg_automobile,
                CAST(sum(CASE WHEN c_mktsegment = 'BUILDING'   THEN 1 ELSE 0 END) AS BIGINT) AS seg_building,
                CAST(sum(CASE WHEN c_mktsegment = 'FURNITURE'  THEN 1 ELSE 0 END) AS BIGINT) AS seg_furniture,
                CAST(sum(CASE WHEN c_mktsegment = 'HOUSEHOLD'  THEN 1 ELSE 0 END) AS BIGINT) AS seg_household,
                CAST(sum(CASE WHEN c_mktsegment = 'MACHINERY'  THEN 1 ELSE 0 END) AS BIGINT) AS seg_machinery
         FROM customer GROUP BY 1""",
    // same integer power sums per dimension, same single float tail:
    // (q − sx/n) / sqrt((n·sxx − sx·sx)/(n·(n−1))), rounded once
    "ml08_std_scaler" ->
      """WITH q AS (
           SELECT vec_id,
                  list_transform(embedding,
                    x -> CAST(floor(CAST(x AS DOUBLE)*1000 + 0.5) AS BIGINT)) AS qv
           FROM embeddings),
         cells AS (
           SELECT vec_id, d.dim, qv[d.dim + 1] AS qc
           FROM q, (SELECT UNNEST(generate_series(0, 63)) AS dim) d),
         st AS (
           SELECT dim, count(*) AS n,
                  CAST(sum(qc) AS BIGINT) AS sx,
                  CAST(sum(qc*qc) AS BIGINT) AS sxx
           FROM cells GROUP BY 1),
         sd AS (
           SELECT dim, CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
                  CAST(sxx AS DOUBLE) AS sxxd
           FROM st)
         SELECT c.vec_id, CAST(c.dim AS BIGINT) AS dim,
                round((CAST(c.qc AS DOUBLE) - s.sxd/s.nd)
                      / sqrt((s.nd*s.sxxd - s.sxd*s.sxd) / (s.nd*(s.nd - 1.0))), 6) AS z,
                round(s.sxd/s.nd, 6) AS mean,
                round(sqrt((s.nd*s.sxxd - s.sxd*s.sxd) / (s.nd*(s.nd - 1.0))), 6) AS std
         FROM cells c JOIN sd s ON c.dim = s.dim
         WHERE c.vec_id % 20 = 0 AND c.dim < 8""",
    // same hash→bucket→weight→sum per token, in one list expression
    "ml07_hash_features" ->
      """WITH d AS (
           SELECT doc_id,
                  string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ') AS ws
           FROM documents),
         sc AS (
           SELECT doc_id,
                  CAST(list_sum(list_transform(ws, t ->
                    ((('0x'||substr(md5(t),1,15))::BIGINT % 512) * 2654435761) % 1001 - 500))
                    AS BIGINT) AS score
           FROM d)
         SELECT doc_id, score,
                CAST(CASE WHEN score > 0 THEN 1 ELSE 0 END AS BIGINT) AS pred
         FROM sc""",
    // complement stats subtracted in the exact integer domain, cast to
    // double ONCE; the closed-form + residual trees mirror Spark's
    "ml06_kfold_cv" ->
      """WITH c AS (SELECT CAST(round(l_quantity*100) AS BIGINT) AS x,
                           CAST(round(l_extendedprice*100) AS BIGINT) AS y,
                           ('0x' || substr(md5(l_orderkey || '_' || l_linenumber), 1, 15))::BIGINT % 5 AS fold
                    FROM lineitem),
         fs AS (SELECT fold, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                       sum(CAST(x AS HUGEINT)*x) AS sxx, sum(CAST(x AS HUGEINT)*y) AS sxy
                FROM c GROUP BY 1),
         tot AS (SELECT sum(n) AS tn, sum(sx) AS tsx, sum(sy) AS tsy,
                        sum(sxx) AS tsxx, sum(sxy) AS tsxy FROM fs),
         m AS (SELECT fold, tn - n AS n_train, n AS n_val,
                      CAST(tn - n AS DOUBLE) AS nc, CAST(tsx - sx AS DOUBLE) AS sxc,
                      CAST(tsy - sy AS DOUBLE) AS syc, CAST(tsxx - sxx AS DOUBLE) AS sxxc,
                      CAST(tsxy - sxy AS DOUBLE) AS sxyc
               FROM fs, tot),
         m2 AS (SELECT fold, n_train, n_val, nc, sxc, syc,
                       (nc*sxyc - sxc*syc) / (nc*sxxc - sxc*sxc) AS slope
                FROM m),
         m3 AS (SELECT fold, n_train, n_val, slope,
                       (syc - slope*sxc) / nc AS icept FROM m2)
         SELECT c.fold, CAST(m3.n_train AS BIGINT) AS n_train,
                CAST(m3.n_val AS BIGINT) AS n_val,
                round(max(m3.slope), 6) AS slope, round(max(m3.icept), 4) AS icept,
                CAST(sum(abs(CAST(round(CAST(c.y AS DOUBLE)
                  - (m3.icept + m3.slope * CAST(c.x AS DOUBLE))) AS BIGINT))) AS BIGINT) AS sae
         FROM c JOIN m3 USING (fold) GROUP BY 1, 2, 3""",
    "ml01_predict" ->
      """WITH c AS (SELECT l_orderkey, l_linenumber,
                CAST(round(l_quantity * 100) AS BIGINT) AS x,
                CAST(round(l_extendedprice * 100) AS BIGINT) AS y
           FROM lineitem),
         s AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
                CAST(sum(x*x) AS DOUBLE) AS sxx, CAST(sum(x*y) AS DOUBLE) AS sxy
           FROM c),
         m AS (SELECT (n*sxy - sx*sy) / (n*sxx - sx*sx) AS slope,
                      (sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx) / n AS intercept
           FROM s)
         SELECT c.l_orderkey, c.l_linenumber,
                m.intercept + m.slope * CAST(c.x AS DOUBLE) AS pred_cents
         FROM c, m""",
    "ml02_predict_bench" ->
      """WITH w AS (
           SELECT j.range AS j,
                  ((9999*20 + j.range)*1103515245 + 5) % 2147483647 % 1000 - 500 AS wg,
                  ((8888*20 + j.range)*1103515245 + 5) % 2147483647 % 1000 - 500 AS ws
           FROM range(20) j),
         d AS (
           SELECT i.range AS i,
                  sum(w.wg * (((i.range*20 + w.j)*1103515245 + 5) % 2147483647 % 1000 - 500)) AS dg,
                  sum(w.ws * (((i.range*20 + w.j)*1103515245 + 5) % 2147483647 % 1000 - 500)) AS ds
           FROM range(800000) i, w GROUP BY 1),
         s AS (SELECT CASE WHEN dg > 0 THEN 1 ELSE 0 END AS label,
                      CASE WHEN ds > 0 THEN 1 ELSE 0 END AS pred FROM d)
         SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CASE WHEN pred = label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
                CAST(sum(pred) AS BIGINT) AS n_pos
         FROM s""",
    // margin construction: every |wg·x| > 2e5 point classifies to its
    // ground-truth label under any adequately converged separator, so
    // the profile is closed-form in the LCG (see predictSvc scaladoc).
    "ml03_predict_svc" ->
      """WITH f AS (
           SELECT i.range AS i, j.range AS j,
                  ((i.range*20 + j.range)*1103515245 + 11) % 2147483647 % 1000 - 500 AS x,
                  ((9999*20 + j.range)*1103515245 + 11) % 2147483647 % 1000 - 500 AS w
           FROM range(100000) i, range(20) j),
         d AS (SELECT i, sum(w*x) AS dot FROM f GROUP BY 1),
         m AS (SELECT CASE WHEN dot > 0 THEN 1 ELSE 0 END AS label
               FROM d WHERE abs(dot) > 200000)
         SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(count(*) AS BIGINT) AS n_correct,
                CAST(sum(label) AS BIGINT) AS n_pos
         FROM m""",
    "ml05_predict_kernel" ->
      """WITH sup AS (
           SELECT s.range AS sid,
                  ((7777*16 + s.range)*1103515245 + 5) % 2147483647 % 500 AS alpha,
                  CASE WHEN list_sum([
                         (((9999*20 + j)*1103515245 + 5) % 2147483647 % 1000 - 500)
                       * (((s.range*20 + j)*1103515245 + 5) % 2147483647 % 1000 - 500)
                         for j in generate_series(0,19)]) > 0
                  THEN 1 ELSE -1 END AS ys
           FROM range(16) s),
         pairs AS (
           SELECT i.range AS i, sup.alpha, sup.ys,
                  list_sum([
                    (((sup.sid*20 + j)*1103515245 + 5) % 2147483647 % 1000 - 500)
                  * (((i.range*20 + j)*1103515245 + 5) % 2147483647 % 1000 - 500)
                    for j in generate_series(0,19)]) AS d
           FROM range(200000) i, sup),
         scores AS (
           SELECT i, sum(alpha * ys * (1+d) * (1+d)) AS score
           FROM pairs GROUP BY i),
         labels AS (
           SELECT i.range AS i,
                  CASE WHEN list_sum([
                         (((9999*20 + j)*1103515245 + 5) % 2147483647 % 1000 - 500)
                       * (((i.range*20 + j)*1103515245 + 5) % 2147483647 % 1000 - 500)
                         for j in generate_series(0,19)]) > 0
                  THEN 1 ELSE 0 END AS label
           FROM range(200000) i),
         p AS (SELECT sc.i, CASE WHEN sc.score > 0 THEN 1 ELSE 0 END AS pred, l.label
               FROM scores sc JOIN labels l ON sc.i = l.i)
         SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CASE WHEN pred = label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
                CAST(sum(pred) AS BIGINT) AS n_pos
         FROM p""",
  )
}
