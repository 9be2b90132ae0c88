package graft.plans

import graft.{SparkEntry, SparkSpec}
import graft.core.EntryMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Scale-discipline audit: the plan-shape properties each operator
  * family's 100 TB story rests on, asserted against the REAL executed
  * plans at fixture scale — pushdown reaching the parquet scan, column
  * pruning, map-only stages staying exchange-free, and the rank-filter
  * rewrite firing where it should. A refactor that silently loses one
  * of these properties fails here, not at the next scale-up.
  */
class PlanAuditSpec extends SparkSpec {

  private def run(name: String): DataFrame = SparkEntry.queries(name)(spark, sfDir)

  private def planString(df: DataFrame): String = {
    val p = df.queryExecution.executedPlan
    val fin = p match { case a: AdaptiveSparkPlanExec => a.executedPlan; case o => o }
    fin.toString
  }

  private def scans(df: DataFrame): Seq[FileSourceScanExec] =
    df.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }

  /** Every node of a plan, through adaptive plans, query stages and
    * reused exchanges. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => nodes(r.child)
    case o => o.children.flatMap(nodes)
  })

  /** Writes `df` to a noop sink and returns the final plan that write ran
    * (AQE's, after execution), captured from the execution listener. */
  private def writtenPlan(df: DataFrame): SparkPlan =
    EntryMetrics.finalPlan(metrics.capture(df.write.format("noop").mode("overwrite").save())._2.last)

  test("q02 filter+projection: predicate pushed to the scan, columns pruned") {
    val df = run("q02_project_filter")
    val scan = scans(df).head
    assert(scan.metadata.get("PushedFilters").exists(_ != "[]"),
      s"no pushed filters on the lineitem scan: ${scan.metadata}")
    // projection must prune the scan schema far below the full table width
    val readCols = scan.schema.fieldNames.length
    assert(readCols <= 6, s"scan reads $readCols columns — pruning lost")
  }

  test("map-only operators stay exchange-free end to end") {
    // each of these is a pure per-row pipeline; any KEYED Exchange in
    // the plan means a refactor introduced an accidental shuffle. The
    // one allowed exception is spread()'s round-robin repartition (CPU
    // spreading of a single-split fixture scan; a no-op at warehouse
    // scale), which moves no keys and adds no sort.
    for (name <- Seq("t01_token_count", "t03_quality", "t04_fingerprint",
                     "t11_token_pieces", "t12_rolling_fp", "t15_stratified_sample",
                     "t17_seq_chunks", "t29_pii_scrub", "e02_lsh_buckets",
                     "mm01_decode_meta", "ml07_hash_features")) {
      val plan = planString(run(name))
      val keyedExchanges = plan.linesIterator
        .filter(_.contains("Exchange"))
        .filterNot(_.contains("RoundRobinPartitioning"))
        .toList
      assert(keyedExchanges.isEmpty,
        s"$name must be map-only but plans a keyed Exchange:\n${keyedExchanges.mkString("\n")}\n$plan")
    }
  }

  test("aggregations are two-phase: partial before the shuffle") {
    // map-side combine is the difference between shuffling rows and
    // shuffling groups. Assert the partial_ marker SPECIFICALLY (any
    // hash aggregate would not prove map-side combine), and that it
    // sits BELOW the hash-partitioned Exchange in the plan tree (plan
    // strings print top-down, so the partial phase — which executes
    // first — must appear on a LATER line than the Exchange it feeds).
    for (name <- Seq("q01_pricing_summary", "t02_lang_profile", "t05_dedup_exact")) {
      val plan = planString(run(name))
      val lines = plan.linesIterator.toVector
      val partialIdx = lines.indexWhere(_.contains("partial_"))
      val exchangeIdx = lines.indexWhere(l =>
        l.contains("Exchange") && l.contains("hashpartitioning"))
      assert(partialIdx >= 0, s"$name lost its partial aggregation phase:\n$plan")
      assert(exchangeIdx >= 0, s"$name: grouped agg needs one keyed shuffle:\n$plan")
      assert(partialIdx > exchangeIdx,
        s"$name: partial_ aggregate must execute below (print after) the Exchange " +
          s"(partial at line $partialIdx, Exchange at line $exchangeIdx):\n$plan")
    }
  }

  test("rank-filter entries plan through TopKPerKey, never a windowed sort of raw input") {
    for (name <- Seq("q14_rank_top_orders", "t16_vocab_topk")) {
      val plan = planString(run(name))
      assert(plan.contains("TopKPerKey"), s"$name: rewrite did not fire:\n$plan")
      assert(!plan.contains("Window"), s"$name: stock Window survived:\n$plan")
    }
  }

  test("dimension joins broadcast; the fact side never round-trips") {
    val plan = planString(run("q03_revenue_by_nation"))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"nation/customer dims must broadcast:\n$plan")
  }

  test("t26 funnel: map-only scan into a scalar reduce — no keyed exchange anywhere") {
    val plan = planString(run("t26_filter_funnel"))
    val keyed = plan.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning") ||
                   l.contains("Exchange rangepartitioning")).toList
    assert(keyed.isEmpty,
      s"funnel signals must fuse into the scan; keyed exchange found:\n${keyed.mkString("\n")}\n$plan")
    val lines = plan.linesIterator.toVector
    val singleIdx = lines.indexWhere(_.contains("Exchange SinglePartition"))
    val partialIdx = lines.indexWhere(_.contains("partial_"))
    assert(singleIdx >= 0 && partialIdx > singleIdx,
      s"six-long partial aggregate must combine map-side below the scalar exchange:\n$plan")
  }

  test("t25 chunk dedup: the owner election combines map-side and keys by digest only") {
    val plan = planString(run("t25_chunk_dedup"))
    assert(plan.contains("partial_min"),
      s"owner election lost its map-side partial_min combine:\n$plan")
    assert(plan.linesIterator.exists(l =>
        l.contains("Exchange hashpartitioning(h#")),
      s"election must shuffle on the md5 digest, not on text:\n$plan")
    assert(plan.linesIterator.exists(l =>
        l.contains("Exchange hashpartitioning(doc_id#")),
      s"reassembly must shuffle on doc_id:\n$plan")
  }

  test("t27 skew dedup: election combines map-side; join-back carries the composite (h, pack) key") {
    val plan = planString(run("t27_skew_dedup"))
    // hot-digest election width is bounded by partial_min map-side combine
    assert(plan.contains("partial_min"),
      s"owner election lost its map-side partial_min combine:\n$plan")
    // the join back must key on BOTH digest and packed id — the composite
    // key is what fans the hot digest's rows across the hash space; a
    // refactor back to join-on-h-then-filter re-creates the straggler
    val joinLine = plan.linesIterator.find(l =>
      l.contains("Join") && l.contains("h#") && l.contains("pack#"))
    assert(joinLine.isDefined,
      s"join-back must equi-join on (h, pack), not digest alone:\n$plan")
    assert(!plan.linesIterator.exists(l =>
        l.contains("Join") && l.contains("h#") && !l.contains("pack#")),
      s"found a digest-only join — hot-key straggler shape:\n$plan")
  }

  test("t28 oov rate: top-k vocab via TakeOrdered map-side cut; probe join broadcasts") {
    val plan = planString(run("t28_oov_rate"))
    assert(plan.contains("TakeOrderedAndProject"),
      s"vocabulary top-1000 must plan as TakeOrderedAndProject (map-side pre-cut):\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the token probe must broadcast the 1000-row vocab, never shuffle tokens:\n$plan")
  }

  test("a27 global top-k plans TakeOrderedAndProject — bounded heaps, no global sort") {
    // orderBy.limit must stay the partial-heap operator; a refactor to
    // e.g. sort().limit() through a range exchange would plan a full
    // global Sort — the difference between shipping k rows per
    // partition and range-shuffling every cell at scale.
    val plan = planString(run("a27_global_topk"))
    assert(plan.contains("TakeOrderedAndProject"),
      s"a27 lost the TakeOrderedAndProject shape:\n$plan")
    assert(!plan.linesIterator.exists(l => l.contains("Exchange rangepartitioning")),
      s"a27 plans a global range sort:\n$plan")
  }

  test("t33 substring dedup: the corpus exchange carries digests, never window text") {
    val plan = planString(run("t33_substring_dedup"))
    assert(plan.contains("partial_count"), s"t33 lost map-side combine:\n$plan")
    // every partial-aggregate row must be digest-keyed: window text is
    // hashed in the scan projection and must not survive to the shuffle
    val partials = plan.linesIterator.filter(_.contains("partial_")).toList
    assert(partials.nonEmpty && partials.forall(l => !l.contains("text#")),
      s"t33 shuffles window text:\n${partials.mkString("\n")}")
  }

  test("q35 sessionize: one exchange serves both windows AND the session roll-up") {
    val plan = planString(run("q35_sessionize"))
    val keyed = plan.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning") ||
      l.contains("Exchange rangepartitioning")).toList
    assert(keyed.size == 1,
      s"sessionize must shuffle exactly once (user_id); found ${keyed.size}:\n${keyed.mkString("\n")}\n$plan")
    assert(keyed.head.contains("user_id"),
      s"the single exchange must key on user_id:\n${keyed.head}")
  }

  test("q45 rolling median: exactly one keyed exchange serves the percentile window") {
    val plan = planString(run("q45_rolling_median"))
    val keyed = plan.linesIterator.filter(_.contains("Exchange hashpartitioning")).toList
    assert(keyed.size == 1 && keyed.head.contains("user_id"),
      s"rolling median must shuffle once on user_id; got:\n${keyed.mkString("\n")}")
  }

  test("q51 SQL front door: pushdown and pruning hold through spark.sql too") {
    val fin = writtenPlan(run("q51_sql_frontdoor"))
    val scan = nodes(fin).collect { case s: FileSourceScanExec => s }.head
    assert(scan.metadata.get("PushedFilters").exists(_ != "[]"),
      s"no pushed filters through the SQL path: ${scan.metadata}")
    assert(scan.schema.fieldNames.length <= 5,
      s"SQL path lost column pruning: ${scan.schema.fieldNames.mkString(",")}")
    val plan = fin.toString
    assert(plan.contains("partial_"), "SQL aggregation must combine map-side")
  }

  test("q50 clean/impute: one user_id exchange serves both window aggregates; no join") {
    val plan = planString(run("q50_impute_clip"))
    val keyed = plan.linesIterator.filter(_.contains("Exchange hashpartitioning")).toList
    assert(keyed.size == 1 && keyed.head.contains("user_id"),
      s"impute must shuffle once on user_id; got:\n${keyed.mkString("\n")}")
    assert(!plan.contains("Join"), s"imputation must come from the window, not a join:\n$plan")
    assert("Window \\[".r.findAllIn(plan).length == 1,
      "count+sum must share one Window operator")
  }

  test("t39 BPE pairs: global top-k cuts map-side via the TopKPerKey rewrite; no Window") {
    val plan = planString(run("t39_bpe_pairs"))
    assert(plan.contains("TopKPerKey"),
      s"rank filter must rewrite to TopKPerKey:\n$plan")
    assert(!plan.contains("Window ["),
      s"no windowed global sort of the pair vocabulary:\n$plan")
  }

  test("q46 nearest-asof: both direction windows ride ONE full exchange; no inequality join") {
    val plan = planString(run("q46_asof_nearest"))
    // the purchase collapse pre-aggregates its own (k, t) exchange over
    // the small filtered side; the union windows must add exactly one
    // more, keyed on k — and the plan must contain zero join operators
    // (the whole point: as-of via windows, never an inequality join).
    val keyed = plan.linesIterator.filter(_.contains("Exchange hashpartitioning")).toList
    assert(keyed.size == 2,
      s"nearest-asof must shuffle exactly twice (collapse + window); got ${keyed.size}:\n${keyed.mkString("\n")}")
    assert(!plan.contains("Join"), s"nearest-asof must be join-free:\n$plan")
    assert("Window \\[".r.findAllIn(plan).length == 2,
      "expected exactly the two direction windows")
  }

  test("e08 PQ encode: codebook broadcasts, corpus never shuffles pre-aggregation") {
    import org.apache.spark.sql.functions.col
    val codes = graft.operators.Similarity.pqCodes(
      graft.core.Tables.embeddings(spark, sfDir))
    val plan = writtenPlan(codes).toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the centroid join must broadcast:\n$plan")
    val keyed = plan.linesIterator.filter(_.contains("Exchange hashpartitioning")).toList
    assert(keyed.size == 1 && keyed.head.contains("vec_id"),
      s"only the (vec_id, sub) argmin aggregation may shuffle; got:\n${keyed.mkString("\n")}")
    assert(plan.contains("partial_min"),
      s"the argmin must combine map-side:\n$plan")
  }

  test("e13 exact-kNN baseline: the BNLJ build side is the tiny broadcast query set, never the corpus") {
    // e13's BroadcastNestedLoopJoin is deliberate (exact-kNN reference
    // baseline; the ANN family is the scale path and e12 measures recall
    // against this). What nothing previously prevented: a fixture change
    // silently turning it into a distributed cartesian with the CORPUS
    // on the build side. Pin both halves of the design: (a) the build
    // side is the broadcast 1-in-50 query sample, (b) the sample stays
    // broadcast-sized relative to the corpus.
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    import org.apache.spark.sql.functions.col
    val fin = writtenPlan(run("e13_knn_classify"))
    val bnljs = nodes(fin).collect { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnljs.nonEmpty, s"e13 must plan its kNN baseline as a BNLJ:\n$fin")
    bnljs.foreach { j =>
      assert(j.buildSide == BuildLeft,
        s"build side must be the query set (left), got ${j.buildSide}:\n$j")
      val build = j.left.toString
      assert(build.contains("% 50") && build.contains("Broadcast"),
        s"the broadcast build subtree must be the 1-in-50 query sample:\n$build")
    }
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    val (nCorpus, nQueries) =
      (emb.count(), emb.filter(col("vec_id") % 50 === 0).count())
    assert(nQueries > 0 && nQueries * 40 <= nCorpus,
      s"query sample must stay ~1/50 of the corpus: $nQueries of $nCorpus")
    // ~300 B/row (id + 64 floats): the sample must sit far below the
    // 10 MB autoBroadcastJoinThreshold at ANY gate fixture scale
    assert(nQueries * 300 < (10L << 20),
      s"query sample too big to broadcast: $nQueries rows")
  }

  test("AQE skew-join safety net: a hot-key shuffle join gets its skewed partition split") {
    // t27 eliminates join skew by key construction; this pins the OTHER
    // mechanism the 100 TB story leans on — when a skewed shuffle join
    // does happen, AQE's OptimizeSkewedJoin splits the oversized
    // partition instead of letting one task straggle. Thresholds are
    // lowered session-wide for this test only (fixture partitions are
    // KBs, the defaults are 256 MB) and restored after.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> util.Try(conf.get(k)).toOption.filter(_ != null))
    try {
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.2")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force a shuffle join
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      import org.apache.spark.sql.functions.{col, lit, when, count, sum}
      // 80% of the left rows share one key — the t27 plant, as raw join skew
      val left = spark.range(200000)
        .select((when(col("id") % 5 =!= 0, lit(7L)).otherwise(col("id"))).as("k"),
                col("id").as("v"))
      val right = spark.range(2000)
        .select(col("id").as("k"), (col("id") * 3).as("w"))
      val joined = left.join(right, "k").agg(count(lit(1)).as("n"), sum(col("w")).as("s"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("isSkew=true") || plan.contains("skewed"),
        s"AQE did not split the hot-key partition:\n$plan")
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }

  test("keyless aggregates broadcast without a hint: the BNLJ builds on the one-row aggregate") {
    // Each entry attaches a computed scalar with crossJoin(<keyless
    // aggregate>) and no broadcast hint. Spark sizes a keyless aggregate
    // at one row, so its own size check must still plan a
    // BroadcastNestedLoopJoin that builds on that row (the first
    // aggregate down the build side has no grouping keys) — never a
    // CartesianProduct or a build on the data side. t32/t46/t54/ml06
    // localCheckpoint inside the entry, so the plans come from every SQL
    // execution the entry and its noop write start, captured from the
    // execution listener.
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    def executedPlans(name: String): Seq[SparkPlan] =
      metrics.capture(run(name).write.format("noop").mode("overwrite").save())._2
    for (name <- Seq("t13_kmv_sketch", "t18_domain_mix", "t32_surprisal",
                     "t42_temperature_mix", "t46_js_divergence", "t49_collocations",
                     "t54_dsir", "ml06_kfold_cv", "ml16_chi2", "q77_basket")) {
      val bnljs = executedPlans(name).flatMap(nodes)
        .collect { case j: BroadcastNestedLoopJoinExec => j }
      val scalarBuild = bnljs.exists { j =>
        val build = if (j.buildSide == BuildRight) j.right else j.left
        nodes(build).collectFirst { case a: BaseAggregateExec => a }
          .exists(_.groupingExpressions.isEmpty)
      }
      assert(scalarBuild,
        s"$name: no BroadcastNestedLoopJoin builds on a keyless aggregate:\n${bnljs.mkString("\n")}")
    }
  }

  test("global sweep: no entry plans a cartesian product or nested-loop join") {
    // Every gate entry's plan, one regression gate: an accidental cross
    // join (dropped join condition, non-equi rewrite gone wrong) is the
    // canonical does-not-survive-100× bug. CartesianProduct is allowed
    // NOWHERE. BroadcastNestedLoopJoin is allowed only where it is the
    // documented design:
    //  - e01 / mm04: brute-force kNN baselines — the broadcast query set
    //    streams against the corpus (Similarity.bruteKnn);
    //  - t13 / t18: crossJoin(<1-row aggregate>) — attaching a computed
    //    scalar (kth-min threshold / global min rate) without a
    //    driver-side collect; Spark sizes the keyless aggregate at one
    //    row and broadcasts it, a BNLJ over one row.
    // Entries that eagerly localCheckpoint collapse their upstream plan
    // to an RDD scan; their join shapes are asserted by their own specs —
    // this sweep still covers everything visible in the returned plan.
    val bnljAllowed = Set("e01_knn_cosine", "e07_mips", "mm04_hist_knn",
                          // e13/e14: the kNN classifier (and its confusion
                          // eval) vote over the same bruteKnn
                          // broadcast-queries-vs-corpus baseline
                          "e13_knn_classify", "e14_confusion",
                          // e12: recall eval re-runs the e01 brute-force
                          // baseline (broadcast probe set vs corpus) to
                          // produce the exact reference answers
                          "e12_ann_recall",
                          // e10: range-search baseline — same broadcast-
                          // query-set stream as e01, with a non-equi
                          // (q_id =!= n_id) condition by design
                          "e10_range_search",
                          "t13_kmv_sketch", "t18_domain_mix",
                          // t49: t18's shape — crossJoin(<1-row token
                          // total>) feeding the ppm PMI ratio
                          "t49_collocations",
                          // t42: t18's shape — crossJoin(<1-row global
                          // min>) to attach a computed scalar
                          "t42_temperature_mix",
                          // ml06: crossJoin(<1-row totals>) — attaching
                          // the total sufficient statistics
                          "ml06_kfold_cv",
                          // q77: t18's shape — crossJoin(<1-row basket
                          // total>) feeding the support/lift ppm
                          "q77_basket",
                          // ml16: t18's shape — crossJoin(<1-row grand
                          // total>) feeding the chi-square margins
                          "ml16_chi2")
    // Flagship-scale linalg entries are excluded: building their final
    // DataFrame executes tens of seconds of eager RDD block algebra
    // (tsqr treeAggregate, 2-TFLOP GEMM) with no Catalyst joins anywhere,
    // and the returned plan is a one-row checksum LocalTableScan — there
    // is nothing for this sweep to catch there, at real cost.
    // a20/a21 likewise: constructing their DataFrame runs the eager
    // blocked substitution loop (RDD-only, no Catalyst joins) and
    // returns an ExternalRDD coords scan — nothing for the sweep, at
    // tens of seconds of real solve cost.
    val skipped = graft.array.ArrayQueries.flagship ++
      Set("a20_tri_solve", "a21_spd_solve")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (name, _) => skipped.contains(name) }
      .flatMap { case (name, fn) =>
        val df = fn(spark, sfDir)
        // schema lint (q59's round-10 err class): every gate output must
        // be driver-hashable — nested top-level types crash the compare
        val nested = df.schema.fields.filter(f =>
          f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] ||
          f.dataType.isInstanceOf[org.apache.spark.sql.types.MapType] ||
          f.dataType.isInstanceOf[org.apache.spark.sql.types.StructType])
          .map(f => s"non-scalar output column ${f.name}: ${f.dataType.simpleString}")
        val plan = planString(df)
        // A frame whose UPPER bound is unboundedFollowing but whose lower
        // bound is not unboundedPreceding runs Spark's
        // UnboundedFollowingWindowFunctionFrame — the aggregate rebuilds
        // from scratch per row, O(span²) per partition (q40's 22 s
        // regression). Whole-partition frames (unboundedPreceding →
        // unboundedFollowing) evaluate once per partition and are fine.
        val quadFrame = java.util.regex.Pattern
          .compile("(?i)specifiedwindowframe\\([a-z]+frame, (?!unboundedpreceding)[^,]+, unboundedfollowing")
          .matcher(plan).find()
        val bad = Seq("CartesianProduct").filter(plan.contains) ++
          (if (bnljAllowed.contains(name)) Nil
           else Seq("BroadcastNestedLoopJoin").filter(plan.contains)) ++
          (if (quadFrame) Seq("UnboundedFollowing window frame") else Nil) ++
          nested
        if (bad.isEmpty) None else Some(s"$name: ${bad.mkString(", ")}")
      }
    assert(offenders.isEmpty,
      s"cross-join / quadratic-window shapes found in:\n${offenders.mkString("\n")}")
  }
}
