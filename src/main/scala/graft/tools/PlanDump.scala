package graft.tools

import java.nio.file.{Files, Paths}
import graft.core.EntryMetrics

/** Writes the final plan (AQE's, query stages included) of every SQL
  * execution an entry ran, in the order they ended: its own eager jobs
  * (checkpoints, materialized pins, collects), then its noop write —
  * captured by [[EntryMetrics]] after the entry ran. With no
  * args: PLANS.md, the plans of representative gate entries, as evidence
  * for the plan-shape properties PlanAuditSpec asserts. With
  * `<outDir> <entry> [entry...]`: `<outDir>/<entry>.txt` per entry, its
  * plan and per-stage profile (tasks, shuffle read and write, wall, run
  * and GC time) — where the RDD-backed linalg entries, a LocalTableScan
  * checksum on the SQL side, show which operations shuffled how many
  * bytes. SF dir via SPARK_GRAFT_SF_DIR (default sf0.01). */
object PlanDump {
  private val picks: Seq[(String, String)] = Seq(
    "a58_sparse_ewise" ->
      "Sparse elementwise algebra stays relational: add is union + two-phase hash agg (partial combine before its exchange), multiply is an equi-join of the two supports (at gate scale Spark's size check broadcasts one support, BuildRight; past the threshold the present cells shuffle) — absent cells never exist, nothing densifies.",
    "q02_project_filter" ->
      "Filter + projection reach the parquet scan: PushedFilters is populated and ReadSchema is pruned to 3 of 16 lineitem columns.",
    "q03_revenue_by_nation" ->
      "Dimension joins broadcast (customer/nation never shuffle the fact side); aggregation is partial → exchange → final.",
    "q14_rank_top_orders" ->
      "The rank-filter window is rewritten by the custom Catalyst rule into TopKPerKey: per-partition bounded heaps, no per-key sort, no Window operator.",
    "t05_dedup_exact" ->
      "Exact dedup shuffles only (md5 digest, doc_id) — the text column is pruned before the exchange.",
    "e04_embed_neardup" ->
      "Embedding near-dup, five executions: the id count that sizes the band width; the one pass that fills the pinned (vec_id, band, bucket) frame; the bucket-occupancy maximum over that cache; the checkpointed pairs — a (band, bucket) equi-join of the cached bands (never a cartesian product; at gate scale the build side broadcasts), distinct before the exact-cosine join-back on vec_id; and the write, a scan of that checkpoint (Scan ExistingRDD).",
    "q25_salted_agg" ->
      "Skew-salted aggregation: two-stage agg over the salted key, then the de-salted final — partial combine happens before both exchanges.",
    "q33_json_extract" ->
      "Schema-on-read JSON extraction: from_json evaluates inside the scan-side projection, so only (event_type, k) reaches the aggregation exchange — the raw props string never shuffles.",
    "t22_repetition" ->
      "Repetition quality filter: shingle array, distinct and counts are one fused map-only projection over the documents scan — zero exchanges in the plan.",
    "t23_decontaminate" ->
      "Benchmark decontamination: the eval-side distinct gram hashes carry no hint (they grow with the corpus); at gate scale Spark's size check broadcasts them (BroadcastHashJoin) and the corpus side is a map-only explode probed against them, so the only corpus exchange is the (doc_id, counts) aggregation over matched grams. Past the threshold both sides shuffle on the 8-byte hash.",
    "t25_chunk_dedup" ->
      "Chunk-level dedup: the owner election aggregates ONLY (digest, packed id) — partial before its exchange. At gate scale AQE broadcasts the elected-owner map back (BuildRight), so chunk text crosses just ONE exchange (the doc_id reassembly); past the broadcast threshold the join degrades to a shuffled equi-join and the at-scale bound is two text-bearing exchanges — the election stays digest-only either way.",
    "t26_filter_funnel" ->
      "Filter funnel: all three stage signals (quality, lang evidence, bigram repetition) evaluate in one fused projection over the single staged word array; the partial aggregate combines map-side and exactly six longs cross the one exchange — a map-only sweep with a scalar reduce at any corpus size.",
    "q35_sessionize" ->
      "Batch sessionization: ONE hashpartitioning(user_id) exchange serves the lag window, the running-sum window, and the final (user_id, sid) roll-up — the aggregation's clustering requirement is satisfied by the existing user_id partitioning (subset rule), so the session roll-up adds no second shuffle.",
    "t27_skew_dedup" ->
      "Skew-stress chunk dedup: with one digest owning ~30% of chunk rows, the election still combines map-side (partial_min) and the join-back equi-joins on the COMPOSITE (h, pack) key — every join key unique on both sides, so the hot digest fans out across the hash space instead of landing in one partition.",
    "src06_dynamic_prune" ->
      "Dynamic partition pruning: the fact predicate exists only through the filtered-dim join, and the fact scan's PartitionFilters carries dynamicpruningexpression(...) reusing the dim broadcast — directories for non-matching event_type values are never read.",
    "q36_bloom_join" ->
      "Bloom semi-join pruning: the broadcast-sketch probe filters lineitem BELOW its exchange (only probable matches ride the shuffle of the merge-hinted join); false positives are removed by the join itself.",
    "t28_oov_rate" ->
      "OOV-rate scoring: the top-1000 vocabulary plans as TakeOrderedAndProject (map-side pre-cut to k) and the token probe is a BroadcastHashJoin — exploded tokens never shuffle; the only corpus-sized exchange carries (doc_id, two longs) partials.",
    "q42_scd2_merge" ->
      "SCD type-2 merge: ONE join of dimension × aggregated change batch (change side partial-aggregated before its exchange; at gate scale AQE broadcasts it) feeding a map-only when/array/explode that emits 1–2 version rows per key — no window, no second pass.",
    "q45_rolling_median" ->
      "Rolling exact median: the interpolated-percentile window rides ONE hashpartitioning(user_id) exchange + one sort — identical cost shape to the rolling mean; the frame buffer holds <= 5 rows per step.",
    "q46_asof_nearest" ->
      "Nearest-direction as-of join: ZERO join operators — both direction neighbors come from running last() windows (ascending + descending) over one full union exchange; the purchase collapse pre-aggregates its own small exchange.",
    "q50_impute_clip" ->
      "Clean/impute (clip + grouped fillna + dropna): ONE hashpartitioning(user_id) exchange serves both whole-partition window aggregates (count + sum share a single Window operator); the imputation is a coalesce in the same projection — no join anywhere.",
    "q54_dedup_keep_last" ->
      "keep='last' dedup as an aggregation: max_by over the packed order key plans as partial → exchange → final HashAggregate (one state row per key, map-side combined) — no Window operator and no sort of the duplicates.",
    "q56_qcut" ->
      "qcut labeling: the quartile boundaries (driver-coordinated rankScan output, groups×3 rows) carry no hint; at gate scale Spark's size check makes them the BroadcastHashJoin build side, so the fact scan is labeled map-side and its only exchange is the final (group, bucket) aggregation. Past the threshold the labeling join shuffles.",
    "q57_ohlc" ->
      "OHLC resample: open/high/low/close/count all evaluate in ONE HashAggregate pair (partial min_by/max_by/min/max combine map-side) over a single hashpartitioning(user_id, week) exchange — no window, no sort, no join.",
    "t40_hll_sketch" ->
      "HLL registers: token hash → bucket → leading-zero rank all fuse into the scan projection; the register max partial-combines before its (lang, bucket) exchange, so state per task is 256 longs per language regardless of corpus size; the ALL row reuses the register frame (elementwise-max merge), never the token stream.",
    "t39_bpe_pairs" ->
      "BPE pair counting: the pair explode fuses into the scan, counts partial-combine, and the global top-50 rank filter rewrites to TopKPerKey (map-side bounded heaps) — no Window, no global sort of the pair vocabulary. (q44/q30's quartiles now run driver-coordinated rank probes over a range exchange — their returned frames are LocalTableScans, so the interesting structure lives in Relational.rankScan, not a dumpable plan.)",
    "q62_spearman" ->
      "Spearman rank correlation: the two rank dims (value-frequency tables, <= 50/<= 11 distinct values per group) carry no hint; at gate scale Spark's size check makes both BroadcastHashJoin build sides, so the fact table is ranked map-side and its ONLY exchange is the final per-group power-sum aggregation (decimal sums partial-combine). Past the threshold the rank joins shuffle.",
    "q63_rolling_corr" ->
      "Rolling correlation: all six power sums (n, Σx, Σy, Σxy, Σx², Σy²) evaluate in ONE Window operator over a single hashpartitioning(sk) exchange — the trailing 20-row frame maintains them incrementally; the corr tail is a projection.",
    "q64_pivot_table" ->
      "Multi-aggregate pivot: (count, sum) per (user, type) partial-combine before a (user_id, event_type) exchange; then partial pivotfirst combines those cells map-side, so the user-keyed exchange carries 6 cells per user per partition, not rows.",
    "t45_weighted_sample" ->
      "Weighted sampling (A-ES): the −ln(u)/w key is fused into the scan projection and the per-language rank filter rewrites to TopKPerKey — each map partition pre-cuts to 20 rows per stratum before the single exchange.",
    "q61_ewma" ->
      "EWMA: one hashpartitioning(user_id) exchange + per-partition sort feeds MapGroups — the sequential α·x + (1−α)·y recursion is the operator's semantics (this IS how pandas/dask run ewm), state one double per group, scan pruned to 3 columns with the null filter pushed.",
    "q66_interval_coverage" ->
      "Interval coverage: the ±1 boundary union feeds ONE hashpartitioning(user_id) exchange that serves the running-count window, the lead() window AND the final per-user roll-up (subset rule) — a single shuffle of 2·|events| skinny rows, no joins anywhere.",
    "t48_bm25" ->
      "Integer BM25, two executions: the checkpoint of the scored top-20, where tokens shuffle once into the (doc, term) tf aggregate (partial_count map-side), the derived 5-term query comes back as a BroadcastHashJoin build side over tf, and the top-20 is TakeOrderedAndProject — no sort of the corpus, the raw text never joins; then the write, a scan of that checkpoint (Scan ExistingRDD).",
    "e13_knn_classify" ->
      "kNN classifier: the probe set broadcasts against the streamed corpus (the documented bruteKnn BNLJ baseline); votes aggregate partial-first on (q_id, label), and the winner filter rewrites to TopKPerKey — bounded heaps, no per-query sort.",
    "q69_drawdown" ->
      "Running-peak drawdown: ONE hashpartitioning(o_custkey) exchange + sort feeds a single Window whose running [unboundedPreceding, currentRow] max is maintained incrementally (O(1)/row — never the O(span²) UnboundedFollowing frame); the permille tail is a projection.",
    "q70_group_ols" ->
      "Closed-form OLS: all five decimal power sums partial-combine in one HashAggregate pair over the single supplier-keyed exchange; the slope/intercept tail and the exact-integer degeneracy filter are projections over the group rows — the fact table is touched once.",
    "q71_group_sample" ->
      "Deterministic group sample: the md5 rank key fuses into the scan projection and the row_number<=3 filter rewrites to TopKPerKey — per-partition 3-row heaps before AND after the single nation-keyed exchange, no per-group sort.",
    "q74_rolling_skew" ->
      "Rolling skewness: Σx, Σx², Σx³ and the count all ride ONE Window operator over a single supplier-keyed exchange (trailing 20-row frame, incrementally maintained); the g₁ eigen-free tail and integer degeneracy gates are projections.",
    "t49_collocations" ->
      "Collocation mining: bigram and unigram counts partial-combine before their token-keyed exchanges; the two unigram attachments are equi-joins on the (vocabulary-sized) token key, the 1-row token total crosses as a broadcast, and the top-20 plans as TakeOrderedAndProject — no global sort of the pair vocabulary.",
    "e15_sq8" ->
      "Scalar int8 quantization: after the d-row min/max training aggregate, the quantize-encode-reduce chain (transform + two aggregates over the code array) fuses into ONE map-only projection over the embeddings scan — the vectors cross zero exchanges.",
    "q76_cohort" ->
      "Cohort retention: ONE hashpartitioning(o_custkey) exchange feeds the (min month, collect_set months) aggregate — per-customer state is calendar-bounded (~84 months), never row counts; the exploded (cohort, offset) pairs partial-combine into the months^2 grid.",
    "q77_basket" ->
      "Market-basket rules: the basket item-set exchange keys on the high-cardinality order key, pair expansion is a basket-local array comprehension (<= C(25,2)/basket, map-only), brand marginals attach as BroadcastHashJoins plus the allowlisted 1-row total — the pair aggregate is brands^2-bounded.",
    "q78_compress_runs" ->
      "Run compression: ONE hashpartitioning(user_id) exchange + one sort serve BOTH window passes (the lag change-detect and the post-filter run index) — no second exchange, rows stay 4 columns wide.",
    "q79_bootstrap" ->
      "Poisson bootstrap: md5-uniform inverse-CDF replication via array_repeat+explode is map-only over the orders scan; the only exchange is the 5-row priority aggregate's partial-combined shuffle.",
    "ml13_centroid_text" ->
      "Centroid text classifier: train/test token aggregates partial-combine before their token-keyed exchanges; the class-total attaches as a |classes|-row broadcast; the tf->profile join on the vocabulary-sized token key carries no hint (at gate scale Spark's size check broadcasts the test-side tf aggregate, BuildLeft; past the threshold it shuffles on the token); the per-doc argmax rank filter rewrites to TopKPerKey on doc_id (<= |classes| rows per key).",
    "ml14_stump" ->
      "Decision stump: the fact table collapses via partial-combined groupBy to the 50-value feature histogram BEFORE any window — the cumulative sweep, totals, and argmin windows all run on 50 rows in one task, the xgboost histogram layout.",
    "ml15_auc" ->
      "Rank-sum AUC: rows collapse to the domain-bounded (<= ~10^4) score grid via partial-combined groupBy; the strictly-below cumulative window and the final 2U reduction touch only the grid — pair counting without pairs.",
    "t50_gopher_rules" ->
      "Gopher quality rules: one corpus scan, ZERO exchanges — token/line arrays staged in their own projection (the t06/t35 re-inline discipline), every rule an integer cross-multiplication in the same WholeStageCodegen span.",
    "t51_bigram_lm" ->
      "Bigram-LM scoring: map-only bigram expansion; model counts partial-combine into vocab^2/vocab aggregates; scoring joins key on the bigram and context (corpus-growing keys, no hint: at gate scale Spark's size check broadcasts both model sides, past the threshold they shuffle); one last partial-combined per-doc mean.",
    "t52_skipgram" ->
      "Skip-gram co-occurrence: distance-1/2 pairs from two slice-zips (map-only), (min,max) normalization collapses orientation, min-support 5 cuts the tail pre-shuffle, and the top-20 plans as TakeOrderedAndProject - never a global sort.",
    "a52_bincount" ->
      "Weighted bincount: co-partitioned block join (narrow, zip's shape), per-partition open-address bin accumulation - the RDD shuffle carries <= 48 (bin, count, mass) partials per map partition, never cells; the SQL plan only range-sorts the bins.",
    "a53_row_median" ->
      "Row median: ONE exchange on the row key gathers each row's cells; sorted-gather state is bounded by matrix WIDTH (the fixed schema axis) - the two middle order statistics come from element_at on the sorted array.",
    "a54_histogram2d" ->
      "2-D histogram: DMatrix.zip fuses x/y cells into an encoded bin id with zero shuffle; bincount reduces it with <= 100 partials per map partition - the joint grid is size-fixed at any N.",
    "src13_xml_roundtrip" ->
      "XML round-trip: row-tagged write then schema-pinned parallel read; the profile aggregate partial-combines - format-path parity with csv/json/orc.",
    "src14_csv_multiline" ->
      "Multiline CSV: deterministic newline staging (every 7th doc), quoted write, multiLine read (per-file splits - the known CSV trade-off), md5-signature aggregate proves losslessness.",
    "mm09_vad_segments" ->
      "VAD segments: frame energies are computed in the batched mapPartitions decode (payload bytes never shuffle); the islands window and segment aggregate exchange only (asset_id, frame_idx, energy) triples, codec-bounded per key.",
    "ml16_chi2" ->
      "Chi-square contingency: the fact table collapses to the 15-cell grid via ONE partial-combined groupBy; margins attach as tiny broadcasts (plus the allowlisted 1-row grand total); residuals stay int64 and only the per-cell chi2 takes the mirrored double tail.",
    "q80_lorenz" ->
      "Lorenz curve: per-customer spend is one exchange on the customer key, then the bucket grid is DOMAIN-bounded (whole-dollar lifetime spend) - the cumulative-share windows touch the grid only, the ml15 discipline.",
    "q81_weighted_median" ->
      "Weighted median: weights partial-combine per (flag, dollar) BEFORE the per-flag cumulative window - the window walks the domain-bounded price grid, never rows; the median pick is integer comparisons.",
    "a55_argtopk" ->
      "Per-row argtopk: ONE exchange on the row key; the (-v, j) struct sort + slice(3) happen inside the row-bounded gather, and posexplode emits exactly 3 ranked hits per row.",
    "e16_mmr" ->
      "MMR re-ranking: the shortlist cut is the e01 broadcast-query corpus scan; each greedy step is one tiny map+TakeOrdered job with the <= k selected vectors attached as literals - only k (id, vector) pairs ever cross the driver.",
    "mm10_tile_stats" ->
      "Tile statistics: per-tile sum/min/max computed inside the batched flatMap decode - map-only, payload bytes never shuffle, 4 small rows per asset out.",
    "ml17_psi" ->
      "PSI drift: distribution state is the domain-bounded $1000 bucket grid (one partial-combined groupBy over orders); per-priority totals attach as a broadcast; each ln term floors to integer nanos BEFORE the order-independent sum - the t46 discipline.",
    "ml18_ks" ->
      "KS statistic: one partial-combined histogram to the bounded dollar grid, one cumulative window over the grid, one max of the cross-multiplied integer CDF gap - the whole two-sample test without a float CDF anywhere.",
    "t53_doc_entropy" ->
      "Doc entropy: (doc, token) frequencies partial-combine, doc totals join back on the doc key, each ln term floors to nanos before the order-independent per-doc sum - three partial-combined stages, no corpus-wide state.",
    "e17_embed_drift" ->
      "Embedding drift: posexplode + ONE partial-combined aggregate onto the 2x64 (slice, dim) grid - per-dimension integer sums are sufficient statistics because cosine is scale-invariant; the join and final reduction touch 64 rows.",
    "q82_top_frac" ->
      "Relative top-k: one exchange on the high-cardinality customer key; row_number and the whole-partition count share one sort, and the 5*rank <= cnt keep test is an integer cross-multiplication.",
    "q83_expectations" ->
      "Expectations audit: range/null/FK rules are conditional sums riding ONE scan + ONE left join (the FK check shares the join instead of a second anti-join pass); the 1-row result unpivots via stack - audit cost = one pass however many rules.",
  )
  // i03/i04/i05 are not picked: their join/agg shapes are asserted by
  // their own specs and documented in SURVEY §8.

  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.local()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val metrics = EntryMetrics.attach(spark)
    def run(name: String): String = {
      val (_, plans) = metrics.capture(metrics.timed(name)(
        graft.SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()))
      val shown = plans.map(p => EntryMetrics.finalPlan(p).toString.stripTrailing)
      if (shown.size == 1) shown.head
      else shown.zipWithIndex.map { case (p, i) =>
        s"-- execution ${i + 1} of ${shown.size}${if (i == shown.size - 1) " (the write)" else ""} --\n$p"
      }.mkString("\n")
    }
    if (args.isEmpty) {
      val sb = new StringBuilder
      sb.append("# PLANS — executed physical plans of representative gate entries\n\n")
      sb.append(s"Generated by `graft.tools.PlanDump` against `$sfDir`. These are the\n")
      sb.append("plan-shape properties PlanAuditSpec locks in as regression gates;\n")
      sb.append("this file makes them reviewable without running anything. Each entry shows\n")
      sb.append("the final plan of every SQL execution it ran, in order, its noop write last,\n")
      sb.append("captured after it ran: `QueryStage` and `AQEShuffleRead` nodes show AQE's\n")
      sb.append("runtime rewrites.\n")
      for ((name, why) <- picks) {
        sb.append(s"\n## $name\n\n$why\n\n```\n")
        sb.append(run(name))
        sb.append("\n```\n")
      }
      Files.writeString(Paths.get("PLANS.md"), sb.toString)
      println("wrote PLANS.md")
    } else {
      val outDir = Paths.get(args(0))
      Files.createDirectories(outDir)
      for (n <- args.drop(1)) {
        val plan = run(n)
        val rows = metrics.stageProfile(n)
        val profile = rows.map { case EntryMetrics.Stage(id, callsite, _, wallMs, b) =>
          f"  stage $id%4d  tasks=${b.tasks}%-5d shuffleRead=${b.shuffleReadBytes / 1e6}%9.2f MB  shuffleWrite=${b.shuffleWriteBytes / 1e6}%9.2f MB  wall=$wallMs%6d ms run=${b.runMs}%7d ms gc=${b.gcMs}%5d ms  $callsite"
        }
        val total = rows.map(_.b).foldLeft(EntryMetrics.Breakdown())(_ + _)
        Files.writeString(outDir.resolve(s"$n.txt"),
          (s"== $n: executed plans (final, post-AQE) ==" +: plan +: "== stage profile ==" +: profile :+
            f"  TOTAL shuffleRead=${total.shuffleReadBytes / 1e6}%.2f MB shuffleWrite=${total.shuffleWriteBytes / 1e6}%.2f MB over ${rows.length} stages")
            .mkString("", "\n", "\n"))
      }
    }
    spark.stop()
  }
}
