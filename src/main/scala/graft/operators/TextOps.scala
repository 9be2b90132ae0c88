package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.{GraftContext, Tables}

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table: token counting, quality scoring, language profiling,
  * fingerprinting and exact deduplication.
  *
  * All of these are single-pass, codegen'd column expressions (no UDFs) —
  * at 100 TB they run as a map-only stage fused into the parquet scan,
  * with the only shuffles being the final small aggregations.
  *
  * Spread policy (measured at sf0.1, round 9): `TextSim.spread` costs one
  * exchange of the full text when the source is a single split, so it is
  * applied ONLY where per-row CPU dominates that cost — the multi-regex /
  * md5 entries t01–t05 (wins of 3–9×: t03 2.79 → 0.30 s) — and deliberately
  * NOT on the cheap single-pass entries (t10–t14, t16, t17, t19 all
  * measured slower with it). At warehouse scale spread is a no-op either
  * way (the scan has ≥ parallelism splits).
  */
object TextOps {
  type Q = (SparkSession, String) => DataFrame

  /** Whitespace token count as a Column (count of \S+ runs — robust to
    * leading/trailing/repeated whitespace, unlike split()). */
  def tokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit("\\S+"), lit(0)))

  /** Canonical text normalization used for fingerprinting: lowercase,
    * collapse whitespace runs, trim. */
  def normalize(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** Stable 128-bit content fingerprint of normalized text. */
  def fingerprint(c: Column): Column = md5(normalize(c))

  /** Per-document token count. */
  def tokenCounts(s: SparkSession, d: String): DataFrame =
    TextSim.spread(Tables.documents(s, d))
      .select(col("doc_id"), tokenCount(col("text")).as("n_tokens"))

  /** Corpus profile by language: doc counts, size and token statistics. */
  def langProfile(s: SparkSession, d: String): DataFrame =
    TextSim.spread(Tables.documents(s, d))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           round(avg(col("n_chars")), 4).as("avg_chars"),
           round(avg(tokenCount(col("text"))), 4).as("avg_tokens"),
           sum(length(col("text"))).as("total_chars"))
      .orderBy(col("lang"))

  /** Quality-scoring signals: alphabetic ratio, whitespace ratio, mean
    * token length — the length/punctuation-style heuristics used to
    * filter web-scrape corpora. Pure expressions, fused into the scan.
    * Divisions are guarded: empty / whitespace-only docs yield NULL in
    * both engines instead of engine-dependent NaN/Infinity rendering. */
  def qualityScore(s: SparkSession, d: String): DataFrame =
    qualityOf(TextSim.spread(Tables.documents(s, d)))

  /** Quality signals over any frame with (doc_id, text) — split out so the
    * degenerate-document guards are unit-testable on in-memory data. */
  def qualityOf(docs: DataFrame): DataFrame = {
    val len = length(col("text"))
    val alpha = length(regexp_replace(col("text"), "[^a-zA-Z]", ""))
    val spaces = length(col("text")) - length(regexp_replace(col("text"), "\\s", ""))
    val ntok = tokenCount(col("text"))
    docs.select(
      col("doc_id"),
      len.as("len"),
      when(len > 0, round(alpha.cast("double") / len, 6)).as("alpha_ratio"),
      when(len > 0, round(spaces.cast("double") / len, 6)).as("space_ratio"),
      ntok.as("n_tokens"),
      when(ntok > 0, round(alpha.cast("double") / ntok, 6)).as("avg_token_len"))
  }

  /** Function-word inventories for the n-gram-heuristic language
    * identifier — the classic cheap lang-ID signal (stopword hit counts)
    * used to route web-scrape documents before expensive model-based ID.
    * Order is the deterministic tie-break priority. */
  private val langSets: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "in"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "es" -> Seq("el", "los", "y", "las", "una"),
    "fr" -> Seq("le", "la", "et", "les", "des"))

  /** Language identification by function-word hits: count stopword
    * occurrences per candidate language over the normalized token array
    * (one codegen'd pass per language, fused into the scan — map-only at
    * any corpus size), then argmax with a fixed priority tie-break.
    * Emits the per-language scores alongside the guess so the gate
    * checks the evidence, not just the decision. */
  def langId(s: SparkSession, d: String): DataFrame = {
    val withWs = Tables.documents(s, d)
      .select(col("doc_id"), TextSim.words(col("text")).as("ws"))
    val hitCols = langSets.map { case (l, sw) =>
      size(filter(col("ws"), w => w.isin(sw: _*))).as(s"hits_$l")
    }
    val guess =
      when(col("hits_en") >= col("hits_de") && col("hits_en") >= col("hits_es") &&
             col("hits_en") >= col("hits_fr"), "en")
        .when(col("hits_de") >= col("hits_es") && col("hits_de") >= col("hits_fr"), "de")
        .when(col("hits_es") >= col("hits_fr"), "es")
        .otherwise("fr")
    withWs.select(col("doc_id") +: hitCols: _*)
      .select(col("doc_id"), col("hits_en"), col("hits_de"), col("hits_es"),
              col("hits_fr"), guess.as("lang_guess"))
  }

  /** Content fingerprint per document (md5 of normalized text). */
  def fingerprints(s: SparkSession, d: String): DataFrame =
    TextSim.spread(Tables.documents(s, d))
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))

  /** BPE-ish subword piece counting: the pre-tokenizer regex families
    * (letter runs / digit runs / punctuation runs) used by byte-pair
    * tokenizers to segment text before merges — the cheap, codegen'd
    * estimate of tokenizer load per document (RE2-compatible, so the
    * oracle runs the identical pattern). Map-only at any corpus size. */
  def tokenPieces(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      size(regexp_extract_all(col("text"),
        lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]+"), lit(0))).as("n_pieces"),
      size(regexp_extract_all(col("text"), lit("[a-zA-Z]+"), lit(0))).as("n_word"),
      size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0))).as("n_num"),
      size(regexp_extract_all(col("text"), lit("[^a-zA-Z0-9\\s]+"), lit(0))).as("n_other"))

  /** Rolling (polynomial) document fingerprint over word-hash sequences:
    * fold (acc·31 + h_w) mod 1e9+7 across the normalized token stream —
    * order-sensitive (unlike the md5 set fingerprint), so reordered
    * near-dups hash apart while byte-identical bodies collide. Pure
    * integer arithmetic → bit-equal in the DuckDB oracle. */
  def rollingFingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        transform(TextSim.words(col("text")), w => TextSim.h64(w) % TextSim.P).as("hs"))
      .select(col("doc_id"),
        aggregate(col("hs"), lit(0L),
          (acc, h) => (acc * 31L + h) % 1000000007L).as("roll_fp"))

  /** Exact deduplication: group by content fingerprint, keep the lowest
    * doc_id per group. One hash shuffle on the 128-bit fingerprint —
    * the canonical exact-dedup shape at 100 TB (the text itself is never
    * shuffled, only the 16-byte digest + id). */
  def dedupExact(s: SparkSession, d: String): DataFrame =
    TextSim.spread(Tables.documents(s, d))
      .select(fingerprint(col("text")).as("fp"), col("doc_id"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** KMV (k-minimum-values) distinct-count sketch over the corpus
    * vocabulary: the k smallest md5-derived token hashes. Unlike HLL,
    * the sketch is DETERMINISTIC — identical bit-for-bit on any engine
    * sharing the hash — so both the sketch rows and the derived
    * estimate ((k−1)·2^60 / kth-min) are exact-oracle checkable. The
    * distributed shape is distinct (one shuffle on the 8-byte hash) +
    * global top-k (per-partition k-min, then k-way driver merge — Spark
    * TakeOrderedAndProject), never a full sort. */
  def kmvSketch(s: SparkSession, d: String): DataFrame = {
    val k = 64
    val hashes = Tables.documents(s, d)
      .select(explode(TextSim.words(col("text"))).as("tok"))
      .select(TextSim.h64(col("tok")).as("h"))
      .distinct()
      .orderBy(col("h")).limit(k)
    val kth = hashes.agg(max(col("h")).as("kth"))
    hashes.crossJoin(kth)
      .select(col("h"),
        round(lit((k - 1).toDouble) * lit(1152921504606846976.0) /
          col("kth").cast("double"), 2).as("est_distinct"))
  }

  /** t31: KMV SKETCH ALGEBRA — the property that makes k-minimum-values
    * the distributed distinct-counter (t13 builds one global sketch;
    * this entry exercises MERGE): per-language vocabulary sketches are
    * built independently, then the corpus-wide sketch is derived purely
    * FROM THE SKETCHES — min-k of the union of per-language k-mins
    * equals the min-k of the union of the underlying sets, exactly (the
    * k smallest global hashes are each ≤ their language's kth-min, so
    * none can be dropped by per-language pre-cutting). At 100 TB this
    * is the shape that matters: shards sketch locally, only k·8-byte
    * states merge upward, the raw token stream never re-shuffles for
    * the global count.
    *
    * Per-language k-mins plan through TopKPerKey (the rank-filter
    * rewrite — bounded heaps, no per-key sort); the merge is a distinct
    * + global top-k over ≤ k·|langs| rows. A sketch smaller than k IS
    * the exact distinct set, so the estimate switches to the exact
    * count there — deterministic in both engines. */
  def kmvUnion(s: SparkSession, d: String): DataFrame = GraftContext.scoped(s) { ctx =>
    import org.apache.spark.sql.expressions.Window
    val k = 64
    val scale = 1152921504606846976.0          // 2^60: h64's hash range
    val hashes = ctx.pin(Tables.documents(s, d)
      .select(col("lang"), explode(TextSim.words(col("text"))).as("tok"))
      .select(col("lang"), TextSim.h64(col("tok")).as("h"))
      .distinct())
    val perLang = ctx.pin(hashes
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("h"))))
      .filter(col("rn") <= k))
    def estimate(grouped: DataFrame): DataFrame =
      grouped.select(col("lang"), col("n_sk"), col("kth"),
        when(col("n_sk") < k, col("n_sk").cast("double"))
          .otherwise(round(lit((k - 1).toDouble) * lit(scale) /
                           col("kth").cast("double"), 2)).as("est_distinct"))
    val langRows = estimate(perLang.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sk"), max(col("h")).as("kth")))
    // the merged sketch: built from per-language sketches ONLY
    val union = perLang.select(col("h")).distinct()
      .orderBy(col("h")).limit(k)
    val unionRows = estimate(union
      .agg(count(lit(1)).as("n_sk"), max(col("h")).as("kth"))
      .select(lit("ALL").as("lang"), col("n_sk"), col("kth")))
    langRows.unionByName(unionRows).localCheckpoint(true)
  }

  /** t32: UNIGRAM-SURPRISAL quality scoring — the LM-perplexity-style
    * filter (CCNet/Gopher rank documents by language-model perplexity;
    * the unigram surprisal Σ −log₂ p(tok) is its deterministic
    * first-order surrogate). Cross-engine float logs are a hash hazard,
    * so the log is INTEGER: floor(log₂ x) = length(bin(x)) − 1, and the
    * per-token surprise is bitlen(N_total) − bitlen(cnt_tok) — exact in
    * both engines via binary-string length.
    *
    * Scale shape: one (tok, cnt) aggregate (partial combine before its
    * exchange), one probe join of occurrences × freq — at fixture scale
    * the vocabulary broadcasts; at warehouse scale it degrades to a
    * sort-merge join where the hot-token skew ("the" = one giant key
    * against a 1-row build side) is exactly what AQE's skew-split
    * handles (pinned generally in PlanAuditSpec) — then a per-doc
    * aggregate of two longs. The corpus total joins as a broadcast
    * 1-row frame (never a driver collect). */
  def surprisalScore(s: SparkSession, d: String): DataFrame = GraftContext.scoped(s) { ctx =>
    val toks = ctx.pin(TextSim.spread(Tables.documents(s, d))
      .select(col("doc_id"), explode(TextSim.words(col("text"))).as("tok")))
    val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val total = freq.agg(sum(col("cnt")).as("n_total"))
    toks.join(freq, "tok")
      .crossJoin(total)
      .select(col("doc_id"),
        (length(bin(col("n_total"))) - length(bin(col("cnt")))).as("surprise"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
           sum(col("surprise")).cast("long").as("surprise_sum"))
      .select(col("doc_id"), col("n_tokens"), col("surprise_sum"),
        floor(col("surprise_sum") * 1000 / col("n_tokens")).cast("long")
          .as("mean_permille"))
      .localCheckpoint(true)
  }

  /** The composed corpus-cleaning pipeline a training-data run actually
    * executes: quality gate (alphabetic ratio ≥ 0.6, ≥ 20 tokens) →
    * exact dedup (keep lowest doc_id per fingerprint) → per-language
    * survivor profile. One scan, one dedup shuffle, one small
    * aggregation — the whole chain stays map-side until the 16-byte
    * fingerprint shuffle. */
  def cleanCorpusProfile(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val len = length(col("text"))
    val alpha = length(regexp_replace(col("text"), "[^a-zA-Z]", ""))
    val kept = docs
      .filter(len > 0 && alpha.cast("double") / len >= 0.6 &&
              tokenCount(col("text")) >= 20)
      .select(col("doc_id"), col("lang"), fingerprint(col("text")).as("fp"),
              tokenCount(col("text")).as("n_tokens"))
    // argmin via struct-min: the SURVIVING (lowest-doc_id) copy's fields
    // — `first()` would be nondeterministic when duplicate fingerprints
    // carry different lang labels
    val deduped = kept
      .groupBy(col("fp"))
      .agg(min(struct(col("doc_id"), col("lang"), col("n_tokens"))).as("m"))
      .select(col("m.lang").as("lang"), col("m.n_tokens").as("n_tokens"))
    deduped.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
  }

  /** Deterministic stratified sampling — the corpus-curation primitive
    * for rebalancing language/source mixes before training: keep a
    * per-stratum fraction decided by a HASH of the row key, never by
    * rand(). Map-only (fused into the scan, zero shuffle), idempotent
    * under task retries and re-runs, and the same row set falls out on
    * any engine sharing the hash — which is what makes it exact-oracle
    * checkable. Here: English docs at 50%, everything else at 20%. */
  def stratifiedSample(s: SparkSession, d: String): DataFrame = {
    val h = conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10).cast("long")
    val rate = when(col("lang") === "en", lit(50L)).otherwise(lit(20L))
    Tables.documents(s, d)
      .filter(h % 100L < rate)
      .select(col("doc_id"), col("lang"))
  }

  /** t45: WEIGHTED sampling without replacement (Efraimidis–Spirakis
    * A-ES) — t15's stratified sampler picks rows uniformly; corpus
    * curation usually wants probability ∝ weight (here: doc length, so
    * a length-balanced token budget). A-ES turns that into a pure
    * top-k: key_i = −ln(u_i)/w_i with u_i uniform — the k SMALLEST keys
    * are a weighted sample without replacement. u_i comes from the
    * repo's deterministic md5→60-bit-uniform recipe, never rand(), so
    * the draw is idempotent under retries and engine-independent:
    * identical integer h → identical double u (the 2⁶⁰ divisor is a
    * power of two — exact scaling) → identical −ln(u)/w → the same
    * ordering on both engines. Scale shape: the key is map-side (fused
    * into the scan); the per-language rank-≤ k filter rewrites to
    * TopKPerKey (bounded per-partition heaps), so the shuffle carries
    * ≤ k·P rows per stratum, never the corpus. */
  def weightedSample(s: SparkSession, d: String): DataFrame = {
    val h = conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("long")
    val u = (h.cast("double") + lit(1.0)) / lit(1.152921504606846976e18)
    val skey = -log(u) / col("n_chars").cast("double")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("skey"), col("doc_id"))
    Tables.documents(s, d)
      .select(col("lang"), col("doc_id"), col("n_chars"), skey.as("skey"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 20)
      .select(col("lang"), col("doc_id"), col("n_chars"), col("rank"))
  }

  /** t46: Jensen–Shannon divergence of each language's unigram
    * distribution against the corpus distribution — the drift/mix
    * metric curation pipelines track when a domain or language starts
    * dominating a training mix (symmetric, bounded by ln 2, defined
    * even where a language has zero mass on a token). Numeric
    * discipline: every per-token JSD term is computed from EXACT
    * integer counts (identical doubles on both engines), then floored
    * to integer NANO-NATS — so the final per-language reduction is an
    * integer sum, immune to FP summation order, the same trick as
    * t32's bit-length surprisal. Scale shape: one token explode feeds
    * both count tables; the lang×vocab expansion is |langs|·|vocab|
    * rows keyed on (lang, tok) — the heavy join is an equi-join on
    * that key, text never shuffles, and the 1-row corpus total plus
    * the |langs|-row totals broadcast. */
  def jsDivergence(s: SparkSession, d: String): DataFrame = GraftContext.scoped(s) { ctx =>
    val tk = ctx.pin(Tables.documents(s, d)
      .select(col("lang"), explode(TextSim.words(col("text"))).as("tok"))
      .filter(col("tok") =!= ""))
    val g = tk.groupBy(col("tok")).agg(count(lit(1)).as("gcnt"))
    val gt = g.agg(sum(col("gcnt")).cast("long").as("gtot"))
    val l = tk.groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("lcnt"))
    val lt = l.groupBy(col("lang")).agg(sum(col("lcnt")).cast("long").as("ltot"))
    val p = coalesce(col("lcnt"), lit(0L)).cast("double") / col("ltot").cast("double")
    val q = col("gcnt").cast("double") / col("gtot").cast("double")
    val m = (p + q) / lit(2.0)
    val term = when(col("lcnt").isNotNull,
        lit(0.5) * p * log(p / m) + lit(0.5) * q * log(q / m))
      .otherwise(lit(0.5) * q * log(q / m))
    // bounded: lt has one row per language
    g.crossJoin(gt).crossJoin(broadcast(lt))
      .join(l, Seq("lang", "tok"), "left")
      .select(col("lang"), floor(term * lit(1.0e9)).cast("long").as("nano"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_vocab"), sum(col("nano")).cast("long").as("jsd_nano"))
      .select(col("lang"), col("n_vocab"), col("jsd_nano"),
              round(col("jsd_nano").cast("double") / lit(1.0e9), 6).as("jsd"))
      .localCheckpoint(true)
  }

  /** t47: COUNT-MIN SKETCH heavy-hitter estimation — the point-query
    * frequency sketch that completes the repo's sketch family (KMV
    * t13/t31 for distincts, HLL t40 for cardinality, MinHash/SimHash
    * for similarity): d=4 hash rows × w=256 counters, fixed-size state
    * however large the token stream, mergeable by cell-wise addition
    * (the counter build IS a partial-aggregable hash agg, so map-side
    * combine gives the sketch merge for free). Estimates are read for
    * the exact top-20 tokens (TopKPerKey pre-cut) by probing each
    * token's d cells against the BROADCAST 1,024-row counter table and
    * taking the min — the CMS one-sided guarantee est ≥ true holds by
    * construction and is spec-pinned. Deterministic md5 row-salted
    * hashes make the sketch identical on any engine. */
  def cmsHeavyHitters(s: SparkSession, d: String): DataFrame = GraftContext.scoped(s) { ctx =>
    val depth = 4
    def h(r: Int, c: Column): Column =
      conv(substring(md5(concat(lit(s"${r}_"), c).cast("binary")), 1, 15), 16, 10)
        .cast("long") % lit(256L)
    def cellsOf(base: DataFrame): DataFrame =
      base.select(col("*"), explode(array((0 until depth).map(r =>
          struct(lit(r.toLong).as("r"), h(r, col("tok")).as("bucket"))): _*)).as("c"))
        .select(base.columns.map(col) :+ col("c.r").as("r") :+ col("c.bucket").as("bucket"): _*)
    val toks = ctx.pin(Tables.documents(s, d)
      .select(explode(TextSim.words(col("text"))).as("tok"))
      .filter(col("tok") =!= ""))
    val counters = cellsOf(toks.select(col("tok"))).drop("tok")
      .groupBy(col("r"), col("bucket")).agg(count(lit(1)).as("cnt"))
    val wTop = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("tok"))
    val probes = toks.groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= 20)
      .select(col("tok"), col("n"))
    cellsOf(probes)
      // bounded: the depth × 256 counter table (1,024 rows)
      .join(broadcast(counters), Seq("r", "bucket"))
      .groupBy(col("tok"), col("n"))
      .agg(min(col("cnt")).as("cms_est"))
      .localCheckpoint(true)
  }

  /** Global vocabulary top-k: explode normalized tokens, count, keep the
    * 100 most frequent with a total (count desc, token) order. The
    * rank-filter spelling hits the TopKPerKey rewrite with an EMPTY
    * partition spec: each map partition is pre-cut to ≤k rows before the
    * single-partition final pass — a global top-k whose shuffle carries
    * k·partitions rows, never the full vocabulary. Counts are exact
    * integers; the order is total → exact oracle. */
  def vocabulary(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("tok"))
    Tables.documents(s, d)
      .select(explode(TextSim.words(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 100)
  }

  /** t39: byte-pair counts — the FIRST ITERATION of BPE tokenizer
    * training (count every adjacent character pair inside words, rank
    * by frequency; the top pair is the merge a BPE trainer would apply
    * next). Scale shape mirrors t16's vocabulary: pair extraction is a
    * map-only double explode fused into the scan, counts combine
    * map-side, and the global top-50 plans as TakeOrderedAndProject
    * (per-partition heaps pre-cut to k — the shuffle carries k·P rows,
    * never the pair vocabulary). The full multi-round BPE loop is this
    * exact job iterated with a broadcast merge table — one round is the
    * representative distributed step. */
  def bpePairs(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("pair"))
    Tables.documents(s, d)
      .select(explode(TextSim.words(col("text"))).as("tok"))
      .filter(length(col("tok")) >= 2)
      .select(explode(transform(sequence(lit(1), length(col("tok")) - 1),
        i => substr(col("tok"), i, lit(2)))).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 50)
  }

  /** Merge-round count shared by [[bpeTrain]] AND its DuckDB oracle's
    * CTE unrolling — one constant so the two can't drift (ADVICE r14:
    * they were hardcoded independently). */
  private[graft] val BpeTrainRounds = 5

  /** t57: FULL BPE MERGE LOOP — k sequential merge rounds with the
    * vocabulary state carried forward: the §3.3 iterative-session shape
    * (reference: iterative jobs, `TE/function.py:258-382`) applied to
    * the pipeline's tokenizer-training step; [[bpePairs]] (t39) is this
    * loop's single representative round.
    *
    * Scale shape: the corpus is scanned ONCE into a cached (word, freq)
    * vocabulary — classic BPE trains on word frequencies, so every
    * round's state is |V|-sized, never corpus-sized. Per round:
    * weighted adjacent-pair counts over the symbol sequences (map-only
    * generator, partial-aggregated; the global top-1 plans as
    * TakeOrderedAndProject), ONE winning merge row crosses to the
    * driver (count desc, then (left, right) tie-break — one row per
    * round is the only driver traffic), and the merge is applied
    * MAP-SIDE as a literal-string `replace` over the wrapped
    * `|a||b||c|` symbol encoding. Literal (non-regex) replace scans
    * left-to-right and resumes after each replacement in both engines —
    * exactly BPE's non-overlapping merge semantics ("aaa" with merge
    * (a,a) becomes [aa, a]) — and the wrapped encoding makes a pair
    * pattern `|l||r|` unable to match across symbol boundaries. Tokens
    * are [a-z]-only so the separator never collides with content.
    * Output: the merge table (round, left, right, pair count). */
  def bpeTrain(s: SparkSession, d: String): DataFrame = GraftContext.scoped(s) { ctx =>
    import s.implicits._
    val rounds = BpeTrainRounds
    var vocab = ctx.persist(Tables.documents(s, d)
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("tok"))
      .filter(length(col("tok")) >= 2)
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .select(regexp_replace(col("tok"), "(.)", "|$1|").as("seq"), col("n")))
    val merges = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
    for (r <- 1 to rounds) {
      val topRow = vocab
        .select(col("n"), split(trim(col("seq"), "|"), "\\|\\|").as("syms"))
        .filter(size(col("syms")) >= 2)
        .select(col("n"), explode(expr(
          """transform(sequence(1, size(syms) - 1),
             i -> named_struct('l', element_at(syms, i),
                               'r', element_at(syms, i + 1)))""")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect()
      topRow.headOption.foreach { row =>
        val (l, rt, c) = (row.getString(0), row.getString(1), row.getLong(2))
        merges += ((r.toLong, l, rt, c))
        // symbols are [a-z]+ by construction, so the interpolation is a
        // fixed literal pattern, never an injection surface
        val next = ctx.persist(vocab
          .select(expr(s"replace(seq, '|$l||$rt|', '|$l$rt|')").as("seq"), col("n")))
        ctx.release(vocab)
        vocab = next
      }
    }
    s.createDataset(merges.toSeq)
      .toDF("round", "left_sym", "right_sym", "pair_n")
      .orderBy(col("round"))
  }

  /** Fixed-window sequence chunking — sharding long documents into
    * 512-char windows before tokenization (the map-only precursor of
    * LLM context packing). The chunk count derives from `length(text)`
    * (a plain column function — cheap under InferFiltersFromGenerate's
    * pushdown duplication, unlike a computed signature: the t06 lesson
    * does not bite here), each chunk is verified by content via its md5
    * fingerprint. Scales as a pure map: no shuffle, no state. */
  def sequenceChunks(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0L), expr("(length(text) + 511) div 512") - 1L)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        expr("substring(text, CAST(chunk_id*512 + 1 AS INT), 512)").as("chunk"))
      .select(col("doc_id"), col("chunk_id"),
        length(col("chunk")).cast("long").as("n_chars_chunk"),
        md5(col("chunk")).as("chunk_fp"))

  /** Domain/language mix balancing — the data-mixing step that follows
    * stratified sampling in a training-corpus build: downsample every
    * language to (at most) the size of the SMALLEST language, producing
    * a balanced mix. The per-stratum rates are not fixtures like t15's
    * but DERIVED from the corpus itself: one tiny groupBy computes the
    * counts, the global min crosses as a 1-row broadcast, and the
    * basis-point rate `min·10⁴ div cnt` joins back as a broadcast dim —
    * the full corpus is touched by exactly one map-only pass whose
    * filter is the same deterministic md5 keep-hash as t15 (idempotent
    * under retries, identical row set on any engine). */
  def domainMix(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("cnt"))
    val floorCnt = counts.agg(min(col("cnt")).as("mn"))
    val rates = counts.crossJoin(floorCnt)
      .select(col("lang"), expr("mn * 10000 div cnt").as("rate_bp"))
    val keepHash = conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("long") % 10000L
    // bounded: one rate row per language
    docs.join(broadcast(rates), "lang")
      .filter(keepHash < col("rate_bp"))
      .select(col("doc_id"), col("lang"))
  }

  /** TF-IDF term salience: the top-3 most distinctive terms per document,
    * ranked by tf/df (monotone in tf·idf for a fixed corpus — and unlike
    * log-weighted scores, the ratio of two small ints divides identically
    * on any IEEE engine, so the rank is exact-oracle checkable; emitted
    * columns are all integers). Distributed shape: one explode+groupBy
    * for term frequencies, one groupBy over the (doc, term)-distinct
    * frame for document frequencies — vocabulary-sized, NOT corpus-sized
    * — joined back on the term key, then a per-doc top-k window that the
    * TopKPerKey rewrite cuts to k rows per partition before the shuffle. */
  def tfidfTop(s: SparkSession, d: String): DataFrame = {
    val tf = Tables.documents(s, d)
      .select(col("doc_id"), explode(TextSim.words(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy((col("tf").cast("double") / col("df")).desc, col("tok"))
    tf.join(df, "tok")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("tok"), col("tf"), col("df"), col("rank"))
  }

  /** t20: sequence packing — the "concatenate the corpus in document
    * order, slice into fixed context windows" layout LLM pretraining
    * uses. Each document's pack is the window its first token lands in:
    * pack_id = floor(global_token_start / capacity), so the assignment
    * is a GLOBAL cumulative sum — the one shape a per-key window
    * (q07's cumsum) cannot express.
    *
    * Distributed as the classic two-pass prefix scan, never a global
    * single-partition window: range-partition + sort by doc_id, pass 1
    * reduces each partition to one token-count subtotal (P longs to the
    * driver — bounded state, the scan's only collect), pass 2 streams
    * each partition once with its broadcast prefix offset. Both passes
    * run on the SAME sorted RDD, so Spark reuses the range-shuffle
    * stage and the partitioning (and hence the offsets) cannot drift
    * between them. Survives 100 TB: per-task state is one running long.
    */
  def packSequences(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cap = 2048L
    val sorted = Tables.documents(s, d)
      .select(col("doc_id").cast("long").as("doc_id"),
              tokenCount(col("text")).cast("long").as("tokens"))
      .repartitionByRange(col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .as[(Long, Long)]
      .rdd
    val partTotals = sorted
      .mapPartitionsWithIndex { case (pid, it) =>
        var sum = 0L
        it.foreach(sum += _._2)
        Iterator.single((pid, sum))
      }
      .collect().sortBy(_._1).map(_._2)
    val offsets = s.sparkContext.broadcast(partTotals.scanLeft(0L)(_ + _))
    sorted
      .mapPartitionsWithIndex { case (pid, it) =>
        var cum = offsets.value(pid)
        it.map { case (id, tok) =>
          val start = cum
          cum += tok
          (start / cap, id, tok)
        }
      }
      .toDF("pack_id", "doc_id", "tokens")
      .groupBy(col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("tokens")).as("sum_tokens"),
           min(col("doc_id")).as("first_doc"),
           max(col("doc_id")).as("last_doc"))
  }

  /** t22: within-document repetition score — the Gopher/MassiveText-style
    * duplicate-n-gram quality filter: what fraction of a doc's 3-gram
    * occurrences are repeats of an earlier occurrence? Pure integer
    * output (total grams, distinct grams, keep flag at the standard
    * "≤20% duplicated" cut, checked as (total−distinct)·5 ≤ total) so
    * the gate hash is exact. Map-only: the shingle array, distinct and
    * counts all fuse into the scan — at 100 TB this is a single pass
    * with no shuffle at all. */
  def repetitionScore(s: SparkSession, d: String): DataFrame =
    TextSim.spread(Tables.documents(s, d))
      // ws MUST be staged in its own projection: shingles3 reads its arg
      // once per element_at inside the per-shingle lambda, so inlining
      // the words() expression would re-run the full-text regex split
      // O(3·shingles) times per doc (measured 8-25 s vs 1-2 s at sf0.1)
      .select(col("doc_id"), TextSim.words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), TextSim.shingles3(col("ws")).as("shs"))
      .select(col("doc_id"), size(col("shs")).as("n_grams"),
              size(array_distinct(col("shs"))).as("n_distinct"))
      .withColumn("keep",
        when((col("n_grams") - col("n_distinct")) * 5 <= col("n_grams"), 1)
          .otherwise(0))

  /** t23: benchmark decontamination — the train/eval overlap scrub every
    * LLM corpus build runs before training (GPT-3 appendix C's 13-gram
    * dedup; 5-grams here to fit the fixture's ~60-token documents):
    * flag training docs sharing any word 5-gram with a held-out
    * benchmark set (docs with doc_id % 17 == 0 stand in for the eval
    * suite). Output per contaminated doc: distinct-gram count, overlap
    * count, and a keep flag at the ">12.5% contaminated → drop" cut —
    * all exact integers.
    *
    * Distributed shape: the benchmark side collapses to DISTINCT 60-bit
    * gram hashes, 1/17 of the corpus's grams, so it grows with the input
    * and carries no broadcast hint: while it is under the broadcast
    * threshold Spark broadcasts it and the corpus side is a map-only
    * explode of per-doc distinct gram hashes probed against it, then one
    * groupBy on doc_id; above the threshold both sides shuffle on the
    * 8-byte hash. The full text never shuffles. Joining on h64 hashes
    * (8 bytes) rather than gram strings keeps both join sides narrow;
    * both engines hash identically, so any collision is shared and the
    * result stays bit-equal.
    *
    * explode_outer, not explode: InferFiltersFromGenerate fires only on
    * non-outer generates, and its inferred `size(shs) > 0` filter
    * inlines the whole shingle tree into a Filter pushed below the
    * spread Exchange — pinning the heavy compute to the source's single
    * input split (the t06 trap, measured 166× there). The `size(ws) >=
    * 5` guard already makes every array non-empty, and the inner join
    * on h drops any null row, so outer is semantically identical. */
  def decontaminate(s: SparkSession, d: String): DataFrame = {
    val grams = TextSim.spread(Tables.documents(s, d))
      .select(col("doc_id"), TextSim.words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 5)
      .select(col("doc_id"), array_distinct(TextSim.shingles(col("ws"), 5)).as("shs"))
    val bench = grams.filter(col("doc_id") % 17 === 0)
      .select(explode_outer(col("shs")).as("sh"))
      .select(TextSim.h64(col("sh")).as("h"))
      .distinct()
    val corpus = grams.filter(col("doc_id") % 17 =!= 0)
      .select(col("doc_id"), size(col("shs")).as("n_grams"), explode_outer(col("shs")).as("sh"))
      .select(col("doc_id"), col("n_grams"), TextSim.h64(col("sh")).as("h"))
    corpus.join(bench, "h")
      .groupBy(col("doc_id"))
      .agg(min(col("n_grams")).as("n_grams"), count(lit(1)).as("n_hit"))
      .withColumn("keep",
        when(col("n_hit") * 8 > col("n_grams"), 0).otherwise(1))
  }

  /** Deny-listed vocabulary for t24 — stands in for the bad-word /
    * brand-term / boilerplate lists real corpus builds scrub against
    * (C4's badwords drop; Dolma's span redaction). */
  private val denylist = Seq("customer", "spark", "vector")

  /** t24: denylist scrub — per-document bad-term counting, span
    * redaction, and a drop decision at the ">10% deny-listed tokens"
    * cut. Output: token count, bad count, md5 fingerprint of the
    * redacted body (bad tokens replaced by "[*]" — content-verifies
    * the rewrite without shipping the text), and the keep flag.
    *
    * Distributed shape: the denylist is a literal in the plan (a real
    * deployment broadcasts it); everything is a codegen'd map-only pass
    * over the scan — filter/transform/md5 on the staged word array —
    * with NO exchange at all. At 100 TB this is the cheapest possible
    * shape: one pass, no shuffle, output a handful of scalars per doc. */
  def denylistScrub(s: SparkSession, d: String): DataFrame = {
    val bad: Column => Column = w => w.isin(denylist: _*)
    TextSim.spread(Tables.documents(s, d))
      .select(col("doc_id"), TextSim.words(col("text")).as("ws"))
      .select(col("doc_id"),
        size(col("ws")).as("n_tokens"),
        size(filter(col("ws"), bad)).as("n_bad"),
        md5(array_join(
          transform(col("ws"), w => when(bad(w), lit("[*]")).otherwise(w)),
          " ")).as("redacted_fp"))
      .withColumn("keep",
        when(col("n_bad") * 10 > col("n_tokens"), 0).otherwise(1))
  }

  /** t25: cross-document chunk-level exact dedup — the CCNet/RefinedWeb
    * "line dedup" pass that strips boilerplate repeated across pages,
    * at sub-document granularity (t05 dedups whole docs; this dedups
    * their 10-word chunks). Every distinct chunk keeps exactly ONE
    * occurrence — the (doc_id, cid)-minimal one — and each document is
    * reassembled from its surviving chunks in order. Output per
    * surviving doc: total/kept chunk counts and the md5 of the
    * reassembled body (content-verifies the rewrite, t17/t24 style);
    * fully-pruned duplicate docs drop out of the result.
    *
    * Distributed shape, in passes over the corpus: (1) map-only chunk
    * construction — stage the word array (the t22 lesson), explode a
    * cid sequence, slice + join, md5; (2) the owner election groupBy
    * ships ONLY (16-byte digest, packed id) — the t05 contract: text
    * never rides the dedup exchange; (3) owners join back to the chunk
    * rows on digest (shuffled equi-join — both sides are corpus-sized,
    * AQE picks the strategy) and survivors reassemble with one groupBy
    * on doc_id. Two text-bearing exchanges total, both unavoidable for
    * a reassembling rewrite; the election itself stays digest-only, so
    * at 100 TB the skew/width risk sits in the joins Catalyst already
    * handles, never in a custom path. */
  def chunkDedup(s: SparkSession, d: String): DataFrame = {
    val chunks = TextSim.spread(Tables.documents(s, d))
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), col("ws"),
        expr("(size(ws)+9) div 10").cast("long").as("n_chunks"))
      .select(col("doc_id"), col("n_chunks"),
        explode(sequence(lit(0L), col("n_chunks") - 1L)).as("cid"), col("ws"))
      .select(col("doc_id"), col("n_chunks"), col("cid"),
        array_join(slice(col("ws"), (col("cid") * 10 + 1).cast("int"), lit(10)), " ")
          .as("chunk"))
      .withColumn("h", md5(col("chunk")))
      .withColumn("pack", col("doc_id") * 1000000L + col("cid"))
    val owners = chunks.groupBy(col("h")).agg(min(col("pack")).as("owner"))
    chunks.join(owners, "h")
      .filter(col("pack") === col("owner"))
      .groupBy(col("doc_id"))
      .agg(max(col("n_chunks")).as("n_chunks"),
           count(lit(1)).as("n_kept"),
           md5(array_join(
             transform(array_sort(collect_list(struct(col("cid"), col("chunk")))),
               x => x.getField("chunk")), " ")).as("kept_md5"))
  }

  /** t26: the corpus filter funnel — the composed keep/drop chain every
    * production corpus build runs before training (the Gopher/RefinedWeb
    * rule cascade), fused into ONE scan with attrition accounting.
    * Three sequential stages reuse this file's signal definitions:
    * quality (t03's alphabetic density, integer-cut alpha*10 >= len*6,
    * plus a 40-token floor), language evidence (t10's function-word
    * hits: >= 2 English stopword occurrences), and repetition (t22's
    * duplicate-shingle share at bigram granularity: > 5% duplicate
    * word-2-grams drops the doc). Output is the one-row attrition /
    * token-yield report — docs and tokens surviving each stage, the
    * numbers a pipeline owner actually tracks across a 100 TB build.
    *
    * Distributed shape: every signal evaluates in one fused projection
    * over the shared staged word array (the t22 staging lesson — ws is
    * materialized once, each signal reads the attribute), the partial
    * aggregate combines map-side, and exactly six longs cross the
    * single exchange. No join, no per-doc shuffle, nothing text-bearing
    * leaves the scan stage — at any corpus size this is a map-only
    * sweep with a scalar reduce. All cuts are integer arithmetic (never
    * a rounded-float compare), so the oracle hash-match is exact by
    * construction. */
  def filterFunnel(s: SparkSession, d: String): DataFrame = {
    val nw = size(col("ws"))
    val sig = TextSim.spread(Tables.documents(s, d))
      .select(col("text"), TextSim.words(col("text")).as("ws"))
      .select(
        length(col("text")).as("len"),
        length(regexp_replace(col("text"), "[^a-zA-Z]", "")).as("alpha"),
        tokenCount(col("text")).cast("long").as("ntok"),
        nw.as("nw"),
        size(filter(col("ws"), w => w.isin(langSets.head._2: _*))).as("hits_en"),
        when(nw >= 2, nw - 1).otherwise(0).as("n2"),
        when(nw >= 2, size(array_distinct(TextSim.shingles(col("ws"), 2))))
          .otherwise(0).as("nd2"))
    sig.select(
      col("ntok"),
      when(col("alpha") * 10 >= col("len") * 6 && col("ntok") >= 40, 1L)
        .otherwise(0L).as("q"),
      when(col("hits_en") >= 2, 1L).otherwise(0L).as("l"),
      when(col("nw") < 2 || (col("n2") - col("nd2")) * 20 <= col("n2"), 1L)
        .otherwise(0L).as("r"))
      .agg(
        count(lit(1)).as("n_total"),
        sum(col("q")).as("n_quality"),
        sum(col("q") * col("l")).as("n_quality_lang"),
        sum(col("q") * col("l") * col("r")).as("n_pass"),
        sum(col("ntok")).as("tokens_total"),
        sum(col("ntok") * col("q") * col("l") * col("r")).as("tokens_kept"))
  }

  /** t27: skew-stress chunk dedup — t25 under the one realistic 100 TB
    * failure mode the plain gate never exercises: a boilerplate chunk
    * shared by a large fraction of the corpus (cookie banners, nav
    * headers — CCNet's motivating case). A fixed 10-word banner is
    * planted at the head of ~30 % of docs (doc_id % 10 < 3,
    * deterministic), so ONE digest owns ~30 % of the chunk rows — a
    * textbook hot key.
    *
    * Why this survives the hot key, structurally (not via AQE rescue):
    *  - The owner election is groupBy(h).min(pack) — `min` combines
    *    map-side (partial_min), so the hot digest ships at most one
    *    partial row per map partition; reduce-side width is bounded by
    *    P regardless of the key's row share.
    *  - t25 joins owners back on the digest ALONE and filters — the
    *    shape that straggles here, because every planted row hashes to
    *    the hot digest's one partition. t27 instead joins on the
    *    COMPOSITE key (h, pack): the owner row is itself an (h, pack)
    *    pair, so the equi-join can carry both columns, every join key
    *    is unique on both sides, and the hot digest's rows fan out
    *    across the full hash space. Skew is eliminated by key
    *    construction — no salting pass, no reliance on
    *    spark.sql.adaptive.skewJoin splitting an oversized partition
    *    after the fact (that stays on as the safety net it should be).
    * Non-owner planted docs lose exactly their banner chunk; the banner
    * survives once globally, in the minimal (doc_id, cid). Output and
    * reassembly fingerprint are t25's, over the planted corpus. */
  def skewChunkDedup(s: SparkSession, d: String): DataFrame = {
    val banner = "click here to accept cookies and continue to the site"
    val chunks = TextSim.spread(Tables.documents(s, d))
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        when(col("doc_id") % 10 < 3, concat(lit(banner + " "), col("text")))
          .otherwise(col("text")).as("text"))
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), col("ws"),
        expr("(size(ws)+9) div 10").cast("long").as("n_chunks"))
      .select(col("doc_id"), col("n_chunks"),
        explode(sequence(lit(0L), col("n_chunks") - 1L)).as("cid"), col("ws"))
      .select(col("doc_id"), col("n_chunks"), col("cid"),
        array_join(slice(col("ws"), (col("cid") * 10 + 1).cast("int"), lit(10)), " ")
          .as("chunk"))
      .withColumn("h", md5(col("chunk")))
      .withColumn("pack", col("doc_id") * 1000000L + col("cid"))
    val owners = chunks.groupBy(col("h")).agg(min(col("pack")).as("pack"))
    chunks.join(owners, Seq("h", "pack"))
      .groupBy(col("doc_id"))
      .agg(max(col("n_chunks")).as("n_chunks"),
           count(lit(1)).as("n_kept"),
           md5(array_join(
             transform(array_sort(collect_list(struct(col("cid"), col("chunk")))),
               x => x.getField("chunk")), " ")).as("kept_md5"))
  }

  /** t28: out-of-vocabulary-rate quality signal — the CCNet-style
    * "head/tail" corpus split driven by how much of a document falls
    * outside the corpus's own top-k vocabulary (a language-model-free
    * stand-in for perplexity bucketing, and exactly integer so the gate
    * hash is exact). Two phases over the corpus: (1) derive the
    * top-1000 vocabulary — token counts then a (count desc, word)
    * deterministic top-k, planned as TakeOrderedAndProject (every map
    * partition pre-cuts to k before the single merge — the t16
    * discipline, safe at any corpus size for warehouse-scale k);
    * (2) probe: explode tokens, broadcast-join against the 1000-row
    * vocabulary (map-only — tokens never shuffle), and reduce to
    * per-doc (n_tokens, n_oov, oov permille by integer division). The
    * only corpus-sized exchange carries (doc_id, two longs) partial
    * aggregates. */
  def oovRate(s: SparkSession, d: String): DataFrame = {
    val ws = TextSim.spread(Tables.documents(s, d))
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), TextSim.words(col("text")).as("ws"))
    val top = ws.select(explode(col("ws")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("w")).limit(1000)
      .select(col("w"), lit(1L).as("in_vocab"))
    ws.select(col("doc_id"), explode(col("ws")).as("w"))
      // bounded: limit(1000)
      .join(broadcast(top), Seq("w"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
           sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_permille", expr("n_oov * 1000 div n_tokens"))
  }

  /** t29: PII scrub — the mandatory email/phone redaction pass of a
    * compliant corpus build (the C4/RefinedWeb privacy cut next to
    * t24's denylist). The fixture corpus carries no PII, so it is
    * PLANTED deterministically (t27's discipline): docs with
    * doc_id % 7 < 2 get an email + phone tail derived from their id.
    * The scrub then counts and redacts with two anchored-to-nothing
    * regexes kept RE2-simple so Java (Spark) and RE2 (DuckDB oracle)
    * agree byte-for-byte; the redacted body is content-verified by md5
    * (the t17/t24 fingerprint contract), which fails if the regexes
    * over- or under-redact by a single character.
    *
    * Scale shape: map-only — counts, replacements and the fingerprint
    * all fuse into the one scan projection; nothing text-bearing leaves
    * the stage and there is no exchange at all at any corpus size. */
  def piiScrub(s: SparkSession, d: String): DataFrame = {
    val email = "[a-zA-Z0-9.]+@[a-zA-Z0-9.]+"
    val phone = "555-[0-9]+"
    TextSim.spread(Tables.documents(s, d))
      .select(col("doc_id"),
        when(col("doc_id") % 7 < 2,
          concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
                 lit("@example.com or call 555-0"), col("doc_id").cast("string")))
          .otherwise(col("text")).as("text"))
      .select(col("doc_id"),
        regexp_count(col("text"), lit(email)).cast("long").as("n_emails"),
        regexp_count(col("text"), lit(phone)).cast("long").as("n_phones"),
        md5(regexp_replace(regexp_replace(col("text"), email, "[EMAIL]"),
                           phone, "[PHONE]")).as("scrubbed_fp"))
      .withColumn("has_pii",
        when(col("n_emails") + col("n_phones") > 0, 1L).otherwise(0L))
  }

  /** t33: exact repeated-substring detection — the character-level dedup
    * primitive from "Deduplicating Training Data Makes Language Models
    * Better" (Lee et al. 2022; that work builds a suffix array, the
    * distributed equivalent is windowed hashing): slide 64-char windows
    * at stride 16 over every document and surface windows whose EXACT
    * text recurs anywhere in the corpus (within or across documents) —
    * boilerplate, licenses, templated spans.
    *
    * Distributed shape: the window text is digested to md5 IN the scan
    * projection, so the corpus-sized exchange carries (32-char digest,
    * packed owner) pairs, never window text — the same digest-only
    * election as t25. The aggregate combines map-side; output keeps only
    * digests seen ≥ 2 times with occurrence/document counts and the
    * earliest owner (doc, pos) for span recovery. At 100 TB this is one
    * pass + one digest-keyed exchange; stride trades recall for window
    * count exactly as in the published pipelines. */
  def substringDedup(s: SparkSession, d: String): DataFrame = {
    val W = 64; val S = 16
    TextSim.spread(Tables.documents(s, d))
      .filter(length(col("text")) >= W)
      .select(col("doc_id"), col("text"))
      .withColumn("p",
        explode(expr(s"sequence(CAST(0 AS BIGINT), CAST((length(text) - $W) div $S AS BIGINT))")))
      .select(col("doc_id"), col("p"),
              expr(s"md5(CAST(substring(text, CAST(p*$S+1 AS INT), $W) AS BINARY))").as("h"))
      .groupBy(col("h"))
      .agg(count(lit(1)).as("n_occ"),
           countDistinct(col("doc_id")).as("n_docs"),
           min(col("doc_id") * 1000000 + col("p")).as("owner_pack"))
      .filter(col("n_occ") > 1)
  }

  /** t36: deterministic GLOBAL corpus shuffle — the "shuffle before
    * training" step every epoch pipeline runs: a pseudo-random but
    * reproducible total permutation of the corpus, as (doc_id →
    * position). Order key = salted md5 of the doc id (salt "shuf_"
    * decorrelates this permutation from the t15 sampling and t34 split
    * hashes; changing the salt re-shuffles — that's the epoch knob).
    * Positions come from the q37 two-pass rank: range-partition by the
    * hash, count per partition (P longs to the driver), broadcast
    * exclusive offsets, stream positions — NEVER a single-partition
    * row_number. Retry-idempotent and engine-independent like every
    * hash-keyed stage in this module. */
  def globalShuffle(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val h = conv(substring(md5(concat(lit("shuf_"),
      col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long")
    val sorted = Tables.documents(s, d)
      .select(col("doc_id"), h.as("h"))
      .repartitionByRange(col("h"), col("doc_id"))
      .sortWithinPartitions(col("h"), col("doc_id"))
      .as[(Long, Long)].rdd
    val counts = sorted
      .mapPartitionsWithIndex { case (pid, it) =>
        var c = 0L; it.foreach(_ => c += 1); Iterator.single((pid, c))
      }
      .collect().sortBy(_._1).map(_._2)
    val offsets = s.sparkContext.broadcast(counts.scanLeft(0L)(_ + _))
    sorted.mapPartitionsWithIndex { case (pid, it) =>
        var r = offsets.value(pid)
        it.map { case (id, hv) => r += 1; (id, hv, r) }
      }
      .toDF("doc_id", "h", "pos")
  }

  /** t37: INTRA-document chunk dedup — the C4 rule applied within one
    * document (repeated boilerplate paragraphs inside a page collapse
    * to their first occurrence). t25's cross-document form needs a
    * corpus-wide owner election; within a single document the dedup is
    * pure per-row array algebra, so the whole operator is MAP-ONLY:
    * chunk the word array (the t25 10-word granularity), keep chunk i
    * iff its FIRST occurrence index is i (array_position — identical
    * 1-based first-match semantics in DuckDB's list_position), then
    * reassemble and fingerprint. Zero exchanges at any corpus size.
    * The fixture has no natural 10-word repeats, so (the t27
    * discipline) a third of the docs get the cookie banner planted
    * TWICE at the front — those docs must lose exactly one chunk,
    * every other doc must pass through byte-identical. */
  def intraDocDedup(s: SparkSession, d: String): DataFrame = {
    val banner = "click here to accept cookies and continue to the site"
    val chunks = transform(
      sequence(lit(0L), expr("(size(ws)+9) div 10").cast("long") - 1L),
      i => array_join(slice(col("ws"), (i * 10 + 1).cast("int"), lit(10)), " "))
    TextSim.spread(Tables.documents(s, d))
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
             concat(lit(banner + " " + banner + " "), col("text")))
          .otherwise(col("text")).as("text"))
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), chunks.as("chunks"))
      .select(col("doc_id"), col("chunks"),
        filter(col("chunks"), (c, i) =>
          array_position(col("chunks"), c) === (i + 1).cast("long")).as("kept"))
      .select(col("doc_id"),
        size(col("chunks")).cast("long").as("n_chunks"),
        size(col("kept")).cast("long").as("n_kept"),
        md5(array_join(col("kept"), " ")).as("kept_md5"))
  }

  /** t40: deterministic HYPERLOGLOG registers + merge algebra — the
    * fixed-size distinct-counter that complements the KMV family
    * (t13/t31): 256 buckets × one 6-bit register, built from the same
    * md5-derived 60-bit hash the whole repo uses. bucket = h mod 256;
    * the remaining 52 bits w rank by their leading-zero count ρ =
    * 53 − bitlen(w) (integer-exact via `length(bin(w))` — both engines
    * print unpadded binary, no float log anywhere); the register is
    * max(ρ) per (lang, bucket) — ONE partial-aggregable pass, 256 longs
    * of state per language no matter the corpus size.
    *
    * The output carries each language's register profile (bucket count,
    * Σreg, and the exact-integer harmonic indicator Σ 2^(53−reg) — the
    * value HLL's estimator divides by, kept in the BIGINT domain so the
    * hash matches cross-engine) plus an 'ALL' row derived purely FROM
    * THE PER-LANGUAGE REGISTERS by elementwise max — the merge algebra
    * that lets 100 TB shards sketch locally and combine 256-byte states
    * upward; the oracle rebuilds that row from the raw union, proving
    * merge == direct. */
  def hllSketch(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("lang"), explode(TextSim.words(col("text"))).as("tok"))
    val regs = toks
      .select(col("lang"), TextSim.h64(col("tok")).as("h"))
      .select(col("lang"), (col("h") % 256).as("bucket"),
              expr("h div 256").as("w"))
      .select(col("lang"), col("bucket"),
        when(col("w") === 0L, lit(53L))
          .otherwise(lit(53L) - length(bin(col("w"))).cast("long")).as("rho"))
      .groupBy(col("lang"), col("bucket"))
      .agg(max(col("rho")).as("reg"))
    def profile(r: DataFrame, langCol: Column): DataFrame =
      r.groupBy(langCol.as("lang"))
        .agg(count(lit(1)).as("n_buckets"),
             sum(col("reg")).as("sum_reg"),
             sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(53 - reg AS INT))"))
               .as("ind_scaled"))
    val merged = regs.groupBy(col("bucket")).agg(max(col("reg")).as("reg"))
    profile(regs, col("lang")).unionByName(profile(merged, lit("ALL")))
  }

  /** t41: OVERLAPPING sliding-window chunking (window 256 chars, stride
    * 128) — the RAG/pretraining chunker where consecutive pieces share
    * half their content so no boundary-straddling passage is lost
    * (t17 is the stride==window special case). Same map-only discipline:
    * the window index explodes from a foldable sequence, the substring
    * stays inside the scan projection, and each chunk leaves the task as
    * a 16-byte md5 + length — the text itself never shuffles, so cost
    * scales with corpus bytes × overlap factor and nothing else. */
  def overlapChunks(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0L), expr("(length(text) + 127) div 128") - 1L)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        expr("substring(text, CAST(chunk_id*128 + 1 AS INT), 256)").as("chunk"))
      .select(col("doc_id"), col("chunk_id"),
        length(col("chunk")).cast("long").as("n_chars_chunk"),
        md5(col("chunk")).as("chunk_fp"))

  /** t42: TEMPERATURE-SMOOTHED domain mixing (α = 0.5) — the corpus-
    * mixture reweighting between t18's hard balance (α → ∞, every
    * language cut to the smallest) and no reweighting (α = 1): keep
    * rate ∝ (mn/cnt)^α softens big-domain dominance without flattening
    * the mix. rate_bp = floor(sqrt(mn/cnt)·10⁴) — division and sqrt are
    * IEEE-correctly-rounded in both engines, so the basis-point rate is
    * bit-identical — then the t15/t18 keep-hash: deterministic,
    * retry-idempotent, ONE map-only pass over the corpus with the tiny
    * rate table broadcast. Output is the per-language mix audit
    * (corpus count, applied rate, kept count). */
  def temperatureMix(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("cnt"))
    val rates = counts.crossJoin(counts.agg(min(col("cnt")).as("mn")))
      .select(col("lang"), col("cnt"),
        floor(sqrt(col("mn").cast("double") / col("cnt").cast("double")) * 10000.0)
          .cast("long").as("rate_bp"))
    val keepHash = conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("long") % 10000L
    // bounded: one rate row per language
    docs.join(broadcast(rates), "lang")
      .filter(keepHash < col("rate_bp"))
      .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
      .join(rates, "lang")
      .select(col("lang"), col("cnt"), col("rate_bp"), col("n_kept"))
  }

  /** t43: classifier THRESHOLD SWEEP — the calibration step after any
    * quality scorer: bucket every document by its integer permille
    * alpha-ratio score (the t03 signal), cross-tab against a reference
    * label (lang = 'en' here), and emit per-decile counts PLUS the
    * cumulative from-the-top counts that precision/recall-at-threshold
    * read off directly. One map-only scan → ≤ 11-row aggregate → a
    * window over those 11 rows: the sweep costs one pass over the
    * corpus no matter how many thresholds are evaluated (vs re-scanning
    * per candidate threshold). All-integer output. */
  def thresholdSweep(s: SparkSession, d: String): DataFrame = {
    val w = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    TextSim.spread(Tables.documents(s, d))
      .filter(length(col("text")) > 0)
      .select(
        expr("length(regexp_replace(text, '[^a-zA-Z]', '')) * 1000 div length(text)")
          .as("permille"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      .groupBy(expr("permille div 100").as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"))
      .withColumn("cum_n", sum(col("n")).over(w))
      .withColumn("cum_pos", sum(col("n_pos")).over(w))
  }

  /** t48: BM25 RELEVANCE — the Okapi ranking function behind lexical
    * retrieval (and the quality-ranked recall stage of RAG-style data
    * pipelines): score = Σ_q idf(q) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    * k1 = 1.2, b = 0.75. Cross-engine exactness discipline: with
    * k1 = 6/5, b = 3/4 and avgdl = T/N the term ratio clears to the pure
    * integer form 22000·tf·T div (10·tf·T + 3·T + 9·dl·N) (one floor
    * division per (doc, term)), and idf uses the same bit-length log2
    * surrogate t32's surprisal pins (⌊log2 N⌋ − ⌊log2 df⌋) — no float
    * ever enters the plan. The query is derived, not hard-coded: the 5
    * highest-df terms with df·2 < N (ties by token), so the entry is
    * fixture-agnostic. Scale shape: tokens shuffle ONCE into the (doc,
    * term) tf table; df is a second vocab-sized agg over tf; the 5-term
    * query broadcasts back onto tf (map-side), and top-20 is a
    * TakeOrdered — no sort of the corpus, no joins on raw text. */
  def bm25TopDocs(s: SparkSession, d: String): DataFrame = GraftContext.scoped(s) { ctx =>
    val ws = TextSim.spread(Tables.documents(s, d))
      .select(col("doc_id"), TextSim.words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 1)
    val toks = ws.select(col("doc_id"), size(col("ws")).cast("long").as("dl"),
                         explode(col("ws")).as("tok"))
    val tf = ctx.pin(toks.groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl")))
    val nt = ws.agg(count(lit(1)).as("nn"),
                    sum(size(col("ws")).cast("long")).as("tt"))
    val qterms = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .crossJoin(nt)
      .filter(col("df") * 2 < col("nn"))
      .orderBy(col("df").desc, col("tok")).limit(5)
    // bounded: limit(5)
    tf.join(broadcast(qterms), "tok")
      .withColumn("idf_bits",
        (length(bin(col("nn"))) - length(bin(col("df")))).cast("long"))
      .withColumn("part", col("idf_bits") *
        expr("(22000 * tf * tt) div (10 * tf * tt + 3 * tt + 9 * dl * nn)"))
      .groupBy(col("doc_id"))
      .agg(sum(col("part")).as("bm25_sc"), count(lit(1)).as("n_qterms"))
      .orderBy(col("bm25_sc").desc, col("doc_id")).limit(20)
      .localCheckpoint(true)   // 20 rows
  }

  /** t49: COLLOCATION MINING — the phrase-detection pass (word2vec-
    * phrases / gensim `Phrases`) corpus builds run to merge "new york"-
    * style bigrams before tokenization. Association strength is an
    * integer PMI RATIO in ppm — score = ((c_ab·N) div c_a · 10⁶) div
    * c_b, a log-free monotone transform of pointwise mutual information
    * (log is NOT ulp-stable across engines; the ratio is exact) — with
    * the standard min-support cut c_ab ≥ 5. Distributed shape: bigram
    * and unigram counts are both partial-aggregable; the two unigram
    * attachments join on the token key (vocabulary-sized, NOT broadcast
    * — vocab grows with the corpus); the 1-row total crosses as a
    * broadcast; the final top-20 is an orderBy+limit → TakeOrdered
    * (map-side cut, never a full sort). */
  def collocations(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(TextSim.words(col("text")).as("ws"))
    val toks = docs.select(explode(col("ws")).as("tok")).filter(col("tok") =!= "")
    val uni = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val nTot = toks.groupBy().agg(count(lit(1)).as("n_tot"))
    val pairs = docs.filter(size(col("ws")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("ws")) - 1),
        i => struct(element_at(col("ws"), i).as("a"),
                    element_at(col("ws"), i + 1).as("b")))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .filter(col("a") =!= "" && col("b") =!= "")
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= 5)
    val scored = pairs
      .join(uni.select(col("tok").as("a"), col("c").as("c_a")), "a")
      .join(uni.select(col("tok").as("b"), col("c").as("c_b")), "b")
      .crossJoin(nTot)
      .select(col("a"), col("b"), col("c_ab"),
              expr("((c_ab * n_tot) div c_a * 1000000) div c_b").as("score"))
    scored.orderBy(col("score").desc, col("a"), col("b")).limit(20)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col("a"), col("b"))).cast("long"))
      .select(col("rank"), col("a"), col("b"), col("c_ab"), col("score"))
  }

  /** t50: GOPHER-STYLE QUALITY RULES — the repetition-free subset of the
    * Gopher/MassiveText document filters (word-count bounds, mean word
    * length, alphabetic-word fraction, bullet-line fraction, stop-word
    * presence) as per-document 0/1 flags plus the conjunctive pass bit.
    * Every rule is an exact integer cross-multiplication
    * (3·nw ≤ wchars ≤ 10·nw, 5·n_alpha ≥ 4·nw, 10·n_bullets ≤ 9·n_lines,
    * n_stop ≥ 2) — no ratio ever becomes a float, so the flags are
    * engine-exact. Map-only: one corpus scan, zero shuffle, the word
    * and line arrays staged in their own projection (the t06/t35
    * re-inline discipline) so each count reads a computed attribute. */
  def gopherRules(s: SparkSession, d: String): DataFrame = {
    val staged = TextSim.spread(Tables.documents(s, d))
      .select(col("doc_id"), TextSim.words(col("text")).as("ws0"),
              split(col("text"), "\n").as("lines"))
      .select(col("doc_id"),
              expr("filter(ws0, w -> w <> '')").as("ws"), col("lines"))
    val counted = staged.select(
      col("doc_id"),
      size(col("ws")).cast("long").as("nw"),
      expr("aggregate(ws, cast(0 as bigint), (acc, w) -> acc + length(w))")
        .as("wchars"),
      expr("cast(size(filter(ws, w -> w rlike '[a-z]')) as bigint)").as("n_alpha"),
      expr("""cast(size(filter(lines,
                l -> ltrim(l) LIKE '-%' OR ltrim(l) LIKE '*%')) as bigint)""")
        .as("n_bullets"),
      size(col("lines")).cast("long").as("n_lines"),
      expr("""cast((case when array_contains(ws, 'the') then 1 else 0 end)
                 + (case when array_contains(ws, 'and') then 1 else 0 end)
                 + (case when array_contains(ws, 'of')  then 1 else 0 end)
                 + (case when array_contains(ws, 'to')  then 1 else 0 end)
                 + (case when array_contains(ws, 'in')  then 1 else 0 end)
                 + (case when array_contains(ws, 'a')   then 1 else 0 end)
                 + (case when array_contains(ws, 'is')  then 1 else 0 end)
                 + (case when array_contains(ws, 'for') then 1 else 0 end)
              as bigint)""").as("n_stop"))
    val fWords  = col("nw") >= 50L && col("nw") <= 100000L
    val fMwl    = col("wchars") >= lit(3L) * col("nw") &&
                  col("wchars") <= lit(10L) * col("nw")
    val fAlpha  = lit(5L) * col("n_alpha") >= lit(4L) * col("nw")
    val fBullet = lit(10L) * col("n_bullets") <= lit(9L) * col("n_lines")
    val fStop   = col("n_stop") >= 2L
    def flag(c: org.apache.spark.sql.Column) = when(c, 1L).otherwise(0L)
    counted.select(col("doc_id"), col("nw"), col("wchars"), col("n_alpha"),
      col("n_bullets"), col("n_lines"), col("n_stop"),
      flag(fWords).as("f_words"), flag(fMwl).as("f_mwl"),
      flag(fAlpha).as("f_alpha"), flag(fBullet).as("f_bullet"),
      flag(fStop).as("f_stop"),
      flag(fWords && fMwl && fAlpha && fBullet && fStop).as("pass"))
  }

  /** t51: BIGRAM-LM QUALITY SCORING — per-document mean inverse bigram
    * probability from a self-trained corpus bigram model, the 2-gram
    * upgrade of t32's unigram surprisal (KenLM-style filters score with
    * exactly this shape). Rate of a bigram = c(w1)·10⁶ div c(w1,w2) —
    * the integer reciprocal of the conditional MLE, ≥ 10⁶, exact — and
    * a document's score is its tf-weighted mean rate (high = improbable
    * word transitions = likely junk). Distributed shape: bigram
    * expansion is map-only off the token arrays; model counts
    * partial-combine into vocabulary²- and vocabulary-sized aggregates;
    * scoring joins key on the bigram/context (both grow with the corpus
    * — shuffled equi-joins, deliberately NOT broadcast); the final
    * per-doc mean is one more partial-combined groupBy. Integer
    * end-to-end. */
  def bigramSurprisal(s: SparkSession, d: String): DataFrame = {
    val docs = TextSim.spread(Tables.documents(s, d))
      .select(col("doc_id"), TextSim.words(col("text")).as("ws"))
    val bi = docs.filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(transform(sequence(lit(1), size(col("ws")) - 1),
        i => struct(element_at(col("ws"), i).as("w1"),
                    element_at(col("ws"), i + 1).as("w2")))).as("p"))
      .filter(col("p.w1") =!= "" && col("p.w2") =!= "")
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val c12 = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val c1  = bi.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    bi.groupBy(col("doc_id"), col("w1"), col("w2")).agg(count(lit(1)).as("tf"))
      .join(c12, Seq("w1", "w2")).join(c1, Seq("w1"))
      .select(col("doc_id"), col("tf"), expr("(c1 * 1000000) div c12").as("r"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_bigrams"),
           sum(col("tf") * col("r")).as("rate_mass"))
      .select(col("doc_id"), col("n_bigrams"), col("rate_mass"),
              expr("rate_mass div n_bigrams").as("mean_rate"))
  }

  /** t52: SKIP-GRAM CO-OCCURRENCE — the window-±2 unordered word
    * co-occurrence table (the count matrix word2vec/GloVe train from),
    * vs t49's ordered ADJACENT bigrams: pairs at distance 1 and 2 are
    * emitted map-only from the token arrays (two slice-zips — no
    * sequence() calls whose empty case would flip descending), the
    * pair is normalized to (min, max) so "hash join" and "join hash"
    * collapse, and counts partial-combine into a vocabulary²-bounded
    * aggregate cut to the top 20 by TakeOrdered — never a global sort
    * of the pair vocabulary. Min-support 5 keeps the tail off the
    * wire, the t16/t49 discipline. */
  def skipgramCooc(s: SparkSession, d: String): DataFrame = {
    val docs = TextSim.spread(Tables.documents(s, d))
      .select(TextSim.words(col("text")).as("ws"))
    val counted = docs.filter(size(col("ws")) >= 2)
      .select(explode(expr(
        """concat(
             zip_with(slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1),
                      (a, b) -> struct(a AS x, b AS y)),
             zip_with(slice(ws, 1, greatest(size(ws) - 2, 0)),
                      slice(ws, 3, greatest(size(ws) - 2, 0)),
                      (a, b) -> struct(a AS x, b AS y)))""")).as("p"))
      .filter(col("p.x") =!= "" && col("p.y") =!= "")
      .select(least(col("p.x"), col("p.y")).as("a"),
              greatest(col("p.x"), col("p.y")).as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 5)
    counted.orderBy(col("c").desc, col("a"), col("b")).limit(20)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("c").desc, col("a"), col("b"))).cast("long"))
      .select(col("rank"), col("a"), col("b"), col("c"))
  }

  /** t53: PER-DOCUMENT TOKEN ENTROPY — Shannon entropy of each
    * document's own token distribution, the lexical-diversity feature
    * quality classifiers lean on (low entropy = repetitive/template
    * text; complements t32's corpus-model surprisal and t22's n-gram
    * repetition). Each −(tf/n)·ln(tf/n) term floors to integer nanos
    * BEFORE the per-doc sum (the t46/ml17 discipline — order-independent
    * and engine-exact); tf and the totals stay int64. Shapes: one
    * (doc, token) partial-combined aggregate, one doc-keyed join of the
    * doc totals, one more partial-combined per-doc sum. */
  def docEntropy(s: SparkSession, d: String): DataFrame = {
    val tf = TextSim.spread(Tables.documents(s, d))
      .select(col("doc_id"), explode(TextSim.words(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val totals = tf.groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n"), count(lit(1)).as("n_types"))
    val p = col("tf").cast("double") / col("n").cast("double")
    tf.join(totals, "doc_id")
      .select(col("doc_id"), col("n"), col("n_types"),
              floor(-p * log(p) * lit(1.0e9)).cast("long").as("nano"))
      .groupBy(col("doc_id"))
      .agg(max(col("n")).as("n_tokens"), max(col("n_types")).as("n_types"),
           sum(col("nano")).as("ent_nano"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"), col("ent_nano"),
              round(col("ent_nano").cast("double") / lit(1.0e9), 6).as("entropy_nats"))
  }

  /** t54: DSIR-STYLE IMPORTANCE RESAMPLING (the published
    * hashed-n-gram data-selection method: score each document by the
    * log-likelihood ratio of its hashed-feature profile under a TARGET
    * seed corpus vs the RAW corpus, then keep the highest-weight docs).
    * Here the features are md5-hashed unigrams in 128 buckets and the
    * seed corpus is the deterministic doc_id%5==0 slice.
    *
    * Shapes for 100 TB: ONE token pass builds (doc, bucket) counts AND
    * the two bucket profiles (target counts ride a count(when) beside
    * the raw counts — no second scan); the 128-row score dimension
    * attaches by broadcast; document weights are one partial-combined
    * aggregation of cnt·s products; the final top-20 is a TakeOrdered
    * cut, never a global sort. Exactness: per-bucket scores are
    * floor-nano natural logs of exact-int64 ratios (the t46/ml17
    * discipline — +1/+B add-one smoothing keeps every ratio finite),
    * and doc weights are pure int64 sums of cnt·s. The int64 products
    * inside the ratio stay below 2^53 at gate scale; a full-corpus run
    * would subtract logs instead. */
  def dsirResample(s: SparkSession, d: String): DataFrame = GraftContext.scoped(s) { ctx =>
    val B = 128L
    val tok = ctx.pin(TextSim.spread(Tables.documents(s, d))
      .select(col("doc_id"), explode(TextSim.words(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .select(col("doc_id"),
        (conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long") % B).as("b")))
    val isTgt = col("doc_id") % 5 === 0
    val totals = tok.agg(count(lit(1)).as("tr"),
                         count(when(isTgt, 1)).as("tt"))
    val profile = tok.groupBy(col("b"))
      .agg(count(lit(1)).as("cr"), count(when(isTgt, 1)).as("ct"))
    val scores = profile.crossJoin(totals)
      .select(col("b"),
        floor(log(((col("ct") + 1L) * (col("tr") + B)).cast("double") /
                  ((col("cr") + 1L) * (col("tt") + B)).cast("double")) * lit(1.0e9))
          .cast("long").as("s"))
    val weights = tok.groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("cnt"))
      // bounded: one score row per hash bucket (B = 128)
      .join(broadcast(scores), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).cast("long").as("n_tokens"),
           sum(col("cnt") * col("s")).cast("long").as("weight"))
    weights.orderBy(col("weight").desc, col("doc_id")).limit(20)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("weight").desc, col("doc_id"))).cast("long"))
      .select(col("rank"), col("doc_id"), col("n_tokens"), col("weight"))
      .localCheckpoint(true)
  }

  /** t56: ZIPF RANK-FREQUENCY SLOPE — the log-log OLS fit of token
    * frequency against frequency rank over the top-100 vocabulary, the
    * classic corpus-health statistic (natural text sits near slope −1;
    * templated/spam corpora flatten or steepen it). Shapes: the
    * vocabulary aggregate partial-combines, the top-100 cut is a
    * TakeOrdered (never a global sort of the vocabulary), and the OLS
    * runs over 100 rows. Exactness: ln(rank)/ln(count) floor to
    * integer MICROS (1e6 — small enough that every OLS power sum stays
    * in int64 at any corpus size, since x,y are log-scale), the five
    * sums are exact integers, and the single slope division is the one
    * mirrored double op, rounded to 6. */
  def zipfSlope(s: SparkSession, d: String): DataFrame = {
    val counts = TextSim.spread(Tables.documents(s, d))
      .select(explode(TextSim.words(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val ranked = counts.orderBy(col("cnt").desc, col("tok")).limit(100)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cnt").desc, col("tok"))).cast("long"))
    val xy = ranked.select(
      floor(log(col("rank").cast("double")) * lit(1.0e6)).cast("long").as("x"),
      floor(log(col("cnt").cast("double")) * lit(1.0e6)).cast("long").as("y"))
    xy.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
           sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(col("n"), col("sx"), col("sy"),
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
              (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"), 6)
          .as("slope"))
  }

  val queries: Map[String, Q] = Map(
    "t56_zipf"            -> (zipfSlope _),
    "t54_dsir"            -> (dsirResample _),
    "t53_doc_entropy"     -> (docEntropy _),
    "t52_skipgram"        -> (skipgramCooc _),
    "t51_bigram_lm"       -> (bigramSurprisal _),
    "t50_gopher_rules"    -> (gopherRules _),
    "t49_collocations"    -> (collocations _),
    "t48_bm25"            -> (bm25TopDocs _),
    "t43_threshold_sweep" -> (thresholdSweep _),
    "t42_temperature_mix" -> (temperatureMix _),
    "t40_hll_sketch"   -> (hllSketch _),
    "t41_overlap_chunks" -> (overlapChunks _),
    "t36_global_shuffle" -> (globalShuffle _),
    "t37_intradoc_dedup" -> (intraDocDedup _),
    "t01_token_count"  -> (tokenCounts _),
    "t02_lang_profile" -> (langProfile _),
    "t03_quality"      -> (qualityScore _),
    "t04_fingerprint"  -> (fingerprints _),
    "t05_dedup_exact"  -> (dedupExact _),
    "t10_lang_id"      -> (langId _),
    "t11_token_pieces" -> (tokenPieces _),
    "t12_rolling_fp"   -> (rollingFingerprint _),
    "t13_kmv_sketch"   -> (kmvSketch _),
    "t14_clean_corpus" -> (cleanCorpusProfile _),
    "t15_stratified_sample" -> (stratifiedSample _),
    "t45_weighted_sample" -> (weightedSample _),
    "t46_js_divergence" -> (jsDivergence _),
    "t47_cms_sketch" -> (cmsHeavyHitters _),
    "t16_vocab_topk"   -> (vocabulary _),
    "t17_seq_chunks"   -> (sequenceChunks _),
    "t18_domain_mix"   -> (domainMix _),
    "t19_tfidf"        -> (tfidfTop _),
    "t20_pack_sequences" -> (packSequences _),
    "t22_repetition"   -> (repetitionScore _),
    "t23_decontaminate" -> (decontaminate _),
    "t24_denylist"     -> (denylistScrub _),
    "t25_chunk_dedup"  -> (chunkDedup _),
    "t26_filter_funnel" -> (filterFunnel _),
    "t27_skew_dedup"   -> (skewChunkDedup _),
    "t28_oov_rate"     -> (oovRate _),
    "t29_pii_scrub"    -> (piiScrub _),
    "t31_kmv_union"    -> (kmvUnion _),
    "t32_surprisal"    -> (surprisalScore _),
    "t33_substring_dedup" -> (substringDedup _),
    "t39_bpe_pairs"    -> (bpePairs _),
    "t57_bpe_train"    -> (bpeTrain _),
  )

  /** t57's oracle: the 5-round merge loop UNROLLED into chained CTEs —
    * each round is (pair counts over the previous vocabulary) → (top-1
    * merge by count desc, (l, r) asc) → (vocabulary with the literal
    * replace applied). DuckDB's parallel unnest zips the two symbol
    * lists; literal `replace` has the same left-to-right non-overlapping
    * scan as Spark's. sum(n) is cast back to BIGINT (DuckDB widens
    * BIGINT sums to HUGEINT). */
  private val bpeTrainOracle: String = {
    val roundCtes = (1 to BpeTrainRounds).map { r =>
      s"""p$r AS (
            SELECT l, r, CAST(sum(n) AS BIGINT) AS cnt FROM (
              SELECT unnest([syms[i] for i in generate_series(1, len(syms)-1)]) AS l,
                     unnest([syms[i+1] for i in generate_series(1, len(syms)-1)]) AS r,
                     n
              FROM (SELECT string_split(trim(seq, '|'), '||') AS syms, n FROM v${r - 1})
              WHERE len(syms) >= 2
            ) GROUP BY 1, 2),
          m$r AS (SELECT CAST($r AS BIGINT) AS round, l, r, cnt FROM p$r
                  ORDER BY cnt DESC, l, r LIMIT 1),
          v$r AS (SELECT replace(seq, '|' || l || '||' || r || '|',
                                 '|' || l || r || '|') AS seq, n
                  FROM v${r - 1}, m$r)"""
    }.mkString(",\n")
    s"""WITH v0 AS (
          SELECT regexp_replace(tok, '(.)', '|\\1|', 'g') AS seq, count(*) AS n
          FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
                FROM documents)
          WHERE length(tok) >= 2 GROUP BY 1),
        $roundCtes
        SELECT round, l AS left_sym, r AS right_sym, cnt AS pair_n
        FROM (${(1 to BpeTrainRounds).map(r => s"SELECT * FROM m$r")
                 .mkString(" UNION ALL ")})
        ORDER BY round"""
  }

  // DuckDB equivalents. Note: DuckDB regexp_replace needs the 'g' flag to
  // replace all matches (Spark replaces all by default).
  val oracles: Map[String, String] = Map(
    "t57_bpe_train" -> bpeTrainOracle,
    // same top-100 vocabulary (count desc, token tie-break), same
    // floor-micro logs, same int64 power sums, one mirrored division
    "t56_zipf" ->
      """WITH tok AS (
           SELECT unnest(string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ')) AS t
           FROM documents),
         c AS (SELECT t, count(*) AS cnt FROM tok WHERE t <> '' GROUP BY 1),
         r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, t) AS rank
               FROM c ORDER BY cnt DESC, t LIMIT 100),
         xy AS (SELECT CAST(floor(ln(CAST(rank AS DOUBLE)) * 1e6) AS BIGINT) AS x,
                       CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1e6) AS BIGINT) AS y
                FROM r),
         a AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
                      CAST(sum(y) AS BIGINT) AS sy,
                      CAST(sum(x*y) AS BIGINT) AS sxy,
                      CAST(sum(x*x) AS BIGINT) AS sxx
               FROM xy)
         SELECT n, sx, sy,
                round(CAST(n*sxy - sx*sy AS DOUBLE) /
                      CAST(n*sxx - sx*sx AS DOUBLE), 6) AS slope
         FROM a""",
    // same md5-bucketed unigram profiles, same one-pass count/FILTER
    // split, same floor-nano log-ratio scores, same int64 weight sums
    "t54_dsir" ->
      """WITH tok AS (
           SELECT doc_id,
                  ('0x' || substr(md5(t), 1, 15))::BIGINT % 128 AS b
           FROM (SELECT doc_id,
                        unnest(string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ')) AS t
                 FROM documents)
           WHERE t <> ''),
         tot AS (SELECT count(*) AS tr,
                        count(*) FILTER (doc_id % 5 = 0) AS tt FROM tok),
         prof AS (SELECT b, count(*) AS cr,
                         count(*) FILTER (doc_id % 5 = 0) AS ct
                  FROM tok GROUP BY 1),
         sc AS (SELECT b,
                       CAST(floor(ln(CAST((ct+1)*(tr+128) AS DOUBLE) /
                                     CAST((cr+1)*(tt+128) AS DOUBLE)) * 1e9) AS BIGINT) AS s
                FROM prof, tot),
         dc AS (SELECT doc_id, b, count(*) AS cnt FROM tok GROUP BY 1, 2),
         w AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
                      CAST(sum(cnt * s) AS BIGINT) AS weight
               FROM dc JOIN sc USING (b) GROUP BY 1)
         SELECT CAST(row_number() OVER (ORDER BY weight DESC, doc_id) AS BIGINT) AS rank,
                doc_id, n_tokens, weight
         FROM w ORDER BY weight DESC, doc_id LIMIT 20""",
    // same per-term floor-nano entropy over the same (doc, token)
    // frequency table
    "t53_doc_entropy" ->
      """WITH d AS (
           SELECT doc_id,
                  unnest(string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ')) AS tok
           FROM documents),
         tf AS (SELECT doc_id, tok, count(*) AS tf FROM d
                WHERE tok <> '' GROUP BY 1, 2),
         t AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n,
                      count(*) AS n_types FROM tf GROUP BY 1),
         n AS (SELECT tf.doc_id, t.n, t.n_types,
                      CAST(floor(-(CAST(tf.tf AS DOUBLE) / CAST(t.n AS DOUBLE))
                                 * ln(CAST(tf.tf AS DOUBLE) / CAST(t.n AS DOUBLE))
                                 * 1.0e9) AS BIGINT) AS nano
               FROM tf JOIN t ON tf.doc_id = t.doc_id)
         SELECT doc_id, CAST(max(n) AS BIGINT) AS n_tokens,
                CAST(max(n_types) AS BIGINT) AS n_types,
                CAST(sum(nano) AS BIGINT) AS ent_nano,
                round(CAST(sum(nano) AS BIGINT) / 1.0e9, 6) AS entropy_nats
         FROM n GROUP BY 1""",
    // same distance-1/2 pair comprehension, same (min, max) pair
    // normalization, min-support 5, (c desc, a, b) top-20
    "t52_skipgram" ->
      """WITH d AS (
           SELECT string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ') AS ws
           FROM documents),
         pl AS (SELECT unnest(
                  [{'x': ws[i], 'y': ws[i+1]} for i in generate_series(1, len(ws)-1)]
                  || [{'x': ws[i], 'y': ws[i+2]} for i in generate_series(1, len(ws)-2)]) AS p
                FROM d WHERE len(ws) >= 2),
         pc AS (SELECT least(p.x, p.y) AS a, greatest(p.x, p.y) AS b,
                       count(*) AS c
                FROM pl WHERE p.x <> '' AND p.y <> ''
                GROUP BY 1, 2 HAVING count(*) >= 5),
         r AS (SELECT a, b, c,
                      CAST(row_number() OVER (ORDER BY c DESC, a, b) AS BIGINT) AS rank
               FROM pc)
         SELECT rank, a, b, c FROM r WHERE rank <= 20""",
    // same bigram expansion (t49's comprehension), same integer
    // reciprocal-MLE rates and tf-weighted floor-division mean
    "t51_bigram_lm" ->
      """WITH d AS (
           SELECT doc_id,
                  string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ') AS ws
           FROM documents),
         pl AS (SELECT doc_id,
                       unnest([{'w1': ws[i], 'w2': ws[i+1]}
                               for i in generate_series(1, len(ws)-1)]) AS p
                FROM d WHERE len(ws) >= 2),
         bi AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM pl
                WHERE p.w1 <> '' AND p.w2 <> ''),
         m2 AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2),
         m1 AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY 1),
         tf AS (SELECT doc_id, w1, w2, count(*) AS tf FROM bi GROUP BY 1, 2, 3),
         sc AS (SELECT tf.doc_id, tf.tf,
                       (m1.c1 * 1000000) // m2.c12 AS r
                FROM tf JOIN m2 ON tf.w1 = m2.w1 AND tf.w2 = m2.w2
                        JOIN m1 ON tf.w1 = m1.w1),
         agg AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
                        CAST(sum(tf * r) AS BIGINT) AS rate_mass
                 FROM sc GROUP BY 1)
         SELECT doc_id, n_bigrams, rate_mass,
                rate_mass // n_bigrams AS mean_rate
         FROM agg""",
    // same integer cross-multiplied rules over the same token/line
    // arrays; lines split on chr(10), words on the shared normalizer
    "t50_gopher_rules" ->
      """WITH d AS (
           SELECT doc_id,
                  string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ') AS ws0,
                  string_split(text, chr(10)) AS lines
           FROM documents),
         w AS (SELECT doc_id, list_filter(ws0, w -> w <> '') AS ws, lines FROM d),
         c AS (SELECT doc_id,
                      CAST(len(ws) AS BIGINT) AS nw,
                      CAST(coalesce(list_sum(list_transform(ws, w -> length(w))), 0)
                           AS BIGINT) AS wchars,
                      CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-z]')))
                           AS BIGINT) AS n_alpha,
                      CAST(len(list_filter(lines,
                             l -> ltrim(l) LIKE '-%' OR ltrim(l) LIKE '*%'))
                           AS BIGINT) AS n_bullets,
                      CAST(len(lines) AS BIGINT) AS n_lines,
                      CAST((CASE WHEN list_contains(ws, 'the') THEN 1 ELSE 0 END)
                         + (CASE WHEN list_contains(ws, 'and') THEN 1 ELSE 0 END)
                         + (CASE WHEN list_contains(ws, 'of')  THEN 1 ELSE 0 END)
                         + (CASE WHEN list_contains(ws, 'to')  THEN 1 ELSE 0 END)
                         + (CASE WHEN list_contains(ws, 'in')  THEN 1 ELSE 0 END)
                         + (CASE WHEN list_contains(ws, 'a')   THEN 1 ELSE 0 END)
                         + (CASE WHEN list_contains(ws, 'is')  THEN 1 ELSE 0 END)
                         + (CASE WHEN list_contains(ws, 'for') THEN 1 ELSE 0 END)
                           AS BIGINT) AS n_stop
               FROM w)
         SELECT doc_id, nw, wchars, n_alpha, n_bullets, n_lines, n_stop,
                CAST(CASE WHEN nw BETWEEN 50 AND 100000 THEN 1 ELSE 0 END AS BIGINT) AS f_words,
                CAST(CASE WHEN wchars BETWEEN 3*nw AND 10*nw THEN 1 ELSE 0 END AS BIGINT) AS f_mwl,
                CAST(CASE WHEN 5*n_alpha >= 4*nw THEN 1 ELSE 0 END AS BIGINT) AS f_alpha,
                CAST(CASE WHEN 10*n_bullets <= 9*n_lines THEN 1 ELSE 0 END AS BIGINT) AS f_bullet,
                CAST(CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS BIGINT) AS f_stop,
                CAST(CASE WHEN nw BETWEEN 50 AND 100000
                           AND wchars BETWEEN 3*nw AND 10*nw
                           AND 5*n_alpha >= 4*nw
                           AND 10*n_bullets <= 9*n_lines
                           AND n_stop >= 2 THEN 1 ELSE 0 END AS BIGINT) AS pass
         FROM c""",
    // same integer ppm PMI-ratio (mirrored left-assoc floor divisions),
    // same min-support 5, same (score desc, a, b) top-20
    "t49_collocations" ->
      """WITH d AS (
           SELECT string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ') AS ws
           FROM documents),
         t AS (SELECT unnest(ws) AS tok FROM d),
         tt AS (SELECT tok FROM t WHERE tok <> ''),
         nt AS (SELECT count(*) AS n_tot FROM tt),
         u AS (SELECT tok, count(*) AS c FROM tt GROUP BY 1),
         pl AS (SELECT unnest([{'a': ws[i], 'b': ws[i+1]}
                               for i in generate_series(1, len(ws)-1)]) AS p
                FROM d WHERE len(ws) >= 2),
         pc AS (SELECT p.a AS a, p.b AS b, count(*) AS c_ab FROM pl
                WHERE p.a <> '' AND p.b <> '' GROUP BY 1, 2
                HAVING count(*) >= 5),
         sc AS (SELECT pc.a, pc.b, pc.c_ab,
                       ((pc.c_ab * nt.n_tot) // u1.c * 1000000) // u2.c AS score
                FROM pc CROSS JOIN nt
                JOIN u u1 ON u1.tok = pc.a
                JOIN u u2 ON u2.tok = pc.b),
         r AS (SELECT a, b, c_ab, score,
                      CAST(row_number() OVER (ORDER BY score DESC, a, b)
                           AS BIGINT) AS rank
               FROM sc)
         SELECT rank, a, b, c_ab, score FROM r WHERE rank <= 20""",
    // same integer BM25: 22000·tf·T // (10·tf·T + 3·T + 9·dl·N), bit-length
    // idf, derived 5-term query, (score desc, doc_id) top-20
    "t48_bm25" ->
      """WITH d AS (
           SELECT doc_id, string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ') AS ws
           FROM documents),
         w AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl, ws FROM d WHERE len(ws) >= 1),
         toks AS (SELECT doc_id, dl, unnest(ws) AS tok FROM w),
         tf AS (SELECT doc_id, tok, count(*) AS tf, max(dl) AS dl FROM toks GROUP BY 1, 2),
         nt AS (SELECT CAST(count(*) AS BIGINT) AS nn, CAST(sum(dl) AS BIGINT) AS tt FROM w),
         qt AS (SELECT tok, df, nn, tt FROM
                  (SELECT tok, count(*) AS df FROM tf GROUP BY 1) dfreq, nt
                WHERE df * 2 < nn ORDER BY df DESC, tok LIMIT 5),
         sc AS (SELECT tf.doc_id,
                       CAST(length(bin(qt.nn)) - length(bin(qt.df)) AS BIGINT)
                         * ((22000 * tf.tf * qt.tt)
                            // (10 * tf.tf * qt.tt + 3 * qt.tt + 9 * tf.dl * qt.nn)) AS part
                FROM tf JOIN qt USING (tok))
         SELECT doc_id, CAST(sum(part) AS BIGINT) AS bm25_sc, count(*) AS n_qterms
         FROM sc GROUP BY 1 ORDER BY bm25_sc DESC, doc_id LIMIT 20""",
    // same permille score, same decile buckets, same from-the-top
    // cumulative window (11 rows at most)
    "t43_threshold_sweep" ->
      """WITH d AS (
           SELECT length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1000
                    // length(text) AS permille,
                  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
           FROM documents WHERE length(text) > 0),
         b AS (
           SELECT permille // 100 AS bucket, count(*) AS n,
                  CAST(sum(pos) AS BIGINT) AS n_pos
           FROM d GROUP BY 1)
         SELECT CAST(bucket AS BIGINT) AS bucket, n, n_pos,
                CAST(sum(n) OVER (ORDER BY bucket DESC
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n,
                CAST(sum(n_pos) OVER (ORDER BY bucket DESC
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pos
         FROM b""",
    // same sqrt-smoothed basis-point rate, same keep-hash row set
    "t42_temperature_mix" ->
      """WITH counts AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
         m AS (SELECT min(cnt) AS mn FROM counts),
         rates AS (SELECT lang, cnt,
                          CAST(floor(sqrt(CAST(mn AS DOUBLE) / CAST(cnt AS DOUBLE))
                                     * 10000) AS BIGINT) AS rate_bp
                   FROM counts, m),
         kept AS (SELECT d.lang, count(*) AS n_kept
                  FROM documents d JOIN rates r ON d.lang = r.lang
                  WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
                          % 10000 < r.rate_bp
                  GROUP BY 1)
         SELECT r.lang, r.cnt, r.rate_bp, k.n_kept
         FROM rates r JOIN kept k ON r.lang = k.lang""",
    // the 'ALL' row here is computed DIRECTLY from the unioned token
    // stream — the Spark side derives it from per-language registers by
    // elementwise max, so a hash match proves the merge algebra
    "t40_hll_sketch" ->
      """WITH toks AS (
           SELECT lang,
                  unnest(string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ')) AS tok
           FROM documents),
         h AS (SELECT lang, ('0x'||substr(md5(tok),1,15))::BIGINT AS h FROM toks),
         b AS (SELECT lang, h % 256 AS bucket, h // 256 AS w FROM h),
         r AS (SELECT lang, bucket,
                      CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END AS rho
               FROM b),
         reg AS (SELECT lang, bucket, max(rho) AS reg FROM r GROUP BY 1, 2),
         direct AS (SELECT bucket, max(rho) AS reg FROM r GROUP BY 1)
         SELECT lang, count(*) AS n_buckets,
                CAST(sum(reg) AS BIGINT) AS sum_reg,
                CAST(sum(1::BIGINT << (53 - reg)) AS BIGINT) AS ind_scaled
         FROM reg GROUP BY lang
         UNION ALL
         SELECT 'ALL', count(*), CAST(sum(reg) AS BIGINT),
                CAST(sum(1::BIGINT << (53 - reg)) AS BIGINT)
         FROM direct""",
    "t41_overlap_chunks" ->
      """WITH c AS (
           SELECT doc_id, text, (length(text) + 127) // 128 AS nch
           FROM documents WHERE length(text) > 0),
         e AS (
           SELECT doc_id, text, UNNEST(generate_series(0, nch - 1)) AS chunk_id FROM c)
         SELECT doc_id, chunk_id,
                CAST(length(substring(text, CAST(chunk_id*128 + 1 AS INT), 256)) AS BIGINT)
                  AS n_chars_chunk,
                md5(substring(text, CAST(chunk_id*128 + 1 AS INT), 256)) AS chunk_fp
         FROM e""",
    "t01_token_count" ->
      """SELECT doc_id, len(regexp_extract_all(text, '\S+')) AS n_tokens
         FROM documents ORDER BY doc_id""",
    // same in-word adjacent pairs via list comprehension; rank filter
    // mirrors the Spark row_number cut
    "t39_bpe_pairs" ->
      """WITH d AS (
           SELECT string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ') AS ws
           FROM documents),
         w AS (SELECT unnest(ws) AS tok FROM d),
         p AS (
           SELECT unnest([substr(tok, i, 2) for i in generate_series(1, length(tok)-1)]) AS pair
           FROM w WHERE length(tok) >= 2),
         c AS (SELECT pair, count(*) AS n FROM p GROUP BY 1),
         r AS (SELECT pair, n,
                      CAST(row_number() OVER (ORDER BY n DESC, pair) AS BIGINT) AS rank
               FROM c)
         SELECT pair, n, rank FROM r WHERE rank <= 50""",
    "t02_lang_profile" ->
      """SELECT lang, count(*) AS n_docs,
                round(avg(n_chars), 4) AS avg_chars,
                round(avg(len(regexp_extract_all(text, '\S+'))), 4) AS avg_tokens,
                CAST(sum(length(text)) AS BIGINT) AS total_chars
         FROM documents GROUP BY lang ORDER BY lang""",
    "t03_quality" ->
      """SELECT doc_id, length(text) AS len,
                round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0
                      / nullif(length(text), 0), 6) AS alpha_ratio,
                round((length(text) - length(regexp_replace(text, '\s', '', 'g'))) * 1.0
                      / nullif(length(text), 0), 6) AS space_ratio,
                len(regexp_extract_all(text, '\S+')) AS n_tokens,
                round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0
                      / nullif(len(regexp_extract_all(text, '\S+')), 0), 6) AS avg_token_len
         FROM documents ORDER BY doc_id""",
    "t04_fingerprint" ->
      """SELECT doc_id,
                md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
         FROM documents ORDER BY doc_id""",
    "t05_dedup_exact" ->
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
                min(doc_id) AS keep_id, count(*) AS n_copies
         FROM documents GROUP BY 1 ORDER BY fp""",
    "t10_lang_id" ->
      """WITH d AS (
           SELECT doc_id, string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ') AS ws
           FROM documents),
         h AS (
           SELECT doc_id,
                  len(list_filter(ws, w -> w IN ('the','a','and','of','in'))) AS hits_en,
                  len(list_filter(ws, w -> w IN ('der','die','und','das','ist'))) AS hits_de,
                  len(list_filter(ws, w -> w IN ('el','los','y','las','una'))) AS hits_es,
                  len(list_filter(ws, w -> w IN ('le','la','et','les','des'))) AS hits_fr
           FROM d)
         SELECT doc_id, hits_en, hits_de, hits_es, hits_fr,
                CASE WHEN hits_en >= hits_de AND hits_en >= hits_es AND hits_en >= hits_fr THEN 'en'
                     WHEN hits_de >= hits_es AND hits_de >= hits_fr THEN 'de'
                     WHEN hits_es >= hits_fr THEN 'es'
                     ELSE 'fr' END AS lang_guess
         FROM h""",
    "t11_token_pieces" ->
      """SELECT doc_id,
                len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+')) AS n_pieces,
                len(regexp_extract_all(text, '[a-zA-Z]+')) AS n_word,
                len(regexp_extract_all(text, '[0-9]+')) AS n_num,
                len(regexp_extract_all(text, '[^a-zA-Z0-9\s]+')) AS n_other
         FROM documents""",
    "t12_rolling_fp" ->
      """WITH d AS (
           SELECT doc_id, string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ') AS ws
           FROM documents)
         SELECT doc_id,
                list_reduce(
                  list_prepend(0, list_transform(ws,
                    w -> ('0x'||substr(md5(w),1,15))::BIGINT % 2147483647)),
                  (acc, h) -> (acc*31 + h) % 1000000007) AS roll_fp
         FROM d""",
    "t13_kmv_sketch" ->
      """WITH hashes AS (
           SELECT DISTINCT ('0x'||substr(md5(tok),1,15))::BIGINT AS h
           FROM (SELECT unnest(string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ')) AS tok
                 FROM documents)),
         ks AS (SELECT h FROM hashes ORDER BY h LIMIT 64),
         kth AS (SELECT max(h) AS kth FROM ks)
         SELECT ks.h, round(63.0 * 1152921504606846976.0 / CAST(kth.kth AS DOUBLE), 2) AS est_distinct
         FROM ks, kth""",
    "t14_clean_corpus" ->
      """WITH kept AS (
           SELECT doc_id, lang,
                  md5(trim(regexp_replace(lower(text),'\s+',' ','g'))) AS fp,
                  len(regexp_extract_all(text,'\S+')) AS n_tokens
           FROM documents
           WHERE length(text) > 0
             AND length(regexp_replace(text,'[^a-zA-Z]','','g')) * 1.0 / length(text) >= 0.6
             AND len(regexp_extract_all(text,'\S+')) >= 20),
         dd AS (SELECT fp, min(doc_id) AS doc_id FROM kept GROUP BY fp),
         sel AS (SELECT k.lang, k.n_tokens FROM dd JOIN kept k ON k.doc_id = dd.doc_id)
         SELECT lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
         FROM sel GROUP BY lang""",
    // same row-salted md5 cells, same counter table, same min probe
    "t47_cms_sketch" ->
      """WITH toks AS (
           SELECT tok FROM (
             SELECT UNNEST(string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ')) AS tok
             FROM documents) u
           WHERE tok <> ''),
         rr AS (SELECT UNNEST(generate_series(0, 3)) AS r),
         cells AS (
           SELECT r, ('0x' || substr(md5(CAST(r AS VARCHAR) || '_' || tok), 1, 15))::BIGINT % 256 AS bucket,
                  count(*) AS cnt
           FROM toks CROSS JOIN rr GROUP BY 1, 2),
         probes AS (
           SELECT tok, count(*) AS n FROM toks GROUP BY 1
           QUALIFY row_number() OVER (ORDER BY n DESC, tok) <= 20),
         pc AS (
           SELECT p.tok, p.n, rr.r,
                  ('0x' || substr(md5(CAST(rr.r AS VARCHAR) || '_' || p.tok), 1, 15))::BIGINT % 256 AS bucket
           FROM probes p CROSS JOIN rr)
         SELECT pc.tok, CAST(pc.n AS BIGINT) AS n, CAST(min(c.cnt) AS BIGINT) AS cms_est
         FROM pc JOIN cells c ON c.r = pc.r AND c.bucket = pc.bucket
         GROUP BY 1, 2""",
    // same exact-integer count inputs, same double term tree, same
    // nano-nat floor — the sum is an integer, order-free
    "t46_js_divergence" ->
      """WITH tk AS (
           SELECT lang, tok FROM (
             SELECT lang,
                    UNNEST(string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ')) AS tok
             FROM documents) u
           WHERE tok <> ''),
         g AS (SELECT tok, count(*) AS gcnt FROM tk GROUP BY 1),
         gt AS (SELECT CAST(sum(gcnt) AS BIGINT) AS gtot FROM g),
         l AS (SELECT lang, tok, count(*) AS lcnt FROM tk GROUP BY 1, 2),
         lt AS (SELECT lang, CAST(sum(lcnt) AS BIGINT) AS ltot FROM l GROUP BY 1),
         x AS (SELECT lt.lang, g.tok, g.gcnt, gt.gtot, lt.ltot, l.lcnt
               FROM g CROSS JOIN gt CROSS JOIN lt
               LEFT JOIN l ON l.lang = lt.lang AND l.tok = g.tok),
         pq AS (SELECT lang, lcnt,
                       CAST(coalesce(lcnt, 0) AS DOUBLE)/CAST(ltot AS DOUBLE) AS p,
                       CAST(gcnt AS DOUBLE)/CAST(gtot AS DOUBLE) AS q
                FROM x),
         terms AS (SELECT lang,
                          CASE WHEN lcnt IS NOT NULL
                               THEN 0.5e0*p*ln(p/((p+q)/2.0e0)) + 0.5e0*q*ln(q/((p+q)/2.0e0))
                               ELSE 0.5e0*q*ln(q/((p+q)/2.0e0)) END AS term
                   FROM pq),
         agg AS (SELECT lang, count(*) AS n_vocab,
                        CAST(sum(CAST(floor(term*1.0e9) AS BIGINT)) AS BIGINT) AS jsd_nano
                 FROM terms GROUP BY 1)
         SELECT lang, n_vocab, jsd_nano,
                round(CAST(jsd_nano AS DOUBLE)/1.0e9, 6) AS jsd
         FROM agg""",
    // same md5→uniform→−ln(u)/w key, same (key, doc_id) order, same k
    "t45_weighted_sample" ->
      """WITH k AS (
           SELECT lang, doc_id, n_chars,
                  -ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                            AS DOUBLE) + 1.0e0) / 1.152921504606846976e18)
                    / CAST(n_chars AS DOUBLE) AS skey
           FROM documents)
         SELECT lang, doc_id, n_chars,
                CAST(row_number() OVER (PARTITION BY lang
                                        ORDER BY skey, doc_id) AS INT) AS rank
         FROM k QUALIFY rank <= 20""",
    "t15_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
         WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
               < CASE WHEN lang = 'en' THEN 50 ELSE 20 END""",
    "t16_vocab_topk" ->
      """WITH toks AS (
           SELECT UNNEST(string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ')) AS tok
           FROM documents),
         counts AS (
           SELECT tok, count(*) AS n FROM toks WHERE tok <> '' GROUP BY tok)
         SELECT tok, CAST(n AS BIGINT) AS n,
                CAST(row_number() OVER (ORDER BY n DESC, tok) AS INT) AS rank
         FROM counts QUALIFY rank <= 100""",
    "t17_seq_chunks" ->
      """WITH c AS (
           SELECT doc_id, text, (length(text) + 511) // 512 AS nch
           FROM documents WHERE length(text) > 0),
         e AS (
           SELECT doc_id, text, UNNEST(generate_series(0, nch - 1)) AS chunk_id FROM c)
         SELECT doc_id, chunk_id,
                CAST(length(substring(text, CAST(chunk_id*512 + 1 AS INT), 512)) AS BIGINT)
                  AS n_chars_chunk,
                md5(substring(text, CAST(chunk_id*512 + 1 AS INT), 512)) AS chunk_fp
         FROM e""",
    "t18_domain_mix" ->
      """WITH counts AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
         m AS (SELECT min(cnt) AS mn FROM counts),
         rates AS (SELECT lang, (mn * 10000) // cnt AS rate_bp FROM counts, m)
         SELECT d.doc_id, d.lang
         FROM documents d JOIN rates r ON d.lang = r.lang
         WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000
               < r.rate_bp""",
    "t19_tfidf" ->
      """WITH toks AS (
           SELECT doc_id,
                  UNNEST(string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ')) AS tok
           FROM documents),
         tf AS (
           SELECT doc_id, tok, count(*) AS tf FROM toks WHERE tok <> ''
           GROUP BY doc_id, tok),
         df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok)
         SELECT doc_id, tok, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
                CAST(rank AS INT) AS rank
         FROM (
           SELECT tf.doc_id, tf.tok, tf.tf AS tf, df.df AS df,
                  row_number() OVER (PARTITION BY tf.doc_id
                    ORDER BY CAST(tf.tf AS DOUBLE) / df.df DESC, tf.tok) AS rank
           FROM tf JOIN df USING (tok)) t
         WHERE rank <= 3""",
    "t20_pack_sequences" ->
      """WITH t AS (
           SELECT CAST(doc_id AS BIGINT) AS doc_id,
                  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS tokens
           FROM documents),
         c AS (
           SELECT doc_id, tokens,
                  COALESCE(sum(tokens) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
           FROM t)
         SELECT CAST(start // 2048 AS BIGINT) AS pack_id,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(tokens) AS BIGINT) AS sum_tokens,
                min(doc_id) AS first_doc, max(doc_id) AS last_doc
         FROM c GROUP BY 1""",
    "t22_repetition" ->
      """WITH d AS (
           SELECT doc_id,
                  string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ') AS ws
           FROM documents),
         sh AS (
           SELECT doc_id, [ws[i]||' '||ws[i+1]||' '||ws[i+2]
                           for i in generate_series(1, len(ws)-2)] AS shs
           FROM d WHERE len(ws) >= 3)
         SELECT doc_id, len(shs) AS n_grams, len(list_distinct(shs)) AS n_distinct,
                CASE WHEN (len(shs) - len(list_distinct(shs))) * 5 <= len(shs)
                     THEN 1 ELSE 0 END AS keep
         FROM sh""",
    "t23_decontaminate" ->
      """WITH d AS (
           SELECT doc_id,
                  string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ') AS ws
           FROM documents),
         g AS (
           SELECT doc_id,
                  list_distinct([ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4]
                                 for i in generate_series(1, len(ws)-4)]) AS shs
           FROM d WHERE len(ws) >= 5),
         bench AS (
           SELECT DISTINCT ('0x'||substr(md5(sh),1,15))::BIGINT AS h
           FROM (SELECT unnest(shs) AS sh FROM g WHERE doc_id % 17 = 0)),
         c0 AS (
           SELECT doc_id, len(shs) AS n_grams, unnest(shs) AS sh
           FROM g WHERE doc_id % 17 <> 0),
         corpus AS (
           SELECT doc_id, n_grams, ('0x'||substr(md5(sh),1,15))::BIGINT AS h FROM c0)
         SELECT c.doc_id, min(c.n_grams) AS n_grams, count(*) AS n_hit,
                CASE WHEN count(*)*8 > min(c.n_grams) THEN 0 ELSE 1 END AS keep
         FROM corpus c JOIN bench b USING (h)
         GROUP BY c.doc_id""",
    "t24_denylist" ->
      """WITH d AS (
           SELECT doc_id,
                  string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ') AS ws
           FROM documents)
         SELECT doc_id, len(ws) AS n_tokens,
                len(list_filter(ws, w -> w IN ('customer','spark','vector'))) AS n_bad,
                md5(array_to_string(
                  list_transform(ws, w -> CASE WHEN w IN ('customer','spark','vector')
                                               THEN '[*]' ELSE w END), ' ')) AS redacted_fp,
                CASE WHEN len(list_filter(ws, w -> w IN ('customer','spark','vector'))) * 10
                          > len(ws)
                     THEN 0 ELSE 1 END AS keep
         FROM d""",
    // same chunking (10-word slices of the space-split array), same
    // packed owner election, same ordered reassembly fingerprint.
    "t25_chunk_dedup" ->
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS ws
                     FROM documents WHERE length(text) > 0),
         ids AS (SELECT doc_id, ws,
                        CAST(ceil(len(ws)/10.0) AS BIGINT) AS n_chunks,
                        UNNEST(generate_series(0, CAST(ceil(len(ws)/10.0) AS BIGINT) - 1)) AS cid
                 FROM ws),
         ch AS (SELECT doc_id, cid, n_chunks,
                       array_to_string(ws[CAST(cid*10+1 AS BIGINT) : CAST(cid*10+10 AS BIGINT)], ' ') AS chunk
                FROM ids),
         owners AS (SELECT md5(chunk) AS h, min(doc_id*1000000+cid) AS owner
                    FROM ch GROUP BY 1)
         SELECT doc_id, max(n_chunks) AS n_chunks, count(*) AS n_kept,
                md5(string_agg(chunk, ' ' ORDER BY cid)) AS kept_md5
         FROM ch JOIN owners o
           ON md5(ch.chunk) = o.h AND ch.doc_id*1000000 + ch.cid = o.owner
         GROUP BY doc_id""",
    // same signals as the t03/t10/t22 oracles, same integer cuts, same
    // sequential funnel; sums CAST to BIGINT (DuckDB int-sum is HUGEINT).
    "t26_filter_funnel" ->
      """WITH d AS (
           SELECT doc_id, text,
                  string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ') AS ws
           FROM documents),
         f AS (
           SELECT length(text) AS len,
                  length(regexp_replace(text,'[^a-zA-Z]','','g')) AS alpha,
                  len(regexp_extract_all(text,'\S+')) AS ntok,
                  len(ws) AS nw,
                  len(list_filter(ws, w -> w IN ('the','a','and','of','in'))) AS hits_en,
                  CASE WHEN len(ws)>=2 THEN len(ws)-1 ELSE 0 END AS n2,
                  CASE WHEN len(ws)>=2 THEN len(list_distinct([ws[i]||' '||ws[i+1]
                         for i in generate_series(1, len(ws)-1)])) ELSE 0 END AS nd2
           FROM d),
         k AS (
           SELECT ntok,
                  CASE WHEN alpha*10 >= len*6 AND ntok >= 40 THEN 1 ELSE 0 END AS q,
                  CASE WHEN hits_en >= 2 THEN 1 ELSE 0 END AS l,
                  CASE WHEN nw < 2 OR (n2 - nd2)*20 <= n2 THEN 1 ELSE 0 END AS r
           FROM f)
         SELECT count(*) AS n_total,
                CAST(sum(q) AS BIGINT) AS n_quality,
                CAST(sum(q*l) AS BIGINT) AS n_quality_lang,
                CAST(sum(q*l*r) AS BIGINT) AS n_pass,
                CAST(sum(ntok) AS BIGINT) AS tokens_total,
                CAST(sum(ntok*q*l*r) AS BIGINT) AS tokens_kept
         FROM k""",
    // t25's chunking/election/reassembly over the banner-planted corpus
    // (same deterministic 30% plant, same packed owner election).
    "t27_skew_dedup" ->
      """WITH src AS (SELECT doc_id,
                             CASE WHEN doc_id % 10 < 3
                                  THEN 'click here to accept cookies and continue to the site ' || text
                                  ELSE text END AS text
                      FROM documents WHERE length(text) > 0),
         ws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM src),
         ids AS (SELECT doc_id, ws,
                        CAST(ceil(len(ws)/10.0) AS BIGINT) AS n_chunks,
                        UNNEST(generate_series(0, CAST(ceil(len(ws)/10.0) AS BIGINT) - 1)) AS cid
                 FROM ws),
         ch AS (SELECT doc_id, cid, n_chunks,
                       array_to_string(ws[CAST(cid*10+1 AS BIGINT) : CAST(cid*10+10 AS BIGINT)], ' ') AS chunk
                FROM ids),
         owners AS (SELECT md5(chunk) AS h, min(doc_id*1000000+cid) AS owner
                    FROM ch GROUP BY 1)
         SELECT doc_id, max(n_chunks) AS n_chunks, count(*) AS n_kept,
                md5(string_agg(chunk, ' ' ORDER BY cid)) AS kept_md5
         FROM ch JOIN owners o
           ON md5(ch.chunk) = o.h AND ch.doc_id*1000000 + ch.cid = o.owner
         GROUP BY doc_id""",
    // same normalized tokens as t10, same (count desc, word) top-1000
    // tie-break, integer permille (// is DuckDB floor division).
    "t28_oov_rate" ->
      """WITH ws AS (
           SELECT doc_id,
                  string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ') AS ws
           FROM documents WHERE length(text) > 0),
         tok AS (SELECT doc_id, UNNEST(ws) AS w FROM ws),
         top AS (SELECT w FROM (SELECT w, count(*) AS cnt FROM tok GROUP BY 1
                                ORDER BY cnt DESC, w LIMIT 1000)),
         j AS (SELECT t.doc_id,
                      CASE WHEN top.w IS NULL THEN 1 ELSE 0 END AS oov
               FROM tok t LEFT JOIN top ON t.w = top.w)
         SELECT doc_id, count(*) AS n_tokens,
                CAST(sum(oov) AS BIGINT) AS n_oov,
                CAST((sum(oov)*1000)//count(*) AS BIGINT) AS oov_permille
         FROM j GROUP BY 1""",
    // same deterministic plant, same RE2-simple patterns, same
    // email-then-phone replacement order.
    // integer log2 via binary-string length — identical in both engines
    // windows digest in the scan projection; only (digest, packed owner)
    "t37_intradoc_dedup" ->
      """WITH d AS (SELECT doc_id,
                 string_split(CASE WHEN doc_id % 3 = 0
                   THEN 'click here to accept cookies and continue to the site click here to accept cookies and continue to the site ' || text
                   ELSE text END, ' ') AS ws
               FROM documents WHERE length(text) > 0),
         c AS (SELECT doc_id,
                 [array_to_string(ws[i*10+1 : i*10+10], ' ')
                  for i in generate_series(0, (len(ws)+9)//10 - 1)] AS chunks
               FROM d),
         k AS (SELECT doc_id, chunks,
                 [chunks[i] for i in generate_series(1, len(chunks))
                  if list_position(chunks, chunks[i]) = i] AS kept
               FROM c)
         SELECT doc_id, len(chunks) AS n_chunks, len(kept) AS n_kept,
                md5(array_to_string(kept, ' ')) AS kept_md5
         FROM k""",
    "t36_global_shuffle" ->
      """SELECT doc_id, h, row_number() OVER (ORDER BY h, doc_id) AS pos
         FROM (SELECT doc_id,
                      ('0x' || substr(md5('shuf_' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
               FROM documents) t""",
    // pairs reach the group-by — the oracle mirrors the window grid
    "t33_substring_dedup" ->
      """WITH w AS (
           SELECT d.doc_id AS doc_id, t.p AS p,
                  md5(substr(d.text, CAST(t.p*16+1 AS BIGINT), 64)) AS h
           FROM documents d,
                unnest(generate_series(0, (length(d.text)-64)//16)) AS t(p)
           WHERE length(d.text) >= 64)
         SELECT h, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs,
                min(doc_id*1000000 + p) AS owner_pack
         FROM w GROUP BY h HAVING count(*) > 1""",
    "t32_surprisal" ->
      """WITH d AS (
           SELECT doc_id, string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ') AS ws
           FROM documents),
         toks AS (SELECT doc_id, unnest(ws) AS tok FROM d WHERE len(ws) >= 1),
         freq AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY 1),
         tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM freq),
         scored AS (
           SELECT doc_id,
                  length(bin(tot.n_total)) - length(bin(cnt)) AS surprise
           FROM toks JOIN freq USING (tok), tot)
         SELECT doc_id, count(*) AS n_tokens,
                CAST(sum(surprise) AS BIGINT) AS surprise_sum,
                CAST(sum(surprise) * 1000 // count(*) AS BIGINT) AS mean_permille
         FROM scored GROUP BY 1""",
    // same per-language k-min + sketch-only merge; the union CTE reads
    // ONLY the per-language sketches, mirroring the mergeability claim
    "t31_kmv_union" ->
      """WITH hashes AS (
           SELECT DISTINCT lang, ('0x'||substr(md5(tok),1,15))::BIGINT AS h
           FROM (SELECT lang, unnest(string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ')) AS tok
                 FROM documents)),
         perlang AS (
           SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
           FROM hashes),
         sk AS (SELECT lang, h FROM perlang WHERE rn <= 64),
         langrows AS (SELECT lang, count(*) AS n_sk, max(h) AS kth FROM sk GROUP BY 1),
         u AS (SELECT DISTINCT h FROM sk ORDER BY h LIMIT 64),
         urow AS (SELECT 'ALL' AS lang, count(*) AS n_sk, max(h) AS kth FROM u)
         SELECT lang, n_sk, kth,
                CASE WHEN n_sk < 64 THEN CAST(n_sk AS DOUBLE)
                     ELSE round(63.0 * 1152921504606846976.0 / CAST(kth AS DOUBLE), 2)
                END AS est_distinct
         FROM (SELECT * FROM langrows UNION ALL SELECT * FROM urow)""",
    "t29_pii_scrub" ->
      """WITH src AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 7 < 2
                       THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                            || '@example.com or call 555-0' || CAST(doc_id AS VARCHAR)
                       ELSE text END AS text
           FROM documents)
         SELECT doc_id,
                CAST(len(regexp_extract_all(text, '[a-zA-Z0-9.]+@[a-zA-Z0-9.]+')) AS BIGINT) AS n_emails,
                CAST(len(regexp_extract_all(text, '555-[0-9]+')) AS BIGINT) AS n_phones,
                md5(regexp_replace(
                      regexp_replace(text, '[a-zA-Z0-9.]+@[a-zA-Z0-9.]+', '[EMAIL]', 'g'),
                      '555-[0-9]+', '[PHONE]', 'g')) AS scrubbed_fp,
                CASE WHEN len(regexp_extract_all(text, '[a-zA-Z0-9.]+@[a-zA-Z0-9.]+'))
                          + len(regexp_extract_all(text, '555-[0-9]+')) > 0
                     THEN 1 ELSE 0 END AS has_pii
         FROM src""",
  )
}
