package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{GraftContext, Tables}

/** Fuzzy / near-duplicate deduplication for a training-data pipeline:
  * MinHash signatures, banded LSH bucketing, SimHash fingerprints and
  * exact n-gram Jaccard verification over the `documents` table.
  *
  * Everything is built from codegen'd column expressions (split /
  * transform / aggregate / array_*) — no UDFs — so signature computation
  * fuses into the parquet scan as a map-only stage. The only shuffles
  * are the LSH bucket groupBy (16-byte band keys + ids, never the text)
  * and the candidate self-join, which is the point of LSH: candidates
  * come from equi-joins on band buckets, NEVER from an all-pairs product
  * — the shape that survives 100 TB.
  *
  * Cross-engine-exact by construction: shingle hashing goes through
  * md5 (first 15 hex digits as a 60-bit int) and the (a_k·h + b_k) mod P
  * family in pure integer arithmetic, so every signature value matches
  * the DuckDB oracle bit-for-bit.
  */
object TextSim {
  type Q = (SparkSession, String) => DataFrame

  val P = 2147483647L          // 2^31 - 1
  val NumHashes = 16
  val BandSize = 4             // 4 bands × 4 hashes
  def NumBands: Int = NumHashes / BandSize

  /** Spread a narrow scan across the cluster when the source has fewer
    * splits than cores — the hash/signature work below is CPU-bound per
    * row, and a small-file corpus (one parquet split) would otherwise
    * pin it to one core. At warehouse scale the input has thousands of
    * splits and this is a no-op (no shuffle added).
    *
    * The split count is estimated PLAN-NATIVELY from the file index the
    * relation already listed (Spark's own maxSplitBytes formula over
    * total bytes + file count) — never via `df.rdd`, which would force
    * logical→RDD conversion and a second physical planning of every
    * query that stages through here. Non-file sources (in-memory test
    * frames) pass through unchanged. */
  def spread(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{And, Expression}
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val spark = df.sparkSession
    val parallelism = spark.sparkContext.defaultParallelism
    val analyzed = df.queryExecution.analyzed
    val estSplits = analyzed.collectFirst {
      case lr: LogicalRelation if lr.relation.isInstanceOf[HadoopFsRelation] =>
        val rel = lr.relation.asInstanceOf[HadoopFsRelation]
        // Partition-pruning-aware sizing: a filter on partition columns
        // means the scan will read only the selected directories, so
        // estimating from the FULL file index would overestimate splits
        // and skip the CPU-spreading repartition exactly when the scan
        // is smallest. Collect partition-column conjuncts from the
        // analyzed plan and ask the file index for the pruned listing.
        def conjuncts(e: Expression): Seq[Expression] = e match {
          case And(l, r) => conjuncts(l) ++ conjuncts(r)
          case other => Seq(other)
        }
        val partCols = rel.partitionSchema.fieldNames.toSet
        // Match partition-column references by exprId against THIS
        // relation's output, and only from Filters whose subtree contains
        // this relation — in a join plan, a filter on another table's
        // same-named column must not count as a partition filter here.
        val partIds = lr.output.filter(a => partCols.contains(a.name))
          .map(_.exprId).toSet
        val partFilters = analyzed
          .collect { case f: Filter if f.exists(_ eq lr) => f.condition }
          .flatMap(conjuncts)
          .filter(p => p.deterministic && p.references.nonEmpty &&
            p.references.forall(a => partIds.contains(a.exprId)))
        val (totalBytes, nFiles) =
          if (partFilters.nonEmpty) {
            try {
              val dirs = rel.location.listFiles(partFilters, Nil)
              val files = dirs.flatMap(_.files)
              (math.max(1L, files.map(_.getLen).sum), math.max(1, files.length))
            } catch { case _: Throwable =>
              (math.max(1L, rel.location.sizeInBytes),
               math.max(1, rel.location.inputFiles.length))
            }
          } else
            (math.max(1L, rel.location.sizeInBytes),
             math.max(1, rel.location.inputFiles.length))
        val conf = spark.sessionState.conf
        val maxSplit = math.min(conf.filesMaxPartitionBytes,
          math.max(conf.filesOpenCostInBytes,
            (totalBytes + nFiles * conf.filesOpenCostInBytes) / math.max(1, parallelism)))
        math.max(1L, (totalBytes + maxSplit - 1) / maxSplit)
    }
    estSplits match {
      case Some(n) if n < parallelism => df.repartition(parallelism)
      case _ => df
    }
  }

  /** Normalized word array (lowercase, collapsed whitespace). */
  def words(c: Column): Column = split(TextOps.normalize(c), " ")

  /** Word 3-gram shingles; callers must filter size(words) >= 3 first
    * (sequence(1, n) needs n >= 1; both engines agree on the guard). */
  def shingles3(ws: Column): Column =
    transform(sequence(lit(1), size(ws) - 2),
      i => concat_ws(" ", element_at(ws, i), element_at(ws, i + 1), element_at(ws, i + 2)))

  /** Word n-gram shingles, generic arity (slice + array_join); callers
    * must filter size(words) >= n first, same guard as shingles3. The
    * t22 staging caveat applies: pass a STAGED word-array attribute,
    * never an inline words(text) expression. */
  def shingles(ws: Column, n: Int): Column =
    transform(sequence(lit(1), size(ws) - (n - 1)),
      i => array_join(slice(ws, i, lit(n)), " "))

  /** 60-bit integer hash of a string via md5 — identical in DuckDB as
    * ('0x' || substr(md5(s),1,15))::BIGINT. */
  def h64(c: Column): Column = conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** k-th MinHash value over PRE-HASHED shingles: min of
    * (a_k·h + b_k) mod P — pure integer arithmetic. */
  private def minhashK(hs: Column, k: Int): Column =
    array_min(transform(hs,
      h => (lit(1L + k * 104729L) * h + lit(12345L + k * 7919L)) % P))

  /** Signature from pre-hashed shingles (see [[minhashSignatures]]). */
  def signature(hs: Column): Column =
    array((0 until NumHashes).map(k => minhashK(hs, k)): _*)

  /** docs → (doc_id, sig) for docs with >= 3 words.
    *
    * The md5 hash runs ONCE per shingle in its own projection stage
    * (`hs`); the 16 hash-family mins then reuse the integer array.
    * Folding h64 into each min would md5 every shingle 16× — measured
    * 3.5× slower on the sf0.1 bench. Catalyst keeps the stages separate
    * (CollapseProject refuses to duplicate non-cheap expressions). */
  def minhashSignatures(docs: DataFrame): DataFrame = {
    val ws = words(col("text"))
    docs.select(col("doc_id"), ws.as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), transform(shingles3(col("ws")), s => h64(s) % P).as("hs"))
      .select(col("doc_id"), signature(col("hs")).as("sig"))
  }

  /** Banded LSH keys: md5 of each band's comma-joined signature slice. */
  def bandKeys(sig: Column): Column =
    array((0 until NumBands).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws(",", (0 until BandSize).map(i =>
          element_at(sig, b * BandSize + i + 1).cast("string")): _*)).as("bucket"))
    }: _*)

  /** (band, bucket) groups holding >= 2 docs — the near-dup candidates.
    *
    * The signature frame is pinned (persist) before the band-key
    * expansion: bandKeys reads `sig` 16 times, and without a plan
    * barrier Catalyst inlines the whole 16-hash-min signature
    * expression into every read (256 array-min lambdas of generated
    * code — measured >3× the staged cost; the same duplication
    * nearDupPairs avoids by pinning). The small bucket aggregate is
    * checkpointed eagerly, inside the pin scope (the round-3 shape
    * checkpointed the signatures and never released them). Cost: the
    * aggregation job runs at construction time. */
  def lshBuckets(docs: DataFrame): DataFrame = GraftContext.scoped(docs.sparkSession) { ctx =>
    val sig = ctx.pin(minhashSignatures(docs))
    sig
      .select(col("doc_id"), explode(bandKeys(col("sig"))).as("bk"))
      .groupBy(col("bk.band").as("band"), col("bk.bucket").as("bucket"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"))
      .filter(col("n_docs") >= 2)
      .localCheckpoint(true)   // small: one row per colliding bucket
  }

  /** Candidate pairs (a < b) sharing >= 1 LSH band, verified with exact
    * 3-gram-set Jaccard counts. The join key is the band bucket — the
    * candidate set is the union of small per-bucket products, never an
    * all-pairs cross join. */
  def nearDupPairs(docs: DataFrame): DataFrame = GraftContext.scoped(docs.sparkSession) { ctx =>
    // The hash/signature pipeline feeds FOUR plan branches (two candidate
    // sides + two shingle-set joins); without pinning, Spark recomputes
    // the md5 pass per branch (measured 4× the cost).
    val base = ctx.pin(docs.select(col("doc_id"), words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), shingles3(col("ws")).as("shs"))
      .select(col("doc_id"), transform(col("shs"), s => h64(s) % P).as("hs"),
              array_distinct(col("shs")).as("shset")))
    // bands is also pinned, and filled eagerly: it feeds both self-join
    // sides, and its signature expression is heavy to regenerate (16
    // hash-min lambdas — recomputation would also recompile the codegen
    // stage twice). Left lazy, the four cache-reading branches race cache
    // population inside one job and AQE plans the self-join with unknown
    // stats (observed bimodal 2s-vs-30s runs); one pass fills base and
    // bands, and the joins then plan against real cached sizes.
    // sig gets its own projection first: bandKeys reads the signature 16
    // times, and passing the signature EXPRESSION would inline all 16
    // hash-mins per read (256 array-min lambdas of generated code).
    val bands = ctx.persist(base.select(col("doc_id"), signature(col("hs")).as("sig"))
      .select(col("doc_id"), explode(bandKeys(col("sig"))).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bucket").as("bucket")))
    // Shuffle discipline (the part that survives 100 TB):
    //  1. only (band-key, doc_id) flows through the candidate self-join —
    //     never the text or shingle arrays;
    //  2. pairs are DISTINCT'd before verification: the Jaccard work runs
    //     once per pair (not once per colliding band) and a hot bucket's
    //     quadratic pair list is re-partitioned across the cluster
    //     instead of burning inside one bucket-keyed task;
    //  3. shingle sets join back per side on doc_id (well-distributed),
    //     so each doc's array ships once per side.
    val cand = bands.select(col("band"), col("bucket"), col("doc_id").as("doc_a"))
      .join(bands.select(col("band").as("band2"), col("bucket").as("bucket2"),
                         col("doc_id").as("doc_b")),
            col("band") === col("band2") && col("bucket") === col("bucket2") &&
              col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    val shsets = base.select(col("doc_id"), col("shset"))
    cand
      .join(shsets.select(col("doc_id").as("doc_a"), col("shset").as("sa")), "doc_a")
      .join(shsets.select(col("doc_id").as("doc_b"), col("shset").as("sb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sa"), col("sb"))).as("inter"),
        size(array_union(col("sa"), col("sb"))).as("uni"))
      .localCheckpoint(true)   // the pair list: small vs corpus
  }

  /** 16-bit SimHash over word tokens: bit j set iff the sum of ±1 votes
    * from token-hash bit j is positive. Computed per row with array
    * expressions — map-only, no shuffle. */
  /** SimHash bits from a PRE-HASHED token array (see simhashQuery: the
    * md5 pass runs once in its own projection; 16 bit-vote aggregates
    * then reuse the integer array). */
  def simhash(hs: Column): Column = {
    val bits = (0 until 16).map { j =>
      // shiftright, not `/`: Column division is floating-point and h has
      // 60 significant bits — double division would corrupt low bits.
      val votes = aggregate(hs, lit(0L),
        (acc, h) => acc + when((shiftright(h, j) % 2L) === 1L, 1L).otherwise(-1L))
      when(votes > 0, lit(1L << j)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  // ---- driver-gate queries ----

  /** t06 emits the signature EXPLODED to (doc_id, k, sig_k) rows: the
    * driver gate sorts rows with pandas, which cannot order an
    * array<bigint> column (r02: "unhashable type: numpy.ndarray"). The
    * exploded form is scalar-only and checks every signature value.
    *
    * Shape matters here: exploding the COMPUTED signature array
    * (`posexplode(sig)`) lets InferFiltersFromGenerate derive a
    * `size(sig) > 0` filter whose pushdown inlines the whole 16-hash
    * signature tree — with the normalize/split re-expanded per shingle
    * access — into a Filter below the spread Exchange, i.e. the full
    * signature computed twice per row with the heavy copy pinned to the
    * source's single input split (measured 166× slower at sf0.1).
    * Exploding a FOLDABLE `sequence(0..15)` instead leaves nothing for
    * the rule to infer; `k` becomes a column and each output row computes
    * exactly one hash-family min over the staged `hs` array. */
  def minhashSigQuery(s: SparkSession, d: String): DataFrame = {
    val kL = col("k").cast("long")
    spread(Tables.documents(s, d))
      .select(col("doc_id"), words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), transform(shingles3(col("ws")), x => h64(x) % P).as("hs"))
      .select(col("doc_id"), col("hs"),
        explode(sequence(lit(0), lit(NumHashes - 1))).as("k"))
      .select(col("doc_id"), col("k"),
        array_min(transform(col("hs"),
          h => ((lit(1L) + kL * 104729L) * h + lit(12345L) + kL * 7919L) % P)).as("sig_k"))
  }

  def lshBucketsQuery(s: SparkSession, d: String): DataFrame =
    lshBuckets(spread(Tables.documents(s, d)))

  def nearDupQuery(s: SparkSession, d: String): DataFrame =
    nearDupPairs(spread(Tables.documents(s, d)))

  def simhashQuery(s: SparkSession, d: String): DataFrame = {
    val ws = words(col("text"))
    spread(Tables.documents(s, d))
      .select(col("doc_id"), ws.as("ws"))
      .filter(size(col("ws")) >= 1)
      .select(col("doc_id"), transform(col("ws"), t => h64(t)).as("hs"))
      .select(col("doc_id"), simhash(col("hs")).as("simhash"))
  }

  /** t21: near-dup CLUSTERS — the step a real dedup pipeline runs after
    * pair generation: connected components over the verified pair graph
    * (exact Jaccard ≥ 0.8, integer-checked as inter·10 ≥ uni·8), with
    * the canonical survivor = min doc_id per component and the cluster
    * size alongside (the "keep one, drop k−1" bookkeeping).
    *
    * Distributed CC by min-label propagation WITH pointer jumping: each
    * round a node takes the min label over itself and its neighbours,
    * then labels compress one hop (label := label(label)) — the
    * compression halves chain lengths so rounds are O(log n) even on
    * path graphs, the standard MapReduce-CC recipe (cf. Kiveris et al.,
    * "Connected Components in MapReduce and Beyond" — public
    * algorithm). Scale discipline: only (id, label) longs move through
    * the loop's shuffles; the text/shingle arrays never enter; the edge
    * list comes from the LSH equi-join (never all-pairs) and is tiny
    * relative to the corpus — exactly the 100 TB shape. */
  /** Connected components over an undirected edge list (columns
    * `src`, `dst`; one row per direction not required — symmetrized
    * here). Returns (id, label) with label = the component's min id.
    * See [[dedupClusters]] for the algorithm and scale notes. */
  def connectedComponents(pairs: DataFrame): DataFrame =
    GraftContext.scoped(pairs.sparkSession) { ctx =>
      val edges = pairs.select(col(pairs.columns(0)).as("src"), col(pairs.columns(1)).as("dst"))
      val sym = ctx.pin(edges.union(edges.select(col("dst"), col("src"))))
      var labels = sym.select(col("src").as("id")).distinct()
        .withColumn("label", col("id"))
        .localCheckpoint(true)
      var changed = 1L
      var rounds = 0
      while (changed > 0 && rounds < 40) {
        val nbrMin = sym.join(labels, sym("src") === labels("id"))
          .groupBy(sym("dst").as("nid")).agg(min(labels("label")).as("nmin"))
        val stepped = labels.join(nbrMin, labels("id") === nbrMin("nid"), "left")
          .select(labels("id").as("id"),
                  least(labels("label"), coalesce(col("nmin"), labels("label"))).as("label"))
        // pointer jump: every label is itself a node id, so one self-join
        // rewrites label -> label(label), compressing chains geometrically
        val jumped = stepped.as("a").join(stepped.as("b"), col("a.label") === col("b.id"))
          .select(col("a.id").as("id"), col("b.label").as("label"))
          .localCheckpoint(true)   // truncate per-round lineage; labels stay tiny
        changed = jumped.except(labels).count()
        labels = jumped
        rounds += 1
      }
      require(changed == 0, s"connected components did not converge in $rounds rounds")
      labels
    }

  def dedupClusters(docs: DataFrame): DataFrame = {
    val pairs = nearDupPairs(docs)
      .filter(col("inter") * 10 >= col("uni") * 8)
      .select(col("doc_a"), col("doc_b"))
    val labels = connectedComponents(pairs)
    val sizes = labels.groupBy(col("label").as("canonical"))
      .agg(count(lit(1)).as("cluster_size"))
    labels.select(col("id").as("doc_id"), col("label").as("canonical"))
      .join(sizes, "canonical")
      .select(col("doc_id"), col("canonical"), col("cluster_size"))
  }

  def dedupClustersQuery(s: SparkSession, d: String): DataFrame =
    dedupClusters(spread(Tables.documents(s, d)))

  /** t34: leakage-guarded train/eval split — the assignment step an
    * eval-hygienic pipeline runs AFTER near-dup clustering: a plain
    * per-doc hash split would strand one near-duplicate in train and
    * its twin in eval (the classic benchmark-leak), so the split is
    * decided by the md5 of the doc's CLUSTER representative (t21's
    * connected-component canonical; singleton docs represent
    * themselves), putting every member of a near-dup cluster on the
    * same side by construction. Deterministic and retry-idempotent like
    * t15's sampler — re-running moves no document. Scale shape: the CC
    * labels are (id, label) longs; the final assignment is one left
    * join on doc_id + a map-side hash — no new heavy exchange beyond
    * what t21 already does. */
  def leakFreeSplit(docs: DataFrame, evalPct: Int = 10): DataFrame = {
    val clusters = dedupClusters(docs).select(col("doc_id"), col("canonical"))
    val h = conv(substring(md5(col("rep").cast("string")), 1, 15), 16, 10)
      .cast("long") % 100
    docs.select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
              coalesce(col("canonical"), col("doc_id")).as("rep"))
      .select(col("doc_id"), col("rep"),
              when(h < evalPct, lit("eval")).otherwise(lit("train")).as("split"))
  }

  def leakFreeSplitQuery(s: SparkSession, d: String): DataFrame =
    leakFreeSplit(spread(Tables.documents(s, d)))

  /** t35: MinHash signature ALGEBRA — the mergeable-state property that
    * makes MinHash a 100 TB sketch (the t31 KMV argument, for Jaccard):
    * min over docs of (min over each doc's shingles of f_k) = min over
    * the UNION of the shingles, so a per-language corpus signature is
    * the plain elementwise MIN of its documents' signatures — shards
    * sketch locally, only 16 longs per (shard, language) merge upward,
    * and the result provably equals re-sketching the concatenated
    * corpus (TextSimSpec pins the equality). Shape: per-doc signatures
    * (map-only over the documents scan), posexplode to (lang, k, h),
    * one partial-agged min per (lang, k) — the raw shingle sets never
    * cross an exchange. */
  def minhashMerge(docs: DataFrame): DataFrame = {
    // the t06 explode-k discipline: k becomes a COLUMN over the staged
    // `hs` array, so each row computes exactly one hash-family min and
    // the shingle md5s run once — joining a materialized 16-wide `sig`
    // back to the docs instead lets CollapseProject inline the whole
    // shingle pipeline into each of the 16 array-mins (measured 135 s
    // vs 1.4 s on the sf0.1 bench). lang rides the same projection —
    // no join at all.
    val kL = col("k").cast("long")
    docs.select(col("lang"), words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("lang"), transform(shingles3(col("ws")), x => h64(x) % P).as("hs"))
      .select(col("lang"), col("hs"),
        explode(sequence(lit(0), lit(NumHashes - 1))).as("k"))
      .select(col("lang"), kL.as("k"),
        array_min(transform(col("hs"),
          h => ((lit(1L) + kL * 104729L) * h + lit(12345L) + kL * 7919L) % P)).as("mh"))
      .groupBy(col("lang"), col("k"))
      .agg(min(col("mh")).as("min_h"))
  }

  def minhashMergeQuery(s: SparkSession, d: String): DataFrame =
    minhashMerge(spread(Tables.documents(s, d)))

  /** t30: prefix-filtering exact-Jaccard self-join (the AllPairs/PPJoin
    * family — Bayardo et al. WWW'07, public algorithm) — the
    * DETERMINISTIC near-dup scale path next to the probabilistic
    * MinHash-LSH one (t09): for threshold t = 0.8, two shingle sets can
    * reach Jaccard ≥ t only if |A∩B| ≥ ceil(t·|A|), and under ANY global
    * token order an overlap of o forces the first |A|−o+1 tokens of A to
    * intersect B's corresponding prefix. So candidates come from an
    * inverted index over each doc's PREFIX tokens only — the
    * n − ceil(0.8n) + 1 RAREST shingles (global document frequency
    * ascending, shingle text as tie-break): ~20% of each doc's tokens,
    * and the least-common ones at that, so posting lists stay short BY
    * CONSTRUCTION (a token frequent enough to build a hot list is too
    * common to be in any long doc's prefix). A size filter
    * (4·max(na,nb) ≤ 5·min(na,nb), integer form of the t-bound on
    * length ratio) prunes cross-length pairs before the distinct.
    * Exact Jaccard verification then runs once per surviving pair —
    * output is ONLY the verified ≥ 0.8 pairs, so the prefix mechanics
    * are provably lossless (the oracle recomputes the same truth).
    *
    * Shuffle discipline: the candidate join moves (sh, doc_id, n)
    * triples only; document frequency is a (sh, count) aggregate; the
    * shingle arrays join back per side on doc_id exactly as in t09.
    * Unlike LSH there are no hash-family false negatives — this is the
    * pipeline you run when the dedup must be exact, at the price of the
    * df-ranking shuffle. */
  def prefixJoinPairs(docs: DataFrame): DataFrame = GraftContext.scoped(docs.sparkSession) { ctx =>
    import org.apache.spark.sql.expressions.Window
    val base = ctx.pin(docs.select(col("doc_id"), words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), array_distinct(shingles3(col("ws"))).as("shset")))
    val toks = base.select(col("doc_id"), size(col("shset")).as("n"),
                           explode(col("shset")).as("sh"))
    val dfreq = toks.groupBy(col("sh")).agg(count(lit(1)).as("dfreq"))
    // rarest-first rank per doc; prefix length p = n − ceil(4n/5) + 1,
    // all-integer so both engines agree exactly
    val pref = toks.join(dfreq, "sh")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("dfreq"), col("sh"))))
      .filter(col("rn") <= col("n") - floor((col("n") * 4 + 4) / 5) + 1)
      .select(col("sh"), col("doc_id"), col("n"))
    val cand = pref.as("a")
      .join(pref.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id") &&
          col("a.n") * 5 >= col("b.n") * 4 && col("b.n") * 5 >= col("a.n") * 4)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val shsets = base.select(col("doc_id"), col("shset"))
    cand
      .join(shsets.select(col("doc_id").as("doc_a"), col("shset").as("sa")), "doc_a")
      .join(shsets.select(col("doc_id").as("doc_b"), col("shset").as("sb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sa"), col("sb"))).as("inter"),
        size(array_union(col("sa"), col("sb"))).as("uni"))
      .filter(col("inter") * 10 >= col("uni") * 8)
      .localCheckpoint(true)   // verified pair list: tiny vs corpus
  }

  def prefixJoinQuery(s: SparkSession, d: String): DataFrame =
    prefixJoinPairs(spread(Tables.documents(s, d)))

  /** t38: fuzzy dedup with EDIT-DISTANCE verification — the
    * character-level twin of t09's set-based Jaccard check: LSH band
    * candidates are scored with `levenshtein` over the normalized
    * 128-char prefix, the verification a near-dup pipeline uses when
    * token-set similarity is too coarse (boilerplate variants, typo
    * clones). The prefix cap bounds the O(len_a·len_b) DP per pair at
    * 128² cells regardless of document length — the knob that keeps
    * character-exact verification affordable when candidate volume is
    * LSH-bounded but documents are megabyte-sized. keep = lev·5 ≤
    * max(|a|,|b|) (integer form of distance ≤ 20% of the longer side).
    *
    * Scale shape: candidates from the banded equi-join exactly as t09
    * (never all-pairs); only (band, bucket, doc_id) cross the candidate
    * exchange; the 128-byte prefixes join back per side on doc_id, so
    * each doc ships ≤128 chars once per side — cheaper than t09's
    * shingle-set join-back. */
  def editDistPairs(docs: DataFrame): DataFrame = GraftContext.scoped(docs.sparkSession) { ctx =>
    val sig = ctx.pin(minhashSignatures(docs))
    val bands = ctx.persist(sig
      .select(col("doc_id"), explode(bandKeys(col("sig"))).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bucket").as("bucket")))
    val cand = bands.select(col("band"), col("bucket"), col("doc_id").as("doc_a"))
      .join(bands.select(col("band").as("band2"), col("bucket").as("bucket2"),
                         col("doc_id").as("doc_b")),
            col("band") === col("band2") && col("bucket") === col("bucket2") &&
              col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    val pref = docs.select(col("doc_id"),
      substring(TextOps.normalize(col("text")), 1, 128).as("p"))
    cand
      .join(pref.select(col("doc_id").as("doc_a"), col("p").as("pa")), "doc_a")
      .join(pref.select(col("doc_id").as("doc_b"), col("p").as("pb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("pa"), col("pb")).cast("long").as("lev"),
        greatest(length(col("pa")), length(col("pb"))).cast("long").as("mx"))
      // keep derives from the STAGED lev column — inlining the when()
      // over levenshtein(...) would run the 128² DP twice per pair
      .select(col("doc_a"), col("doc_b"), col("lev"),
        when(col("lev") * 5 <= col("mx"), 1L).otherwise(0L).as("keep"))
      .localCheckpoint(true)   // pair list: tiny vs corpus
  }

  def editDistQuery(s: SparkSession, d: String): DataFrame =
    editDistPairs(spread(Tables.documents(s, d)))

  /** t44: CONTAINMENT near-dup (asymmetric Jaccard C(A→B) =
    * |S_A ∩ S_B| / |S_A| ≥ 0.8) — the quote/subset detector the
    * symmetric pipelines (t09/t30) structurally miss: a short document
    * embedded verbatim in a long one has near-zero Jaccard but
    * containment ≈ 1. The fixture PLANTS the shape so the truth is
    * known: every 17th doc with ≥ 10 words contributes a synthetic
    * quote doc (doc_id + 10⁶) holding its first 8 words.
    *
    * Candidate rule — the ONE-SIDED prefix filter, provably lossless:
    * C(A→B) ≥ 0.8 forces |A∩B| ≥ ceil(0.8·n_A), so at least one of A's
    * n − ceil(4n/5) + 1 RAREST shingles (global df order) must occur in
    * B. Only the contained side indexes a prefix; the container side
    * posts ALL its shingles, because a quote can hide anywhere inside it
    * — asymmetry also means no length-ratio cut exists (that t30 filter
    * is exactly what makes symmetric Jaccard blind to quotes). Exact
    * verification via array_intersect on surviving pairs; output is only
    * the verified pairs with their integer permille containment. */
  def containmentPairs(docs: DataFrame): DataFrame = GraftContext.scoped(docs.sparkSession) { ctx =>
    import org.apache.spark.sql.expressions.Window
    val corpus = docs.select(col("doc_id"), words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 3)
    val quotes = corpus
      .filter(col("doc_id") % 17 === 0 && size(col("ws")) >= 10)
      .select((col("doc_id") + 1000000L).as("doc_id"),
              slice(col("ws"), 1, 8).as("ws"))
    val base = ctx.pin(corpus.unionByName(quotes)
      .select(col("doc_id"), array_distinct(shingles3(col("ws"))).as("shset")))
    val toks = base.select(col("doc_id"), size(col("shset")).as("n"),
                           explode(col("shset")).as("sh"))
    val dfreq = toks.groupBy(col("sh")).agg(count(lit(1)).as("dfreq"))
    val pref = toks.join(dfreq, "sh")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("dfreq"), col("sh"))))
      .filter(col("rn") <= col("n") - floor((col("n") * 4 + 4) / 5) + 1)
      .select(col("sh"), col("doc_id").as("doc_a"))
    val cand = pref
      .join(toks.select(col("sh"), col("doc_id").as("doc_b")), Seq("sh"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    cand
      .join(base.select(col("doc_id").as("doc_a"), col("shset").as("sa")), "doc_a")
      .join(base.select(col("doc_id").as("doc_b"), col("shset").as("sb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sa"), col("sb"))).as("inter"),
        size(col("sa")).as("na"))
      .filter(col("inter") * 5 >= col("na") * 4)
      .select(col("doc_a"), col("doc_b"),
        expr("inter * 1000 div na").as("containment_pm"))
      .localCheckpoint(true)   // verified containments: tiny vs corpus
  }

  def containmentQuery(s: SparkSession, d: String): DataFrame =
    containmentPairs(spread(Tables.documents(s, d)))

  val queries: Map[String, Q] = Map(
    "t44_containment"  -> (containmentQuery _),
    "t06_minhash_sig"  -> (minhashSigQuery _),
    "t07_lsh_buckets"  -> (lshBucketsQuery _),
    "t08_simhash"      -> (simhashQuery _),
    "t09_neardup_pairs" -> (nearDupQuery _),
    "t21_dedup_clusters" -> (dedupClustersQuery _),
    "t30_prefix_join"  -> (prefixJoinQuery _),
    "t34_leak_split"   -> (leakFreeSplitQuery _),
    "t35_minhash_merge" -> (minhashMergeQuery _),
    "t38_editdist_pairs" -> (editDistQuery _),
  )

  private val sigSql =
    """WITH d AS (
         SELECT doc_id, string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ') AS ws
         FROM documents),
       sh AS (
         SELECT doc_id, [ws[i]||' '||ws[i+1]||' '||ws[i+2]
                         for i in generate_series(1, len(ws)-2)] AS shs
         FROM d WHERE len(ws) >= 3),
       sig AS (
         SELECT doc_id,
                [list_min(list_transform(shs, s ->
                   ((1+k*104729) * (('0x'||substr(md5(s),1,15))::BIGINT % 2147483647)
                    + 12345+k*7919) % 2147483647))
                 for k in generate_series(0,15)] AS sig
         FROM sh)"""

  /** Banded-signature CTE shared by t07/t09/t21 — one definition of the
    * band split, so a banding change (BandSize, hash family) cannot
    * silently diverge between the bucket, pair and cluster oracles. */
  private val bandsCte = """,
       bands AS (
         SELECT doc_id, b.range AS band,
                md5(list_aggregate(list_transform(sig[b.range*4+1 : b.range*4+4],
                     x -> CAST(x AS VARCHAR)), 'string_agg', ',')) AS bucket
         FROM sig, range(4) b)"""

  /** Candidate-pair pipeline shared verbatim by the t09 (pairs) and t21
    * (clusters) oracles: shingle sets + bands + bucket-join + exact
    * Jaccard counts. */
  private val pairCtes = """,
       shset AS (
         SELECT doc_id, list_distinct(shs) AS shset FROM sh)""" + bandsCte + """,
       rawpairs AS (
         SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                len(list_intersect(sa.shset, sb.shset)) AS inter,
                len(list_distinct(list_concat(sa.shset, sb.shset))) AS uni
         FROM bands a
         JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
         JOIN shset sa ON sa.doc_id = a.doc_id
         JOIN shset sb ON sb.doc_id = b.doc_id)"""

  val oracles: Map[String, String] = Map(
    // same planted quotes, same one-sided prefix candidates, same exact
    // intersect verify — the filter is lossless so truth == output
    "t44_containment" -> """
       WITH d0 AS (
         SELECT doc_id, string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ') AS ws
         FROM documents),
       corpus AS (
         SELECT doc_id, ws FROM d0 WHERE len(ws) >= 3
         UNION ALL
         SELECT doc_id + 1000000, ws[1:8] FROM d0
         WHERE len(ws) >= 10 AND doc_id % 17 = 0),
       sh AS (
         SELECT doc_id, [ws[i]||' '||ws[i+1]||' '||ws[i+2]
                         for i in generate_series(1, len(ws)-2)] AS shs
         FROM corpus),
       shset AS (SELECT doc_id, list_distinct(shs) AS shset FROM sh),
       toks AS (SELECT doc_id, len(shset) AS n, unnest(shset) AS sh FROM shset),
       dfreq AS (SELECT sh, count(*) AS dfreq FROM toks GROUP BY 1),
       ranked AS (
         SELECT t.doc_id, t.n, t.sh,
                row_number() OVER (PARTITION BY t.doc_id ORDER BY f.dfreq, t.sh) AS rn
         FROM toks t JOIN dfreq f USING (sh)),
       pref AS (
         SELECT doc_id, sh FROM ranked
         WHERE rn <= n - (4*n + 4) // 5 + 1),
       cand AS (
         SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM pref a JOIN toks b USING (sh)
         WHERE a.doc_id <> b.doc_id),
       ver AS (
         SELECT doc_a, doc_b,
                len(list_intersect(sa.shset, sb.shset)) AS inter,
                len(sa.shset) AS na
         FROM cand
         JOIN shset sa ON sa.doc_id = doc_a
         JOIN shset sb ON sb.doc_id = doc_b)
       SELECT doc_a, doc_b,
              CAST(inter * 1000 // na AS BIGINT) AS containment_pm
       FROM ver WHERE inter * 5 >= na * 4""",
    "t06_minhash_sig" -> (sigSql +
      "\nSELECT doc_id, k.range AS k, sig[k.range + 1] AS sig_k FROM sig, range(16) k"),
    "t07_lsh_buckets" -> (sigSql + bandsCte + """
       SELECT band, bucket, count(*) AS n_docs, min(doc_id) AS min_doc
       FROM bands GROUP BY 1, 2 HAVING count(*) >= 2"""),
    "t08_simhash" -> """
       WITH d AS (
         SELECT doc_id, string_split(trim(regexp_replace(lower(text),'\s+',' ',[g_flag])),' ') AS ws
         FROM documents),
       hs AS (
         SELECT doc_id, list_transform(ws, t -> ('0x'||substr(md5(t),1,15))::BIGINT) AS hs
         FROM d WHERE len(ws) >= 1)
       SELECT doc_id,
              CAST(list_sum([CASE WHEN list_sum(list_transform(hs, h ->
                     CASE WHEN (h // (1::BIGINT << j)) % 2 = 1 THEN 1 ELSE -1 END)) > 0
                   THEN (1::BIGINT << j) ELSE 0 END
                   for j in generate_series(0,15)]) AS BIGINT) AS simhash
       FROM hs""".replace("[g_flag]", "'g'"),
    "t09_neardup_pairs" -> (sigSql + pairCtes + """
       SELECT doc_a, doc_b, inter, uni FROM rawpairs"""),
    // t30 recomputes the full prefix-filter pipeline: same df ranking,
    // same integer prefix length, same size filter, same verification —
    // equality proves the Spark candidates are lossless AND exact.
    "t30_prefix_join" -> """
       WITH d AS (
         SELECT doc_id, string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ') AS ws
         FROM documents),
       sh AS (
         SELECT doc_id, [ws[i]||' '||ws[i+1]||' '||ws[i+2]
                         for i in generate_series(1, len(ws)-2)] AS shs
         FROM d WHERE len(ws) >= 3),
       shset AS (SELECT doc_id, list_distinct(shs) AS shset FROM sh),
       toks AS (SELECT doc_id, len(shset) AS n, unnest(shset) AS sh FROM shset),
       dfreq AS (SELECT sh, count(*) AS dfreq FROM toks GROUP BY 1),
       ranked AS (
         SELECT t.doc_id, t.n, t.sh,
                row_number() OVER (PARTITION BY t.doc_id ORDER BY f.dfreq, t.sh) AS rn
         FROM toks t JOIN dfreq f USING (sh)),
       pref AS (
         SELECT doc_id, n, sh FROM ranked
         WHERE rn <= n - (4*n + 4) // 5 + 1),
       cand AS (
         SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM pref a JOIN pref b
           ON a.sh = b.sh AND a.doc_id < b.doc_id
          AND a.n * 5 >= b.n * 4 AND b.n * 5 >= a.n * 4),
       ver AS (
         SELECT doc_a, doc_b,
                len(list_intersect(sa.shset, sb.shset)) AS inter,
                len(list_distinct(list_concat(sa.shset, sb.shset))) AS uni
         FROM cand
         JOIN shset sa ON sa.doc_id = cand.doc_a
         JOIN shset sb ON sb.doc_id = cand.doc_b)
       SELECT doc_a, doc_b, inter, uni FROM ver WHERE inter*10 >= uni*8""",
    // same pair pipeline, then transitive closure (DuckDB recursive CTE:
    // UNION-dedup guarantees termination on cycles) -> min reachable id
    // per node = the component canonical. Feasible for the oracle because
    // the verified pair graph is tiny; the Spark side uses log-round
    // label propagation instead, which is the at-scale shape.
    "t21_dedup_clusters" -> (sigSql.replaceFirst("WITH ", "WITH RECURSIVE ") + pairCtes + """,
       edges AS (
         SELECT doc_a AS src, doc_b AS dst FROM rawpairs WHERE inter*10 >= uni*8
         UNION
         SELECT doc_b AS src, doc_a AS dst FROM rawpairs WHERE inter*10 >= uni*8),
       reach AS (
         SELECT src AS id, src AS r FROM edges
         UNION
         SELECT reach.id, e.dst AS r FROM reach JOIN edges e ON reach.r = e.src),
       comp AS (SELECT id AS doc_id, min(r) AS canonical FROM reach GROUP BY 1)
       SELECT c.doc_id, c.canonical, s.cluster_size
       FROM comp c
       JOIN (SELECT canonical, count(*) AS cluster_size FROM comp GROUP BY 1) s
         USING (canonical)"""),
    // t21's component CTEs + singleton fallback + the t15 md5 keep-hash
    "t34_leak_split" -> (sigSql.replaceFirst("WITH ", "WITH RECURSIVE ") + pairCtes + """,
       edges AS (
         SELECT doc_a AS src, doc_b AS dst FROM rawpairs WHERE inter*10 >= uni*8
         UNION
         SELECT doc_b AS src, doc_a AS dst FROM rawpairs WHERE inter*10 >= uni*8),
       reach AS (
         SELECT src AS id, src AS r FROM edges
         UNION
         SELECT reach.id, e.dst AS r FROM reach JOIN edges e ON reach.r = e.src),
       comp AS (SELECT id AS doc_id, min(r) AS canonical FROM reach GROUP BY 1),
       rep AS (
         SELECT d0.doc_id, coalesce(comp.canonical, d0.doc_id) AS rep
         FROM documents d0 LEFT JOIN comp ON comp.doc_id = d0.doc_id)
       SELECT doc_id, rep,
              CASE WHEN ('0x'||substr(md5(CAST(rep AS VARCHAR)),1,15))::BIGINT % 100 < 10
                   THEN 'eval' ELSE 'train' END AS split
       FROM rep"""),
    // t09's band/bucket candidate join, verified with DuckDB's own
    // levenshtein over the same normalized 128-char prefix
    "t38_editdist_pairs" -> (sigSql + bandsCte + """,
       cand AS (
         SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a
         JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       pref AS (
         SELECT doc_id, substr(trim(regexp_replace(lower(text),'\s+',' ','g')), 1, 128) AS p
         FROM documents),
       scored AS (
         SELECT doc_a, doc_b,
                CAST(levenshtein(pa.p, pb.p) AS BIGINT) AS lev,
                CAST(greatest(length(pa.p), length(pb.p)) AS BIGINT) AS mx
         FROM cand
         JOIN pref pa ON pa.doc_id = cand.doc_a
         JOIN pref pb ON pb.doc_id = cand.doc_b)
       SELECT doc_a, doc_b, lev,
              CAST(CASE WHEN lev*5 <= mx THEN 1 ELSE 0 END AS BIGINT) AS keep
       FROM scored"""),
    // elementwise-min merge of the per-doc signatures (sigSql's sig list)
    "t35_minhash_merge" -> (sigSql + """
       SELECT d2.lang, k.range AS k,
              min(sig[CAST(k.range + 1 AS BIGINT)]) AS min_h
       FROM sig JOIN documents d2 ON d2.doc_id = sig.doc_id, range(16) k
       GROUP BY 1, 2"""),
  )
}
