package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import graft.core.{EntryMetrics, GraftContext}
import graft.core.EntryMetrics.jstr

/** Scaling-exponent probe: measures how the heaviest pipeline entries'
  * wall time grows with INPUT VOLUME, turning the repo's plan-shape
  * scale arguments (PlanAuditSpec-pinned) into observed curves.
  *
  * Corpus: the sf0.1 fixtures replicated K ∈ {1, 4, 16} times with a
  * per-replica token transform that keeps the workload's STRUCTURE
  * constant while scaling its volume:
  *  - documents: every token gets a replica suffix, so the vocabulary,
  *    shingle space and LSH bucket keys of different replicas are
  *    DISJOINT — duplicate-cluster sizes, per-shingle document
  *    frequencies and bucket occupancies stay what sf0.1 planted,
  *    which is how a real 100 TB corpus scales (dup rate roughly
  *    constant, clusters bounded — NOT every document gaining 16
  *    near-identical twins, which would quadratically inflate any
  *    pairwise stage and measure the corpus, not the operator);
  *  - orders: keys offset per replica, so customer cardinality (q37's
  *    rank input) scales with volume.
  *
  * Per (entry, K): `reps` noop-sink runs, MIN wall time (the probe asks
  * what the plan costs, not what host noise adds), plus the A19
  * breakdown (shuffle bytes, GC, spill) of that same fastest rep.
  * Exponents are pairwise log-ratios e = ln(t_b/t_a)/ln(b/a) and the
  * 3-point OLS slope of ln t vs ln K. Linear scaling reads e ≈ 1
  * (fixed 32-way parallelism, so time tracks volume); sub-linear means
  * fixed per-suite overhead still dominates at 16×.
  *
  * Output: one JSON line to scale_probe.json (entries × scales: sec,
  * shuffle MB, exponents) — the evidence artifact BENCH_NOTES cites.
  */
object ScaleProbe {

  /** OLS slope of ln y against ln x — the scaling exponent of (x, y)
    * points; 0 for fewer than two points. */
  private[tools] def logLogSlope(pts: Seq[(Double, Double)]): Double = {
    val ln = pts.map { case (x, y) => (math.log(x), math.log(y)) }
    val (n, sx, sy) = (ln.size, ln.map(_._1).sum, ln.map(_._2).sum)
    if (n < 2) 0.0
    else (n * ln.map(p => p._1 * p._2).sum - sx * sy) / (n * ln.map(p => p._1 * p._1).sum - sx * sx)
  }

  private val Entries = Seq(
    "t21_dedup_clusters", // LSH band → candidate → CC: the dedup kernel
    "t30_prefix_join",    // rarest-shingle inverted index exact Jaccard
    "t44_containment",    // one-sided containment prefix filter
    "q37_global_rank",    // two-pass salted global rank
    "t20_pack_sequences", // distributed prefix-scan packing
    "e04_embed_neardup",  // sign-bit banded LSH embedding dedup
    "i03_triangles",      // degree-oriented triangle counting
    "st02_sessions"       // stateful stream: flatMapGroupsWithState sessions
  )

  private def gen(spark: SparkSession, srcDir: String, outDir: String, k: Int): Unit = {
    val doneMarker = Paths.get(outDir, "_GENERATED")
    if (Files.exists(doneMarker)) return
    Files.createDirectories(Paths.get(outDir))
    val reps = explode(sequence(lit(0), lit(k - 1))).as("r")
    // documents: disjoint token space per replica (suffix every token),
    // ids offset so replicas never collide
    spark.read.parquet(s"$srcDir/documents.parquet")
      .select(col("*"), reps)
      .select(
        (col("doc_id") + col("r").cast("long") * 10000000L).as("doc_id"),
        when(col("r") === 0, col("text"))
          .otherwise(regexp_replace(col("text"), lit("(\\S+)"), concat(lit("$1q"), col("r"))))
          .as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    // orders: key-offset replicas (customer cardinality scales)
    spark.read.parquet(s"$srcDir/orders.parquet")
      .select(col("*"), reps)
      .select(
        (col("o_orderkey") + col("r").cast("long") * 100000000L).as("o_orderkey"),
        (col("o_custkey") + col("r").cast("long") * 100000000L).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/orders.parquet")
    // lineitem: order AND supplier keys offset per replica, so the i03
    // supplier co-purchase graph becomes K disjoint copies — degree
    // distribution, orientation ranks and per-node out-lists are what
    // sf0.1 planted, volume (and triangle count) scale linearly
    spark.read.parquet(s"$srcDir/lineitem.parquet")
      .select(col("*"), reps)
      .withColumn("l_orderkey", col("l_orderkey") + col("r").cast("long") * 100000000L)
      .withColumn("l_suppkey", col("l_suppkey") + col("r").cast("long") * 100000000L)
      .drop("r")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
    // events: event/user keys offset per replica — each user's event
    // stream (its session gaps and counts) is what sf0.1 planted, so the
    // stateful-stream KEY CARDINALITY scales with volume while per-key
    // state stays constant, which is how a production event firehose
    // grows. Written as a SINGLE FILE named events.parquet (the testdata
    // layout): the streaming entries discover it via
    // pathGlobFilter=events.parquet, which matches file names, not
    // directory names.
    val evTmp = s"$outDir/_events_tmp"
    spark.read.parquet(s"$srcDir/events.parquet")
      .select(col("*"), reps)
      .withColumn("event_id", col("event_id") + col("r").cast("long") * 1000000000L)
      .withColumn("user_id", col("user_id") + col("r").cast("long") * 1000000000L)
      .drop("r")
      .repartition(1)
      .write.mode("overwrite").parquet(evTmp)
    val evPart = new java.io.File(evTmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no part file under $evTmp"))
    Files.move(evPart.toPath, Paths.get(s"$outDir/events.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    new java.io.File(evTmp).listFiles().foreach(_.delete())
    Files.deleteIfExists(Paths.get(evTmp))
    // embeddings: per-replica deterministic sign-flip pattern — an
    // orthogonal transform, so every intra-replica cosine (and hence
    // e04's near-dup pair structure) is EXACTLY preserved per replica
    // while cross-replica vectors scatter; volume scales, geometry
    // doesn't
    spark.read.parquet(s"$srcDir/embeddings.parquet")
      .select(col("*"), reps)
      .select(
        (col("vec_id") + col("r").cast("long") * 10000000L).as("vec_id"),
        expr("""transform(embedding, (x, i) ->
                  CASE WHEN r = 0 THEN x
                       WHEN (CAST(i+1 AS BIGINT)*(r+13)*1103515245) % 2147483647 % 2 = 0
                       THEN -x ELSE x END)""").as("embedding"),
        col("label"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    Files.createFile(doneMarker)
    ()
  }

  def main(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val scales = sys.env.getOrElse("SPARK_GRAFT_SCALES", "1,4,16").split(",").map(_.trim.toInt).toSeq
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "2").toInt.max(1)
    val base = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scaleprobe")
    val only = if (args.isEmpty) Entries else Entries.filter(args.contains)
    val spark = graft.core.GraftSession.local()
    val metrics = EntryMetrics.attach(spark)
    // e04's GATE entry now requirePins the law to the oracle constant
    // (it fails loudly when a fixture outgrows the floor — by design);
    // the probe corpora outgrow it on purpose, so probe the production
    // SCALED path directly — the same function the gate covers at
    // fixture sizes.
    val qs = graft.SparkEntry.queries ++ Map[String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame](
      "e04_embed_neardup" -> ((s, d) =>
        graft.operators.Similarity.embedNearDupsScaled(
          graft.operators.TextSim.spread(graft.core.Tables.embeddings(s, d)), 0.3)))

    scales.foreach { k =>
      System.err.println(s"[scale] generating x$k corpus")
      gen(spark, srcDir, s"$base/x$k", k)
    }
    // warmup at 1x: absorb JIT/codegen so the 1x timings aren't inflated
    // (an inflated 1x point biases every exponent DOWN)
    if (sys.env.getOrElse("SPARK_GRAFT_SCALE_WARMUP", "1") != "0")
      only.foreach(n => try qs(n)(spark, s"$base/x1").write.format("noop").mode("overwrite").save()
                        catch { case _: Throwable => () })

    val results = for (name <- only; k <- scales) yield {
      val fn = qs(name)
      val times = (1 to reps).map { _ =>
        metrics.timed(s"$name@x$k")(fn(spark, s"$base/x$k").write.format("noop").mode("overwrite").save())._2
      }
      System.err.println(f"[scale] $name x$k: min ${times.min}%.2f s (${times.map(t => f"$t%.2f").mkString(", ")})")
      (name, k, times.min)
    }
    metrics.drain()
    val bd = metrics.breakdowns

    val byEntry = results.groupBy(_._1)
    val entryJson = only.map { name =>
      val pts = byEntry(name).sortBy(_._2)
      val slope = logLogSlope(pts.map { case (_, k, t) => (k.toDouble, t) })
      val pair = pts.sliding(2).collect { case Seq((_, ka, ta), (_, kb, tb)) =>
        f""""x$ka->x$kb":${math.log(tb / ta) / math.log(kb.toDouble / ka)}%.3f"""
      }.mkString(",")
      val perScale = pts.map { case (_, k, t) =>
        val b = bd.get(s"$name@x$k")   // the fastest rep's, like `sec`
        val extra = b.map(x => f""","shuffle_mb":${x.shuffleReadBytes / 1e6}%.1f,"gc_sec":${x.gcMs / 1e3}%.2f,"spill_mb":${(x.spillMemBytes + x.spillDiskBytes) / 1e6}%.1f,"input_mb":${x.inputBytes / 1e6}%.1f""").getOrElse("")
        f""""x$k":{"sec":$t%.3f$extra}"""
      }.mkString(",")
      f"""${jstr(name)}:{"ols_exponent":$slope%.3f,$pair,$perScale}"""
    }.mkString(",")
    // ---- dense-directional-core study (round-13 directive #1 proof) ----
    // A planted core that every band hashes into ONE bucket (DenseCore):
    // the occupancy law cannot split it (hottest bucket grows with the
    // core despite law-added planes), so the occupancy cap routes its
    // candidates through the conservative PQ pre-verify. Per scale:
    // candidate mass among core ids, pre-verify survivors (≈ the true
    // within-template pairs — the bounded exact-stage work), output
    // pairs, and wall time capped vs uncapped (outputs asserted equal).
    val denseJson =
      if (sys.env.getOrElse("SPARK_GRAFT_DENSECORE", "1") == "0") ""
      else {
        import graft.operators.Similarity
        val tau = 0.5; val cap = 96L
        val stats = scales.map(k => GraftContext.scoped(spark) { ctx =>
          val nCore = 150 * k; val nBg = 50 * k
          val emb = ctx.persist(DenseCore.corpus(spark, nCore, nBg, kTemplates = 8, seed = 42L))
          val ppb = Similarity.planesPerBandFor(nCore.toLong + nBg)
          val bl = ctx.pin(Similarity.bandedLsh(emb, ppb, 4))
          val hottest = bl.groupBy("band", "bucket").count()
            .agg(max("count")).first().getLong(0)
          val candCore = ctx.pin(bl.select(col("band"), col("bucket"), col("vec_id").as("vec_a"))
            .join(bl.select(col("band").as("b2"), col("bucket").as("k2"),
                            col("vec_id").as("vec_b")),
                  col("band") === col("b2") && col("bucket") === col("k2") &&
                    col("vec_a") < col("vec_b"))
            .select(col("vec_a"), col("vec_b")).distinct()
            .filter(col("vec_a") < nCore && col("vec_b") < nCore))
          val nCand = candCore.count()
          val summ = Similarity.pqSummaryOf(emb, emb.filter(col("vec_id") < nCore))
          val nKept = Similarity.pqPreVerify(candCore, summ,
            Similarity.pqCentDotTable(emb), tau).count()
          val (outCap, secCap) = metrics.timed(s"densecore_capped@x$k")(
            Similarity.embedNearDupsCapped(emb, tau, ppb, 4, cap).count())
          val (outUncap, secUncap) = metrics.timed(s"densecore_uncapped@x$k")(
            Similarity.embedNearDups(emb, tau, ppb, 4).count())
          require(outCap == outUncap,
            s"dense-core x$k: capped output $outCap != uncapped $outUncap")
          System.err.println(f"[scale] dense_core x$k: cand=$nCand kept=$nKept " +
            f"out=$outCap capped=$secCap%.2f s uncapped=$secUncap%.2f s hottest=$hottest")
          (k, nCore, nBg, ppb, hottest, nCand, nKept, outCap, secCap, secUncap)
        })
        metrics.drain()
        val dbd = metrics.breakdowns
        val parts = stats.map { case (k, nCore, nBg, ppb, hottest, nCand, nKept, out, sc, su) =>
          def sh(w: String) = dbd.get(s"densecore_$w@x$k")
            .map(x => f""","${w}_shuffle_mb":${x.shuffleReadBytes / 1e6}%.1f,"${w}_spill_mb":${(x.spillMemBytes + x.spillDiskBytes) / 1e6}%.1f""")
            .getOrElse("")
          f""""x$k":{"n_core":$nCore,"n_bg":$nBg,"ppb":$ppb,"hottest":$hottest,"cand_core":$nCand,"pre_kept":$nKept,"out_pairs":$out,"sec_capped":$sc%.3f,"sec_uncapped":$su%.3f${sh("capped")}${sh("uncapped")}}"""
        }
        s""","dense_core":{"tau":0.5,"cap":96,${parts.mkString(",")}}"""
      }
    val note = sys.env.get("SPARK_GRAFT_SCALE_NOTE")
      .map(n => s""","note":${jstr(n)}""").getOrElse("")
    val line = s"""{"src":${jstr(srcDir)},"scales":[${scales.mkString(",")}],"reps":$reps$note,"entries":{$entryJson}$denseJson}"""
    println(line)
    Files.writeString(Paths.get("scale_probe.json"), line)
    spark.stop()
  }
}
