package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column handling for a training-data
  * pipeline: opaque `binary` payloads + typed metadata, processed in
  * batches with `mapPartitions` — the Scala analog of the mapInPandas
  * batch-UDF shape.
  *
  * The actual codec work (JPEG decode, resampling, …) is STUBBED — this
  * container has no media libraries — with a deterministic fake format:
  * payload bytes are seeded LCG bytes whose header encodes width/height.
  * Everything Spark-side is real and tested: binary column schema,
  * batched partition processing, flatMap frame explosion (the UDTF
  * shape), and feature extraction feeding the Similarity operators.
  * Swapping `decodeHeader`/`frameChecksum` for a real codec changes no
  * plan shape.
  *
  * At 100 TB the payloads dominate: every op here is a map-only stage
  * over the asset rows (no shuffle of blobs); aggregates reduce only
  * ids + small metadata.
  */
object MultiModal {
  type Q = (SparkSession, String) => DataFrame

  val Kinds = Seq("image", "audio", "video")

  @inline private def lcgByte(idx: Long): Int =
    (((idx * 1103515245L + 99L) % 2147483647L) % 256L).toInt

  /** Deterministic synthetic assets: (asset_id, kind, payload BINARY).
    * Byte t of asset i is lcgByte(i*64+t); length varies 64 + i%32. */
  def synthesizeAssets(s: SparkSession, n: Long): DataFrame = {
    import s.implicits._
    s.range(n).map { i =>
      val len = 64 + (i % 32).toInt
      val bytes = Array.tabulate(len)(t => lcgByte(i * 64L + t).toByte)
      (i, Kinds((i % 3).toInt), bytes)
    }.toDF("asset_id", "kind", "payload")
  }

  /** STUB decode: parse "header" (width = b0·256+b1, height = b2·256+b3)
    * from the payload — stands in for an image/audio codec. Batched via
    * mapPartitions: a real codec would amortize per-batch init
    * (library handles, GPU context) exactly here. */
  def decodeMeta(assets: DataFrame): DataFrame = {
    import assets.sparkSession.implicits._
    assets.select(col("asset_id"), col("kind"), col("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        // per-batch codec init would go here (once per partition)
        it.map { case (id, kind, bytes) =>
          def u(b: Byte): Int = b & 0xff
          val width = u(bytes(0)) * 256 + u(bytes(1))
          val height = u(bytes(2)) * 256 + u(bytes(3))
          (id, kind, width, height, bytes.length.toLong)
        }
      }
      .toDF("asset_id", "kind", "width", "height", "n_bytes")
  }

  /** STUB frame sampling (UDTF shape): every 16-byte window of a video
    * payload is a "frame"; emit (asset_id, frame_idx, checksum) rows via
    * flatMap — one asset explodes to many frames. */
  def sampleFrames(assets: DataFrame, stride: Int = 16): DataFrame = {
    import assets.sparkSession.implicits._
    assets.filter(col("kind") === "video")
      .select(col("asset_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        (0 until bytes.length / stride).iterator.map { f =>
          var sum = 0L; var t = f * stride
          while (t < (f + 1) * stride) { sum += (bytes(t) & 0xff); t += 1 }
          (id, f, sum)
        }
      }
      .toDF("asset_id", "frame_idx", "checksum")
  }

  /** STUB resize (image resampler stand-in): halve both header dims and
    * keep every 2nd body byte. Same batched mapPartitions shape as
    * decode — map-only over the asset rows, no blob shuffle; the gate
    * emits dims + body checksum (scalars) rather than the new payload. */
  def resizeAssets(assets: DataFrame): DataFrame = {
    import assets.sparkSession.implicits._
    assets.select(col("asset_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          def u(b: Byte): Int = b & 0xff
          val w = u(bytes(0)) * 256 + u(bytes(1))
          val h = u(bytes(2)) * 256 + u(bytes(3))
          var sum = 0L; var n = 0; var t = 4
          while (t < bytes.length) { sum += u(bytes(t)); n += 1; t += 2 }
          (id, w / 2, h / 2, n, sum)
        }
      }
      .toDF("asset_id", "new_width", "new_height", "n_body", "body_sum")
  }

  /** Byte-histogram feature vector (16 coarse bins, L1-normalized to
    * integer permille) — a real feature extractor over binary data whose
    * output plugs into Similarity.bruteKnn/annTopK. */
  def byteHistogram(assets: DataFrame): DataFrame = {
    import assets.sparkSession.implicits._
    assets.select(col("asset_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val h = new Array[Long](16)
          var t = 0
          while (t < bytes.length) { h((bytes(t) & 0xff) / 16) += 1; t += 1 }
          val feats = h.map(c => (c * 1000L / bytes.length).toFloat)
          (id, feats)
        }
      }
      .toDF("asset_id", "embedding")
  }

  // ---- driver-gate queries (exact: LCG bytes are SQL arithmetic) ----

  def decodeQuery(s: SparkSession, d: String): DataFrame =
    decodeMeta(synthesizeAssets(s, 200))

  def framesQuery(s: SparkSession, d: String): DataFrame =
    sampleFrames(synthesizeAssets(s, 200))

  def resizeQuery(s: SparkSession, d: String): DataFrame =
    resizeAssets(synthesizeAssets(s, 200))

  /** mm04: the multimodal→similarity pipeline end-to-end — binary
    * payloads → histogram features → exact cosine kNN (every 20th asset
    * queries the corpus). Integer-permille features make the whole chain
    * exact-oracle checkable. */
  def histKnnQuery(s: SparkSession, d: String): DataFrame = {
    val emb = byteHistogram(synthesizeAssets(s, 200))
      .select(col("asset_id").as("vec_id"), col("embedding"))
    Similarity.bruteKnn(emb, emb.filter(col("vec_id") % 20 === 0), 1)
  }

  /** Non-linear byte mix for the near-dup fixture: one LCG round then
    * TWO quadratic residue rounds. The plain LCG's outputs differ by a
    * CONSTANT stride mod p, so gradient-sign signatures of unrelated
    * assets come out heavily correlated (measured: 12.8% of all pairs
    * within Hamming 6); one square still leaks pairs whose asset-stride
    * multiple lands near 0 mod p (measured: gap-130 assets at Hamming
    * <= 6), the second square kills the residual. Max intermediate
    * (2^31)^2 + 2^31 fits a 64-bit signed integer in both engines — no
    * overflow, no wraparound mismatch. */
  @inline private def mixByte(idx: Long): Int = {
    val y = (idx * 1103515245L + 99L) % 2147483647L
    val z = (y * y + y) % 2147483647L
    ((z * z + z) % 2147483647L % 256L).toInt
  }

  /** Synthetic assets with planted near-duplicates: every 6th asset is a
    * "re-encode" of its predecessor — same bytes, except positions
    * t%13==7 bumped +1 mod 256 (a lossy-codec stand-in). Everything else
    * is fresh mixByte noise. */
  def perturbedAssets(s: SparkSession, n: Long): DataFrame = {
    import s.implicits._
    s.range(n).map { i =>
      val src: Long = if (i % 6 == 5) i - 1 else i
      val len = 64 + (src % 32).toInt
      val bytes = Array.tabulate(len) { t =>
        val b = mixByte(src * 64L + t)
        (if (i % 6 == 5 && t % 13 == 7) (b + 1) % 256 else b).toByte
      }
      (i, Kinds((i % 3).toInt), bytes)
    }.toDF("asset_id", "kind", "payload")
  }

  /** 56-bit dHash-style perceptual signature: bit (t-4) set iff byte
    * t+1 > byte t over body positions 4..59 (gradient-sign hashing —
    * the dHash recipe, with adjacent payload bytes standing in for
    * adjacent downscaled pixels). Batched mapPartitions like the other
    * codec stubs; a real pHash swaps the byte comparison for a DCT and
    * changes no plan shape. */
  def dhashSigs(assets: DataFrame): DataFrame = {
    import assets.sparkSession.implicits._
    assets.select(col("asset_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          def u(b: Byte): Int = b & 0xff
          var sig = 0L; var t = 4
          while (t < 60) {
            if (u(bytes(t + 1)) > u(bytes(t))) sig |= 1L << (t - 4)
            t += 1
          }
          (id, sig)
        }
      }.toDF("asset_id", "sig")
  }

  /** mm05: perceptual-hash near-duplicate detection over binary media —
    * the image analog of e04's embedding near-dup and t07's text LSH:
    * dHash signature per asset, banded 4×14 bits, candidate pairs via
    * band equi-join, verified by Hamming distance <= 6 (bit_count of
    * the XOR, codegen'd — never a pairwise scan).
    *
    * Scale shape: signatures are 8 bytes/asset, so the join inputs are
    * ~1e-6 of the blob corpus; the blobs themselves never shuffle (the
    * module contract). Band cardinality (16,384 per band) bounds bucket
    * sizes; candidate count is sum of C(bucket,2) — the same
    * skew-vs-recall knob as t07, tuned by band width. */
  def phashNearDup(s: SparkSession, d: String): DataFrame = {
    val sigs = dhashSigs(perturbedAssets(s, 240))
    val bands = sigs.select(col("asset_id"), col("sig"),
      explode(array((0 until 4).map(k =>
        struct(lit(k).as("bk"),
               expr(s"shiftright(sig, ${14 * k}) & 16383").as("bv"))): _*)).as("band"))
      .select(col("asset_id"), col("sig"), col("band.bk"), col("band.bv"))
    val lhs = bands.select(col("asset_id").as("a_id"), col("sig").as("sig_a"),
                           col("bk"), col("bv"))
    val rhs = bands.select(col("asset_id").as("b_id"), col("sig").as("sig_b"),
                           col("bk"), col("bv"))
    lhs.join(rhs, Seq("bk", "bv"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
              expr("bit_count(sig_a ^ sig_b)").cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 6)
  }

  def phashQuery(s: SparkSession, d: String): DataFrame = phashNearDup(s, d)

  /** mm06: byte-capped shard packing — the WebDataset/tar-shard manifest
    * step that ends every multimodal corpus build: assign assets, in a
    * deterministic order, to ~fixed-byte training shards so dataloader
    * workers stream whole shards instead of seeking blobs. The global
    * byte offset of every asset is t20's two-pass distributed prefix
    * scan (range-partition by asset_id, P byte-subtotals to the driver,
    * broadcast offsets, one streaming pass); shard_id = offset ÷ cap.
    * Only (asset_id, n_bytes) pairs move — the blobs themselves never
    * shuffle (the module contract); the subsequent physical shard write
    * would route blobs by the manifest's shard_id in a single exchange.
    * Output is the per-shard manifest (asset count, bytes, id range) a
    * loader actually consumes. Byte lengths are real payload lengths,
    * so the oracle recomputes them from the LCG length formula. */
  def shardPack(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cap = 1024L
    val sorted = synthesizeAssets(s, 200)
      .select(col("asset_id"), length(col("payload")).cast("long").as("n_bytes"))
      .repartitionByRange(col("asset_id"))
      .sortWithinPartitions(col("asset_id"))
      .as[(Long, Long)].rdd
    val (offsets, _) = Relational.partitionOffsets(sorted)(_._2)
    sorted.mapPartitionsWithIndex { case (pid, it) =>
        var cum = offsets.value(pid)
        it.map { case (id, b) => val start = cum; cum += b; (start / cap, id, b) }
      }
      .toDF("shard_id", "asset_id", "n_bytes")
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_assets"),
           sum(col("n_bytes")).as("sum_bytes"),
           min(col("asset_id")).as("first_asset"),
           max(col("asset_id")).as("last_asset"))
  }

  /** mm07: overlapping-window feature extraction over audio payloads —
    * the STFT/VAD framing shape (window 16, hop 8: every frame shares
    * half its samples with the next) that mm02's disjoint stride can't
    * express. Per frame, "energy" = Σ(centered byte)² — an exact
    * integer standing in for the spectral magnitude a real DSP kernel
    * would emit; per asset, the summary a voice-activity or loudness
    * filter consumes: frame count, total energy, and the PEAK frame
    * (ties → earliest, via a packed `energy·64 + (63−frame)` argmax —
    * the e05 packed-key trick). flatMap frames (UDTF shape, blobs never
    * shuffle; the per-frame stream is map-side) + one partial-agged
    * groupBy on asset_id. */
  def audioFrameEnergy(assets: DataFrame, win: Int = 16, hop: Int = 8): DataFrame = {
    import assets.sparkSession.implicits._
    assets.filter(col("kind") === "audio")
      .select(col("asset_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        val nf = if (bytes.length < win) 0 else (bytes.length - win) / hop + 1
        (0 until nf).iterator.map { f =>
          var e = 0L; var t = f * hop
          while (t < f * hop + win) {
            val c = (bytes(t) & 0xff) - 128; e += c.toLong * c; t += 1
          }
          (id, f.toLong, e)
        }
      }
      .toDF("asset_id", "frame_idx", "energy")
  }

  /** mm08: SCENE-CUT DETECTION — the video shot-segmentation pass a
    * curation pipeline runs before per-shot frame sampling: adjacent
    * frame features (here the stub 16-byte-window checksums from
    * [[sampleFrames]] — a real build swaps in decoded-frame histograms,
    * same shape) are lag-compared per asset and a cut fires where the
    * absolute jump exceeds the threshold. ONE keyed window over the
    * frame features (frames per asset are codec-bounded, the classic
    * bounded-group argument); payload bytes never shuffle — only the
    * per-frame scalars do. Integer-exact end to end. */
  def sceneCuts(frames: DataFrame, threshold: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("asset_id")).orderBy(col("frame_idx"))
    frames
      .withColumn("prev", lag(col("checksum"), 1).over(w))
      .filter(col("prev").isNotNull && abs(col("checksum") - col("prev")) > threshold)
      .select(col("asset_id"), col("frame_idx").cast("long").as("frame_idx"),
              abs(col("checksum") - col("prev")).as("jump"))
  }

  def sceneCutsQuery(s: SparkSession, d: String): DataFrame =
    sceneCuts(sampleFrames(synthesizeAssets(s, 200)), 300L)

  def audioEnergyQuery(s: SparkSession, d: String): DataFrame =
    audioFrameEnergy(synthesizeAssets(s, 200))
      .groupBy(col("asset_id"))
      .agg(count(lit(1)).as("n_frames"),
           sum(col("energy")).as("total_energy"),
           max(col("energy") * 64 + (lit(63) - col("frame_idx"))).as("pk"))
      .select(col("asset_id"), col("n_frames"), col("total_energy"),
              (lit(63) - col("pk") % 64).as("peak_frame"),
              expr("pk div 64").as("peak_energy"))

  /** mm09: VOICE-ACTIVITY SEGMENTS — the run-length "gaps and islands"
    * pass a speech-data pipeline runs on frame energies before clipping
    * audio to voiced spans: frames above the energy gate, grouped into
    * maximal consecutive runs per asset (group id = frame_idx − per-asset
    * rank, the standard islands trick), each segment reduced to
    * (start, end, frames, energy mass). The keyed window and the island
    * aggregate both operate on the tiny per-asset frame table (codec-
    * bounded rows per key) — payload bytes never shuffle, exactly the
    * mm07/mm08 discipline. The 87,000 gate sits at the energy median of
    * the uniform byte stub, so both voiced and silent frames occur. */
  def vadSegments(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("asset_id")).orderBy(col("frame_idx"))
    audioFrameEnergy(synthesizeAssets(s, 200))
      .filter(col("energy") > 87000L)
      .withColumn("grp", col("frame_idx") - row_number().over(w))
      .groupBy(col("asset_id"), col("grp"))
      .agg(min(col("frame_idx")).as("seg_start"),
           max(col("frame_idx")).as("seg_end"),
           count(lit(1)).as("n_frames"),
           sum(col("energy")).as("sum_energy"))
      .select(col("asset_id"), col("seg_start"), col("seg_end"),
              col("n_frames"), col("sum_energy"))
  }

  /** mm10: PATCH/TILE STATISTICS — the ViT-style patch-grid pass a
    * vision pipeline runs before embedding: each image payload's first
    * 64 bytes split into four 16-byte tiles (a real build swaps in
    * pixel-block decode, same shape), per-tile sum/min/max emitted
    * map-only from the batched decode — payload bytes never shuffle and
    * the output is 4 small rows per asset. */
  def tileStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    synthesizeAssets(s, 200)
      .filter(col("kind") === "image")
      .select(col("asset_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        (0 until 4).iterator.map { t =>
          val tile = (t * 16 until (t + 1) * 16).map(i => (bytes(i) & 0xff).toLong)
          (id, t.toLong, tile.sum, tile.min, tile.max)
        }
      }
      .toDF("asset_id", "tile_idx", "sum_b", "min_b", "max_b")
  }

  val queries: Map[String, Q] = Map(
    "mm10_tile_stats"   -> (tileStats _),
    "mm09_vad_segments" -> (vadSegments _),
    "mm01_decode_meta"  -> (decodeQuery _),
    "mm02_frame_sample" -> (framesQuery _),
    "mm03_resize"       -> (resizeQuery _),
    "mm04_hist_knn"     -> (histKnnQuery _),
    "mm05_phash_neardup" -> (phashQuery _),
    "mm06_shard_pack"   -> (shardPack _),
    "mm07_audio_energy" -> (audioEnergyQuery _),
    "mm08_scene_cuts"   -> (sceneCutsQuery _),
  )

  private val byteSql = "(((B)*1103515245+99)%2147483647)%256"

  val oracles: Map[String, String] = Map(
    "mm01_decode_meta" ->
      s"""SELECT r.range AS asset_id,
             ['image','audio','video'][CAST(r.range % 3 AS INT) + 1] AS kind,
             CAST(${byteSql.replace("B", "r.range*64+0")} * 256
                + ${byteSql.replace("B", "r.range*64+1")} AS INT) AS width,
             CAST(${byteSql.replace("B", "r.range*64+2")} * 256
                + ${byteSql.replace("B", "r.range*64+3")} AS INT) AS height,
             64 + r.range % 32 AS n_bytes
          FROM range(200) r""",
    "mm02_frame_sample" ->
      s"""WITH v AS (SELECT r.range AS asset_id, 64 + r.range % 32 AS len
                     FROM range(200) r WHERE r.range % 3 = 2),
          frames AS (SELECT asset_id, f.range AS frame_idx, len FROM v, range(6) f
                     WHERE f.range < len // 16)
          SELECT asset_id, CAST(frame_idx AS INT) AS frame_idx,
                 CAST((SELECT sum(${byteSql.replace("B", "asset_id*64 + frame_idx*16 + t.range")})
                       FROM range(16) t) AS BIGINT) AS checksum
          FROM frames""",
    "mm03_resize" ->
      s"""SELECT r.range AS asset_id,
             CAST((${byteSql.replace("B", "r.range*64+0")} * 256
                 + ${byteSql.replace("B", "r.range*64+1")}) // 2 AS INT) AS new_width,
             CAST((${byteSql.replace("B", "r.range*64+2")} * 256
                 + ${byteSql.replace("B", "r.range*64+3")}) // 2 AS INT) AS new_height,
             CAST((64 + r.range % 32 - 3) // 2 AS INT) AS n_body,
             CAST((SELECT sum(${byteSql.replace("B", "r.range*64 + 4 + 2*t.range")})
                   FROM range(46) t WHERE t.range < (64 + r.range % 32 - 3) // 2) AS BIGINT) AS body_sum
          FROM range(200) r""",
    "mm04_hist_knn" ->
      s"""WITH h AS (
            SELECT r.range AS vec_id,
                   [CAST((1000 * len([x for x in generate_series(0, 64 + r.range % 32 - 1)
                                      if (${byteSql.replace("B", "r.range*64+x")}) // 16 = b]))
                         // (64 + r.range % 32) AS BIGINT)
                    for b in generate_series(0, 15)] AS hv
            FROM range(200) r),
          q AS (SELECT vec_id, list_transform(hv, x -> x * 1000) AS qv FROM h),
          pairs AS (
            SELECT a.vec_id AS q_id, b.vec_id AS n_id,
                   CAST(list_dot_product(a.qv, b.qv) AS DOUBLE)
                   / (sqrt(CAST(list_dot_product(a.qv, a.qv) AS DOUBLE))
                      * sqrt(CAST(list_dot_product(b.qv, b.qv) AS DOUBLE))) AS cos
            FROM q a JOIN q b ON a.vec_id % 20 = 0 AND a.vec_id <> b.vec_id)
          SELECT q_id, n_id, rank FROM (
            SELECT q_id, n_id,
                   row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
            FROM pairs) t
          WHERE rank <= 1""",
    // same mixByte bytes + perturbation rule, same 56-bit gradient-sign
    // signature, same 4x14 banding and Hamming cut; the sum of shifted
    // bits is HUGEINT -> CAST sig to BIGINT before banding.
    "mm05_phash_neardup" ->
      s"""WITH ids AS (SELECT r.range AS i FROM range(240) r),
          yv AS (
            SELECT i, g.t,
                   (((CASE WHEN i%6=5 THEN i-1 ELSE i END)*64+g.t)*1103515245+99)
                     % 2147483647 AS y
            FROM ids CROSS JOIN (SELECT unnest(generate_series(4, 60)) AS t) g),
          zv AS (SELECT i, t, (y*y+y) % 2147483647 AS z FROM yv),
          bt AS (
            SELECT i, t,
                   CASE WHEN i%6=5 AND t%13=7
                        THEN ((z*z+z) % 2147483647 % 256 + 1) % 256
                        ELSE (z*z+z) % 2147483647 % 256 END AS b
            FROM zv),
          sig AS (
            SELECT cb.i,
                   CAST(sum(CASE WHEN nb.b > cb.b
                                 THEN CAST(1 AS BIGINT) << CAST(cb.t - 4 AS INT)
                                 ELSE 0 END) AS BIGINT) AS sig
            FROM bt cb JOIN bt nb ON nb.i = cb.i AND nb.t = cb.t + 1
            WHERE cb.t BETWEEN 4 AND 59
            GROUP BY 1),
          bands AS (
            SELECT i, sig, kk.k, (sig >> CAST(14*kk.k AS INT)) & 16383 AS bv
            FROM sig CROSS JOIN (SELECT unnest([0,1,2,3]) AS k) kk)
          SELECT DISTINCT a.i AS a_id, b.i AS b_id,
                 CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
          FROM bands a JOIN bands b ON a.k = b.k AND a.bv = b.bv AND a.i < b.i
          WHERE bit_count(xor(a.sig, b.sig)) <= 6""",
    // same asset_id order, same LCG length formula, same 1024-byte cap;
    // the running offset is a window cumsum minus own length.
    "mm06_shard_pack" ->
      """WITH a AS (SELECT r.range AS asset_id,
                           CAST(64 + r.range % 32 AS BIGINT) AS len
                    FROM range(200) r),
         c AS (SELECT asset_id, len,
                      sum(len) OVER (ORDER BY asset_id
                                     ROWS UNBOUNDED PRECEDING) - len AS strt
               FROM a)
         SELECT CAST(strt // 1024 AS BIGINT) AS shard_id,
                count(*) AS n_assets,
                CAST(sum(len) AS BIGINT) AS sum_bytes,
                min(asset_id) AS first_asset, max(asset_id) AS last_asset
         FROM c GROUP BY 1""",
    // overlapping frames (win 16, hop 8); packed argmax mirrors the Spark agg
    // the mm02 frame-checksum CTEs + one lag window and the jump cut
    "mm08_scene_cuts" ->
      s"""WITH v AS (SELECT r.range AS asset_id, 64 + r.range % 32 AS len
                     FROM range(200) r WHERE r.range % 3 = 2),
          frames AS (SELECT asset_id, f.range AS frame_idx, len FROM v, range(6) f
                     WHERE f.range < len // 16),
          cs AS (SELECT asset_id, frame_idx,
                 CAST((SELECT sum(${byteSql.replace("B", "asset_id*64 + frame_idx*16 + t.range")})
                       FROM range(16) t) AS BIGINT) AS checksum
                 FROM frames),
          l AS (SELECT asset_id, frame_idx, checksum,
                       lag(checksum) OVER (PARTITION BY asset_id
                                           ORDER BY frame_idx) AS prev
                FROM cs)
          SELECT asset_id, CAST(frame_idx AS BIGINT) AS frame_idx,
                 CAST(abs(checksum - prev) AS BIGINT) AS jump
          FROM l WHERE prev IS NOT NULL AND abs(checksum - prev) > 300""",
    // same 4×16-byte tile split off the byte closed form (images =
    // kind 0 mod 3; every payload is >= 64 bytes by construction)
    "mm10_tile_stats" ->
      s"""WITH im AS (SELECT r.range AS asset_id FROM range(200) r
                      WHERE r.range % 3 = 0),
          cells AS (SELECT asset_id, t.range AS tile_idx,
                           ${byteSql.replace("B", "asset_id*64 + t.range*16 + i.range")} AS b
                    FROM im, range(4) t, range(16) i)
          SELECT asset_id, tile_idx, CAST(sum(b) AS BIGINT) AS sum_b,
                 CAST(min(b) AS BIGINT) AS min_b, CAST(max(b) AS BIGINT) AS max_b
          FROM cells GROUP BY 1, 2""",
    // same frame energies as mm07, same islands grouping (idx − rank)
    "mm09_vad_segments" ->
      s"""WITH au AS (SELECT r.range AS asset_id, 64 + CAST(r.range % 32 AS INT) AS len
                      FROM range(200) r WHERE r.range % 3 = 1),
          fr AS (SELECT asset_id, f.range AS frame_idx,
                   CAST((SELECT sum(power(${byteSql.replace("B", "asset_id*64 + f.range*8 + t.range")} - 128, 2))
                         FROM range(16) t) AS BIGINT) AS energy
                 FROM au, range(11) f WHERE f.range <= (len - 16) // 8),
          v AS (SELECT asset_id, frame_idx, energy,
                       frame_idx - row_number() OVER (PARTITION BY asset_id
                                                      ORDER BY frame_idx) AS grp
                FROM fr WHERE energy > 87000)
          SELECT asset_id, CAST(min(frame_idx) AS BIGINT) AS seg_start,
                 CAST(max(frame_idx) AS BIGINT) AS seg_end,
                 count(*) AS n_frames, CAST(sum(energy) AS BIGINT) AS sum_energy
          FROM v GROUP BY asset_id, grp""",
    "mm07_audio_energy" ->
      s"""WITH au AS (SELECT r.range AS asset_id, 64 + CAST(r.range % 32 AS INT) AS len
                      FROM range(200) r WHERE r.range % 3 = 1),
          fr AS (SELECT asset_id, f.range AS frame_idx,
                   CAST((SELECT sum(power(${byteSql.replace("B", "asset_id*64 + f.range*8 + t.range")} - 128, 2))
                         FROM range(16) t) AS BIGINT) AS energy
                 FROM au, range(11) f WHERE f.range <= (len - 16) // 8)
          SELECT asset_id, count(*) AS n_frames,
                 CAST(sum(energy) AS BIGINT) AS total_energy,
                 CAST(63 - max(energy*64 + (63 - frame_idx)) % 64 AS BIGINT) AS peak_frame,
                 CAST(max(energy*64 + (63 - frame_idx)) // 64 AS BIGINT) AS peak_energy
          FROM fr GROUP BY 1""",
  )
}
