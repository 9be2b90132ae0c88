package graft.tools

import org.apache.spark.sql.SparkSession
import graft.array.{DMatrix, LinAlg}
import java.nio.file.{Files, Paths}

/** Linalg-flagship scaling probe (round-13 directive #2): the array
  * side's 100 TB story was plan-shape-only — this measures it.
  *
  *  - GEMM across n ∈ {10k, 20k} with the BLOCK GRID HELD at the
  *    flagship's 10×10 (chunks n/10 — so the 10k point IS a13's exact
  *    shape): stripe replication moves 2·10·|M| bytes — LINEAR in the
  *    matrix — while work grows n³, so against volume the expected time
  *    exponent is 1.5 (ln t ratios over ln(volume), volume ratio 4 per
  *    doubling). Holding the grid is the production scaling shape
  *    (SUMMA: grid ~ √P, replication √P-bounded). The alternative —
  *    FIXED 1k chunks at growing n — was measured and is the WRONG
  *    deployment shape: replication grows as n/bs, so 20k moves 128 GB
  *    (vs 16 GB at 10k); on this host that overran the tmpfs scratch
  *    against the JVM heap (659 s measured — memory thrash, not
  *    compute) and 40k (512 GB) OOM'd. 40k at the held grid still needs
  *    ~256 GB of scratch — beyond this 126 GB-shm / 80 GB-disk box, so
  *    it is documented (the replication law above), not measured.
  *  - Tall-skinny SVD (the a15 kernel, 1,000 cols, chunks 2,000) across
  *    rows ∈ {200k, 400k, 800k}: TSQR tree + driver SVD of R — work is
  *    linear in rows, expected exponent 1.0 (the R-factor stage is
  *    constant-size).
  *
  *  - Randomized SVD (the a16 kernel — VERDICT r14's one weak mark,
  *    fixed by the broadcast-skinny multiply) across n ∈ {10k, 20k} at
  *    the flagship shape (rank-5 A, chunks 2000², k=5): A is cached
  *    outside the window, so the measured pipeline is 2 + 2·nPowerIter
  *    (= 6) one-job passes over A against a broadcast l-wide factor,
  *    with the QRs local on the driver — expected exponent vs volume
  *    ~1.0.
  *
  * Streaming input-rate scaling is covered by ScaleProbe's
  * st02_sessions entry over the key-offset replicated events table.
  *
  * Output: one JSON line to scale_probe_linalg.json with per-point
  * seconds + A19 breakdowns (shuffle, GC, spill) and pairwise/OLS
  * exponents measured AGAINST VOLUME — the BENCH_NOTES evidence
  * artifact. Reps default 1 (the 20k point is ~8× the flagship's
  * work); set SPARK_GRAFT_SCALE_REPS to tighten.
  */
object LinalgScaleProbe {

  def main(args: Array[String]): Unit = {
    val gemmSizes = sys.env.getOrElse("SPARK_GRAFT_GEMM_SIZES", "10000,20000")
      .split(",").map(_.trim.toInt).toSeq
    val svdRows = sys.env.getOrElse("SPARK_GRAFT_SVD_ROWS", "200000,400000,800000")
      .split(",").map(_.trim.toInt).toSeq
    val rsvdSizes = sys.env.getOrElse("SPARK_GRAFT_RSVD_SIZES", "10000,20000")
      .split(",").map(_.trim.toInt).toSeq
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "1").toInt.max(1)
    val spark = graft.core.GraftSession.local()
    val metrics = new graft.core.EntryMetrics()
    spark.sparkContext.addSparkListener(metrics)

    def gemm(n: Int): Double = {
      val bs = n / 10   // grid held at the flagship's 10×10 — see scaladoc
      val a = DMatrix.randInt(spark, n, n, bs, 51L, mod = 100L)
      val b = DMatrix.randInt(spark, n, n, bs, 53L, mod = 100L)
      a.multiply(b).sum
    }
    def svd(rows: Int): Double = {
      val a = DMatrix.randInt(spark, rows, 1000, 2000, 71L, mod = 10L)
      val (_, sv, _) = LinAlg.svdTallSkinny(a)
      sv.toArray.map(x => x * x).sum
    }
    // rSVD at the a16 shape family (n², chunks 2000², exact rank 5,
    // k=5): A is built + persisted OUTSIDE the timed window so the
    // probe measures the svd_compressed pipeline itself — its six
    // products are one-job map-side passes over cached A plus l-wide
    // partial reduces, so the expected exponent against volume (n²) is
    // ~1.0.
    def rsvdPrep(n: Int): DMatrix = {
      val x = DMatrix.randInt(spark, n, 5, 2000, 81L, mod = 10L)
      val y = DMatrix.randInt(spark, 5, n, 2000, 83L, mod = 10L)
      val a = x.multiply(y).persist()
      a.rdd.count(): Unit
      a
    }
    def rsvd(a: DMatrix): Double = {
      val (_, sv, _) = LinAlg.svdCompressed(a, k = 5, oversample = 0, seed = 77L)
      sv.toArray.sum
    }

    // warmup at the smallest points: absorb JIT/codegen
    gemm(2000); svd(50000)
    locally { val w = rsvdPrep(4000); rsvd(w): Unit; w.unpersist(): Unit }

    case class Pt(kernel: String, size: Long, volume: Double, sec: Double, bdKey: String)
    def run(kernel: String, size: Int, volume: Double)(f: => Double): Pt = {
      // window each rep separately and attribute the breakdown of the
      // MIN rep only: on this host rep 1 pays the cold-JVM page-fault
      // tax (BENCH_NOTES r14), and summing its GC into the recorded
      // min-of point would misstate the steady-state shape
      val times = (1 to reps).map { rep =>
        System.gc()
        val w0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val r = f
        val dt = (System.nanoTime() - t0) / 1e9
        metrics.window(s"$kernel@$size#$rep", w0, System.currentTimeMillis())
        if (r.isNaN) System.err.println("nan checksum")
        dt
      }
      System.err.println(f"[linalg] $kernel n=$size: min ${times.min}%.2f s")
      Pt(kernel, size, volume, times.min, s"$kernel@$size#${times.indexOf(times.min) + 1}")
    }

    val pts =
      gemmSizes.map(n => run("gemm", n, n.toDouble * n)(gemm(n))) ++
      svdRows.map(r => run("svd", r, r.toDouble * 1000)(svd(r))) ++
      rsvdSizes.map { n =>
        val a = rsvdPrep(n)
        val p = run("rsvd", n, n.toDouble * n)(rsvd(a))
        a.unpersist(): Unit
        p
      }
    metrics.drain(spark)
    val bd = metrics.breakdowns

    def jstr(s: String) = "\"" + s + "\""
    val byKernel = pts.groupBy(_.kernel)
    val kernelJson = Seq("gemm", "svd", "rsvd").filter(byKernel.contains).map { kname =>
      val ps = byKernel(kname).sortBy(_.size)
      val lnPts = ps.map(p => (math.log(p.volume), math.log(p.sec)))
      val n = lnPts.size
      val (sx, sy) = (lnPts.map(_._1).sum, lnPts.map(_._2).sum)
      val sxy = lnPts.map(p => p._1 * p._2).sum
      val sxx = lnPts.map(p => p._1 * p._1).sum
      // single-point runs (size list overridden to one value) have no
      // pairwise exponents and no meaningful OLS slope — build the field
      // list from non-empty fragments so the JSON stays valid either way
      val slope = if (n >= 2)
        Some(f""""ols_exponent":${(n * sxy - sx * sy) / (n * sxx - sx * sx)}%.3f""")
      else None
      val pairs = ps.sliding(2).collect { case Seq(a, b) =>
        f""""${a.size}->${b.size}":${math.log(b.sec / a.sec) / math.log(b.volume / a.volume)}%.3f"""
      }.toSeq
      val perSize = ps.map { p =>
        val extra = bd.get(p.bdKey)   // the min rep's window — no rep averaging
          .map(x => f""","shuffle_mb":${x.shuffleReadBytes / 1e6}%.1f,"gc_sec":${x.gcMs / 1e3}%.2f,"spill_mb":${(x.spillMemBytes + x.spillDiskBytes) / 1e6}%.1f""")
          .getOrElse("")
        f""""${p.size}":{"sec":${p.sec}%.3f$extra}"""
      }
      val fields = Seq(Some(s""""vs":"volume""""), slope).flatten ++ pairs ++ perSize
      s"""${jstr(kname)}:{${fields.mkString(",")}}"""
    }.mkString(",")
    val note = sys.env.get("SPARK_GRAFT_SCALE_NOTE")
      .map(n => s""","note":${jstr(n)}""").getOrElse("")
    val line = s"""{"reps":$reps$note,"kernels":{$kernelJson}}"""
    println(line)
    Files.writeString(Paths.get("scale_probe_linalg.json"), line)
    spark.stop()
  }
}
