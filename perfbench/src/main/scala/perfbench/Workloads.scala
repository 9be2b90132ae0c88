package perfbench

import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.array.{DMatrix, LinAlg}
import graft.delayed.{Client, DaskGraph, Delayed}

/** One request of a workload. `run` returns the directory of an output
  * that run.py checks against its DuckDB oracle, or None when the
  * request already checked itself against a closed form. A wrong output
  * throws [[CheckFailed]], so it counts as failed exactly like a throw. */
final case class Request(name: String, run: Int => Option[String])

final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def equal[T](what: String, got: T, want: T): Unit =
    if (got != want) throw new CheckFailed(s"$what: got $got, want $want")
  def close(what: String, got: Double, want: Double, relTol: Double): Unit =
    if (!(math.abs(got - want) <= relTol * math.max(1.0, math.abs(want))))
      throw new CheckFailed(s"$what: got $got, want $want (rel tol $relTol)")

  /** Σ_{i<n} f(i) without boxing: the closed forms sum millions of terms. */
  def sum(n: Long)(f: Long => Long): Long = {
    var acc = 0L; var i = 0L
    while (i < n) { acc += f(i); i += 1 }
    acc
  }
}

/** Shared by the workloads: repo entry functions called the way
  * graft.Verify calls them (build the frame, write it as parquet), each
  * output checked by run.py against `SparkEntry.oracleSql`. */
abstract class Workload(val spark: SparkSession, val rec: Recorder, val seed: Long,
                        val dataDir: String, val outDir: String) {
  def requests: Seq[Request]

  /** An entry function called the way graft.Verify calls it: the frame is
    * built inside span `build` and written as parquet inside span `action`
    * (one layer name for both when the layer owns the whole call). */
  protected def entry(name: String, build: String, action: String): Request = {
    val fn = SparkEntry.queries(name)
    Request(name, pass => {
      val out = s"$outDir/p$pass/$name"
      val df = rec.span(build)(fn(spark, dataDir))
      rec.span(action)(df.coalesce(1).write.mode("overwrite").parquet(out))
      Some(out)
    })
  }

  /** The request order of pass `pass`: a seeded permutation of the mix. */
  def order(pass: Int): Seq[Request] =
    new Random(seed * 1000003L + pass).shuffle(requests)

  /** Oracle SQL of every entry this workload calls. */
  def oracles: Map[String, String] =
    SparkEntry.oracleSql.filter { case (k, _) => requests.exists(_.name == k) }
}

/** Job-count and driver-bound, few bytes: Delayed DAGs, a futures
  * fan-out, an iterative loop, an AvailableNow stream and one entry
  * function each of the operators, sources and ml modules, over small
  * generated tables. */
final class DagWorkload(spark: SparkSession, rec: Recorder, seed: Long, dataDir: String, outDir: String)
    extends Workload(spark, rec, seed, dataDir, outDir) {
  private val rnd = new Random(seed)
  private val client = new Client(spark)

  // Tree reduction: every leaf is one Spark action sum((id * a) % m).
  private val leaves = Vector.fill(DagWorkload.Leaves)(
    (20000 + rnd.nextInt(20000), 1 + rnd.nextInt(1000), 97 + rnd.nextInt(900)))
  private val leavesWant = leaves.map { case (n, a, m) => Check.sum(n)(i => (i * a) % m) }.sum

  // Driver-only DAG: seeded LCG chains fanned into a pairwise tree.
  private val chainSeeds = Vector.fill(DagWorkload.Chains)(rnd.nextLong())
  private def chainStep(x: Long, k: Int): Long = x * 6364136223846793005L + 1442695040888963407L + k
  private val chainsWant = chainSeeds.zipWithIndex.map { case (x0, k) =>
    (0 until DagWorkload.ChainLen).foldLeft(x0)((x, _) => chainStep(x, k)) }.reduce(_ ^ _)

  // Dask graph spec: base literals, a wide layer of pairwise tasks, one sum.
  private val graphBase = Vector.fill(DagWorkload.GraphBase)(rnd.nextInt(1 << 20).toLong)
  private def graphPair(i: Int): (Int, Int) = (i % graphBase.size, (i * 7 + 3) % graphBase.size)
  private val graphWant = Check.sum(DagWorkload.GraphWide) { i =>
    val (a, b) = graphPair(i.toInt); (graphBase(a) * 31 + graphBase(b)) % 1000003L }

  // Futures fan-out over a persisted frame: ids in [0, n), key id % FanOut.
  private val fanRows = 400000L + rnd.nextInt(100000)
  private val fanFrame = spark.range(0, fanRows, 1, 4)
    .selectExpr("id", s"id % ${DagWorkload.FanOut} AS k").persist()
  fanFrame.count()
  private def fanWant(k: Int): Long = {
    val f = DagWorkload.FanOut
    val c = (fanRows - k + f - 1) / f
    c * k + f * c * (c - 1) / 2
  }

  private val largeMod = 1009 + rnd.nextInt(1000)
  private val largeWant = Check.sum(DagWorkload.LargeMap)(x => x * x % largeMod)

  val requests: Seq[Request] = Seq(
    Request("tree_reduce", _ => {
      val root = rec.span("delayed.build") {
        Delayed.treeReduce(leaves.map { case (n, a, m) =>
          Delayed(spark.range(0, n, 1, 2).selectExpr(s"sum((id * $a) % $m)").first().getLong(0))
        })(_ + _)
      }
      Check.equal("tree_reduce sum", rec.span("delayed.compute")(root.compute()), leavesWant)
      None
    }),
    Request("driver_dag", _ => {
      val (root, dsk) = rec.span("delayed.build") {
        val ends = chainSeeds.zipWithIndex.map { case (x0, k) =>
          (0 until DagWorkload.ChainLen).foldLeft(Delayed.value(x0))((d, _) => d.map(chainStep(_, k)))
        }
        val dsk: Map[String, Any] = graphBase.indices.map(i => s"x$i" -> graphBase(i)).toMap ++
          (0 until DagWorkload.GraphWide).map { i =>
            val (a, b) = graphPair(i)
            s"y$i" -> DaskGraph.GraphTask(
              args => (args(0).asInstanceOf[Long] * 31 + args(1).asInstanceOf[Long]) % 1000003L,
              Seq(s"x$a", s"x$b"))
          } + ("total" -> DaskGraph.GraphTask(_.map(_.asInstanceOf[Long]).sum,
            (0 until DagWorkload.GraphWide).map(i => s"y$i")))
        (Delayed.treeReduce(ends)(_ ^ _), dsk)
      }
      Check.equal("chain tree xor", rec.span("delayed.compute")(root.compute()), chainsWant)
      Check.equal("graph spec total",
        rec.span("delayed.compute")(DaskGraph.get(dsk, Seq("total")).head), graphWant)
      None
    }),
    Request("client_map", _ => {
      val fs = rec.span("delayed.submit")(client.map(0 until DagWorkload.FanOut) { k =>
        fanFrame.where(s"k = $k").selectExpr("sum(id)").first().getLong(0)
      })
      val got = rec.span("delayed.gather")(client.gather(fs))
      got.zipWithIndex.foreach { case (s, k) => Check.equal(s"fan-out key $k", s, fanWant(k)) }
      None
    }),
    Request("map_large", _ => {
      val m = largeMod
      val fs = rec.span("delayed.submit")(client.mapLarge(0 until DagWorkload.LargeMap)(x => (x.toLong * x) % m))
      Check.equal("mapLarge sum", rec.span("delayed.gather")(client.gather(fs)).sum, largeWant)
      None
    }),
    entry(DagWorkload.Iterative, "core.iterate", "core.iterate"),
    entry(DagWorkload.Stream, "streaming.call", "streaming.call"),
    entry(DagWorkload.Operators, "operators.build", "operators.action"),
    // a round trip: the entry function writes the format (eagerly) and the
    // action reads the written files back
    entry(DagWorkload.Source, "sources.write", "sources.read"),
    entry(DagWorkload.Ml, "ml.call", "ml.call"),
  )
}

object DagWorkload {
  val Leaves = 16
  val FanOut = 16
  val Chains = 400
  val ChainLen = 250
  val GraphBase = 200
  val GraphWide = 30000
  val LargeMap = 200000
  /** Driver nodes one pass builds: chain nodes, tree nodes, graph tasks. */
  val Nodes: Long = 2L * Leaves - 1 + Chains.toLong * (ChainLen + 1) + Chains - 1 +
    GraphBase + GraphWide + 1
  val Futures: Long = FanOut.toLong + LargeMap
  val Iterative = "i01_iterative_trim"
  val Stream = "st01_stream_window"
  val Operators = "q44_describe"
  val Source = "src02_json_roundtrip"
  val Ml = "ml04_kmeans"
}

/** Flop- and shuffle-bound: blocked GEMM, TSQR and least squares, the
  * randomized SVD, Cholesky, LU and the Gramian. Every input
  * is seeded, and every output is checked against a closed form the
  * harness computes locally from the same seeded generator. */
final class LinalgWorkload(spark: SparkSession, rec: Recorder, seed: Long, dataDir: String, outDir: String)
    extends Workload(spark, rec, seed, dataDir, outDir) {
  import LinalgWorkload._
  private val rnd = new Random(seed)
  private def nextSeed(): Long = 1 + rnd.nextInt(1 << 20)
  private val (seedA, seedB, seedT, seedX, seedY, seedS) =
    (nextSeed(), nextSeed(), nextSeed(), nextSeed(), nextSeed(), nextSeed())

  /** randInt's cell value, as DMatrix.randInt computes it (mod 1000). */
  private def cell(i: Long, j: Long, nCols: Long, s: Long, mod: Long = 1000L): Long =
    DMatrix.lcg(i, j, nCols, s) % mod
  private def u(i: Long): Long = i % 7 + 1
  private def v(j: Long): Long = j % 5 + 1

  /** Σ_ij u_i M_ij v_j of a block matrix, exact in Long (cells are integers). */
  private def weighted(m: DMatrix): Long = {
    val bs = m.blockSize
    m.blocks.rdd.map { b =>
      var acc = 0L; var j = 0
      while (j < b.cols) {
        var i = 0
        while (i < b.rows) {
          val ui = (b.bi.toLong * bs + i) % 7 + 1
          val vj = (b.bj.toLong * bs + j) % 5 + 1
          acc += ui * vj * math.round(b.data(i + j * b.rows))
          i += 1
        }
        j += 1
      }
      acc
    }.reduce(_ + _)
  }

  private def materialize(m: DMatrix): DMatrix = { m.persist(); m.blocks.count(); m }
  /** Drops the request's inputs before it returns, so the live heap read
    * after the pass does not depend on when an asynchronous unpersist ran. */
  private def release(ms: DMatrix*): Unit = ms.foreach(_.blocks.unpersist(blocking = true))

  // GEMM: uᵀ(AB)v = (uᵀA)(Bv).
  private val gemmWant = {
    val uA = Array.tabulate(GemmN)(k => Check.sum(GemmN)(i => u(i) * cell(i, k, GemmN, seedA)))
    val Bv = Array.tabulate(GemmN)(k => Check.sum(GemmN)(j => cell(k, j, GemmN, seedB) * v(j)))
    Check.sum(GemmN)(k => uA(k.toInt) * Bv(k.toInt))
  }

  // Tall matrix for TSQR, least squares and the Gramian: AᵀA, exact in
  // doubles (every entry is an integer below 2⁵³).
  private val tallGram: Array[Array[Long]] = {
    val a = breeze.linalg.DenseMatrix.tabulate(TallM, TallN)((i, j) => cell(i, j, TallN, seedT).toDouble)
    val g = a.t * a
    Array.tabulate(TallN, TallN)((p, q) => g(p, q).toLong)
  }
  private val x0 = Array.tabulate(TallN)(i => (DMatrix.lcg(i, 0, 1, seedX) % 100).toDouble)
  private val gramWant = Check.sum(TallN)(a => Check.sum(TallN)(b => u(a) * tallGram(a.toInt)(b.toInt) * v(b)))

  // Rank-5 product for the randomized SVD: Σ(XY) = Σ_k colsum_X(k)·rowsum_Y(k).
  private val svdWant = (0 until SvdRank).map { k =>
    Check.sum(SvdN)(i => cell(i, k, SvdRank, seedX, 10)) * Check.sum(SvdN)(j => cell(k, j, SvdN, seedY, 10))
  }.sum

  // Symmetric, diagonally dominant (so SPD and pivot-free LU) square matrix.
  private val spd: (Long, Long) => Double = {
    val (n, s) = (SquareN.toLong, seedS)
    (i, j) => ((DMatrix.lcg(math.min(i, j), math.max(i, j), n, s) % 10) + (if (i == j) 10 * n else 0)).toDouble
  }
  private val spdWant = Check.sum(SquareN)(i => Check.sum(SquareN)(j => u(i) * spd(i, j).toLong * v(j)))

  private def square(): DMatrix =
    rec.span("array.gen")(materialize(DMatrix.tabulate(spark, SquareN, SquareN, SquareBs)(spd)))

  val requests: Seq[Request] = Seq(
    Request("gemm", _ => {
      val (a, b) = rec.span("array.gen")((
        materialize(DMatrix.randInt(spark, GemmN, GemmN, GemmBs, seedA)),
        materialize(DMatrix.randInt(spark, GemmN, GemmN, GemmBs, seedB))))
      Check.equal("gemm uᵀ(AB)v", rec.span("array.multiply")(weighted(a.multiply(b))), gemmWant)
      release(a, b); None
    }),
    Request("tsqr_lstsq", _ => {
      val a = rec.span("array.gen")(materialize(DMatrix.randInt(spark, TallM, TallN, TallBs, seedT)))
      val r = rec.span("array.factor")(LinAlg.tsqr(a))
      val rtr = r.t * r
      val scale = tallGram.map(_.max).max.toDouble
      for (p <- 0 until TallN; q <- 0 until TallN)
        Check.close(s"RᵀR($p,$q)", rtr(p, q) / scale, tallGram(p)(q) / scale, 1e-9)
      // consistent system A x = A x0: x = R⁻¹ R⁻ᵀ (Aᵀ A x0)
      val atb = rec.span("array.multiply") {
        val x = x0
        val xm = DMatrix.tabulate(spark, TallN, 1, TallBs)((i, _) => x(i.toInt))
        a.transpose.multiply(a.multiply(xm)).toLocal.toDenseVector
      }
      val x = rec.span("array.factor") {
        import breeze.linalg.{DenseVector => BDV}
        val y = BDV.zeros[Double](TallN)
        for (i <- 0 until TallN) y(i) = (atb(i) - (0 until i).map(k => r(k, i) * y(k)).sum) / r(i, i)
        val x = BDV.zeros[Double](TallN)
        for (i <- TallN - 1 to 0 by -1) x(i) = (y(i) - (i + 1 until TallN).map(k => r(i, k) * x(k)).sum) / r(i, i)
        x
      }
      for (i <- 0 until TallN) Check.equal(s"lstsq x($i)", math.round(x(i)).toDouble, x0(i))
      release(a); None
    }),
    Request("gramian", _ => {
      val a = rec.span("array.gen")(materialize(DMatrix.randInt(spark, TallM, TallN, TallBs, seedT)))
      Check.equal("gramian uᵀ(AᵀA)v", rec.span("array.multiply")(weighted(a.gramian)), gramWant)
      release(a); None
    }),
    Request("rsvd", _ => {
      val a = rec.span("array.gen")(materialize(
        DMatrix.randInt(spark, SvdN, SvdRank, SvdBs, seedX, mod = 10L)
          .multiply(DMatrix.randInt(spark, SvdRank, SvdN, SvdBs, seedY, mod = 10L))))
      val (uu, s, vt) = rec.span("array.factor")(LinAlg.svdCompressed(a, k = SvdRank, oversample = 0, seed = seed, nPowerIter = 1))
      val sum = rec.span("array.multiply") {
        val svt = vt.t.copy
        for (i <- 0 until s.length) svt(i, ::) :*= s(i)
        uu.multiply(DMatrix.fromLocal(spark, svt, SvdBs)).blocks.rdd
          .map(_.data.iterator.map(math.round).sum).reduce(_ + _)
      }
      Check.equal("rsvd Σ round(U S Vᵀ)", sum, svdWant)
      release(a); None
    }),
    Request("cholesky", _ => {
      val a = square()
      val l = rec.span("array.factor")(LinAlg.choleskyLower(a))
      Check.equal("cholesky uᵀ(LLᵀ)v", rec.span("array.multiply")(weighted(l.multiply(l.transpose))), spdWant)
      release(a); None
    }),
    Request("lu", _ => {
      val a = square()
      val (l, up) = rec.span("array.factor")(LinAlg.lu(a))
      Check.equal("lu uᵀ(LU)v", rec.span("array.multiply")(weighted(l.multiply(up))), spdWant)
      release(a); None
    }),
  )
}

object LinalgWorkload {
  val GemmN = 1536; val GemmBs = 512
  val TallM = 32768; val TallN = 64; val TallBs = 4096
  val SvdN = 1000; val SvdRank = 5; val SvdBs = 500
  val SquareN = 512; val SquareBs = 256
  /** Flops of the GEMM request's product (2n³), for array.gflops. */
  val GemmFlops: Double = 2.0 * GemmN * GemmN * GemmN
}
