package graft.array

import breeze.linalg.{DenseMatrix => BDM}
import graft.SparkSpec

/** Pins DMatrix.multiply's path dispatch (VERDICT r14 directive #5):
  * three physical regimes — broadcast-skinny (the rSVD fix, r14 finding
  * #1), deep inner join, tiled SUMMA — chosen by a pure function of the
  * shapes, so a threshold tweak can't silently flip a13 (must stay
  * SUMMA) or a16's skinny multiplies (must stay broadcast) onto the
  * wrong plan. Also pins the SUMMA tile chooser's accumulator-memory
  * cap (ADVICE r14) and end-to-end correctness of both broadcast paths
  * including the absent-block-means-zero convention.
  */
class MultiplyPathSpec extends SparkSpec {

  private val MB = 1L << 20
  private val cap64 = 64L * MB

  // ---- dispatch: pure shape → path ----

  test("a13 flagship (10x10 square x 10x10 square) stays tiled-summa") {
    val bytes = 8L * 10000 * 10000
    assert(DMatrix.multiplyPathFor(10, 10, bytes, 10, 10, bytes, 32, cap64)
      == "tiled-summa")
  }

  test("deep inner grid (nInner >= parts) takes the inner join") {
    val big = 8L * 40000 * 40000
    assert(DMatrix.multiplyPathFor(4, 40, big, 40, 4, big, 32, cap64)
      == "deep-join")
  }

  test("huge outer-product grid (1M C blocks) takes the join, not the stream") {
    val big = 100L * 1024 * MB
    assert(DMatrix.multiplyPathFor(1000, 1, big, 1, 1000, big, 32, cap64)
      == "deep-join")
  }

  test("a16's A*Omega shape (fat x single-block-column ~1MB) broadcasts right") {
    val aBytes = 8L * 10000 * 10000            // 800 MB — must not move
    val oBytes = 8L * 10000 * 15               // 1.2 MB sketch
    assert(DMatrix.multiplyPathFor(5, 5, aBytes, 5, 1, oBytes, 32, cap64)
      == "broadcast-right")
  }

  test("a16's Qt*A shape (single-block-row ~1MB x fat) broadcasts left") {
    val qtBytes = 8L * 15 * 10000
    val aBytes = 8L * 10000 * 10000
    assert(DMatrix.multiplyPathFor(1, 5, qtBytes, 5, 5, aBytes, 32, cap64)
      == "broadcast-left")
  }

  test("a skinny block-column over the broadcast budget falls back to SUMMA") {
    val aBytes = 8L * 10000 * 10000
    val bBytes = 128L * MB                     // single col block, too big
    assert(DMatrix.multiplyPathFor(10, 10, aBytes, 10, 1, bBytes, 32, cap64)
      == "tiled-summa")
  }

  test("a16's rank-5 outer product (5x1 grid x 1x5 grid) streams, never broadcasts") {
    // Both factors are small, but neither is a single block-column/row
    // on the broadcast side of a SKINNY result — the product is the big
    // 10k² matrix and must materialize distributed.
    val xBytes = 8L * 10000 * 5; val yBytes = 8L * 5 * 10000
    assert(DMatrix.multiplyPathFor(5, 1, xBytes, 1, 5, yBytes, 32, cap64)
      == "tiled-summa")
  }

  // ---- SUMMA tile chooser: wave rule + accumulator cap ----

  test("flagship 10x10 grid at bs=1000 picks t=2 (wave rule unchanged by the cap)") {
    assert(DMatrix.summaTileFor(10, 10, 1000, 32, 1024 * MB) == 2)
  }

  test("20x20 grid at bs=1000 picks t=4; 10x10 at bs=2000 (the 20k probe) picks t=2") {
    assert(DMatrix.summaTileFor(20, 20, 1000, 32, 1024 * MB) == 4)
    assert(DMatrix.summaTileFor(10, 10, 2000, 32, 1024 * MB) == 2)
  }

  test("accumulator cap bounds t on big-block grids (ADVICE r14)") {
    // 40x40 at bs=2000: the wave rule alone picks t=8 (2 GB of C
    // accumulators per task); a 1 GB cap steps down to t=4 (512 MB).
    assert(DMatrix.summaTileFor(40, 40, 2000, 32, Long.MaxValue) == 8)
    assert(DMatrix.summaTileFor(40, 40, 2000, 32, 1024 * MB) == 4)
  }

  // ---- end-to-end correctness of the broadcast paths ----

  private def intMat(s: org.apache.spark.sql.SparkSession,
                     m: Int, n: Int, bs: Int, seed: Long): DMatrix =
    DMatrix.tabulate(s, m, n, bs)((i, j) => (DMatrix.mix64(i * n + j + seed) % 7L).toDouble)

  test("broadcast-right product matches the local result (multi-block A x skinny B)") {
    val a = intMat(spark, 300, 200, 64, 1L)     // 5x4 block grid
    val b = intMat(spark, 200, 30, 64, 2L)      // 4x1: single block-column
    assert(DMatrix.multiplyPathFor(a.nbRows, a.nbCols, 8L * 300 * 200,
      b.nbRows, b.nbCols, 8L * 200 * 30, 4, DMatrix.bcBytes) == "broadcast-right")
    assert(a.multiply(b).toLocal == a.toLocal * b.toLocal)
  }

  test("broadcast-left product matches the local result (skinny A x multi-block B)") {
    val a = intMat(spark, 30, 200, 64, 3L)      // 1x4: single block-row
    val b = intMat(spark, 200, 300, 64, 4L)     // 4x5 block grid
    assert(DMatrix.multiplyPathFor(a.nbRows, a.nbCols, 8L * 30 * 200,
      b.nbRows, b.nbCols, 8L * 200 * 300, 4, DMatrix.bcBytes) == "broadcast-left")
    assert(a.multiply(b).toLocal == a.toLocal * b.toLocal)
  }

  test("broadcast-right honors absent-means-zero on sparse block grids (tril input)") {
    val a = intMat(spark, 300, 300, 64, 5L).tril   // above-diagonal blocks DROPPED
    val b = intMat(spark, 300, 20, 64, 6L)
    val want = breeze.linalg.lowerTriangular(intMat(spark, 300, 300, 64, 5L).toLocal) *
      b.toLocal
    assert(a.multiply(b).toLocal == want)
  }

  test("svdCompressed never re-shuffles the fat matrix (metrics-pinned scale shape)") {
    // The r14 weak mark in reverse: the whole rSVD pipeline's shuffle
    // traffic must stay l-wide-partials-sized — a small fraction of
    // |A| — not a multiple of it. Stages are attributed by the wall-clock
    // window of the call, after a drain proves every stage event arrived.
    val n = 1536; val bs = 256                     // 6x6 grid, |A| ~ 18.9 MB
    val x = intMat(spark, n, 4, bs, 21L)
    val y = intMat(spark, 4, n, bs, 23L)
    val a = x.multiply(y).persist()
    a.blocks.rdd.count(): Unit                     // A's own build stays OUTSIDE the window
    try {
      val ((_, sv, _), _) = metrics.timed("rsvd")(LinAlg.svdCompressed(a, k = 4, oversample = 0, seed = 5L))
      assert(sv(0) > 0.0)
      metrics.drain()
      val read = metrics.breakdowns("rsvd").shuffleReadBytes
      val aBytes = 8L * n * n
      assert(read < aBytes / 8,
        s"rSVD shuffled ${read} bytes — more than |A|/8 ($aBytes/8); " +
          "a skinny multiply has fallen off the broadcast path")
    } finally a.unpersist(): Unit
  }
}
