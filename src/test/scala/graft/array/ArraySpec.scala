package graft.array

import graft.SparkSpec
import breeze.linalg.{DenseMatrix => BDM, sum => bsum}

/** Block-matrix core ops vs local Breeze — the rebuild analog of the
  * reference's distributed-vs-sync-scheduler oracle
  * (Static Scheduler/wukong/tests/test_collections.py:90-103). */
class ArraySpec extends SparkSpec {

  private def approxEqual(a: BDM[Double], b: BDM[Double], tol: Double = 1e-9): Boolean =
    a.rows == b.rows && a.cols == b.cols &&
      (0 until a.cols).forall(j => (0 until a.rows).forall(i => math.abs(a(i, j) - b(i, j)) <= tol))

  test("constructors: shape, determinism, eye/ones") {
    val a1 = DMatrix.randInt(spark, 40, 30, 16, 7L).toLocal
    val a2 = DMatrix.randInt(spark, 40, 30, 16, 7L).toLocal
    assert(a1 == a2, "seeded constructor must be deterministic")
    assert(DMatrix.ones(spark, 10, 10, 4).toLocal == BDM.ones[Double](10, 10))
    assert(DMatrix.eye(spark, 9, 4).toLocal == BDM.eye[Double](9))
  }

  test("fromLocal/toLocal round-trip on ragged grids, transposed views included") {
    val local = BDM.tabulate(37, 23)((i, j) => i * 100.0 + j + 0.25)
    for (bs <- Seq(8, 23, 64)) {        // ragged both ways, ragged rows only, one block
      val m = DMatrix.fromLocal(spark, local, bs)
      assert(m.blocks.count() == m.nbRows.toLong * m.nbCols, s"bs=$bs block count")
      assert(m.toLocal == local, s"bs=$bs round-trip")
    }
    // a transposed view is read through its own index map
    assert(DMatrix.fromLocal(spark, local.t, 8).toLocal == local.t.copy)
    // same partition count as the seeded constructors, so multiply's
    // dispatch sees the same operand however it was built
    assert(DMatrix.fromLocal(spark, local, 8).blocks.rdd.getNumPartitions ==
      DMatrix.zeros(spark, 37, 23, 8).blocks.rdd.getNumPartitions)
  }

  test("matmul matches Breeze, including non-divisible block edges") {
    val a = DMatrix.randInt(spark, 37, 23, 8, 3L)
    val b = DMatrix.randInt(spark, 23, 19, 8, 5L)
    val got = a.multiply(b).toLocal
    val want = a.toLocal * b.toLocal
    assert(approxEqual(got, want))
  }

  test("shallow multiply on sparse block grids: unpaired stripes mean zero, not NPE") {
    import org.apache.spark.sql.functions.col
    val a = DMatrix.randInt(spark, 24, 24, 8, 3L)
    val b = DMatrix.randInt(spark, 24, 24, 8, 5L)
    // A keeps only block-column 0, B keeps only block-row 2: no (i,j)
    // stripe ever pairs, so every C partition sees one side only —
    // the regression case where the streamed path emitted (key, null)
    val a0 = new DMatrix(a.blocks.filter(col("bj") === 0), 24, 24, 8)
    val b2 = new DMatrix(b.blocks.filter(col("bi") === 2), 24, 24, 8)
    assert(a0.multiply(b2).toLocal == BDM.zeros[Double](24, 24))
    // partially-pairing grids must still match the dense masked product
    val a01 = new DMatrix(a.blocks.filter(col("bj") <= 1), 24, 24, 8)
    val b1 = new DMatrix(b.blocks.filter(col("bi") === 1), 24, 24, 8)
    // explicit-loop masks (Breeze range-slice := proved treacherous here)
    val am = a.toLocal.copy
    for (i <- 0 until 24; j <- 16 until 24) am(i, j) = 0.0
    val bm = b.toLocal.copy
    for (i <- (0 until 8) ++ (16 until 24); j <- 0 until 24) bm(i, j) = 0.0
    assert(approxEqual(a01.multiply(b1).toLocal, am * bm))
  }

  test("transpose and double transpose") {
    val a = DMatrix.randInt(spark, 21, 34, 8, 17L)
    assert(a.transpose.toLocal == a.toLocal.t)
    assert(a.transpose.transpose.toLocal == a.toLocal)
  }

  test("elementwise zip / scalar ops") {
    val a = DMatrix.randInt(spark, 12, 15, 8, 3L)
    val b = DMatrix.randInt(spark, 12, 15, 8, 9L)
    assert((a + b).toLocal == a.toLocal + b.toLocal)
    assert((a - b).toLocal == a.toLocal - b.toLocal)
    assert(a.hadamard(b).toLocal == (a.toLocal *:* b.toLocal))
    assert((a * 3.0).toLocal == a.toLocal * 3.0)
  }

  test("tril masks above-diagonal entries") {
    val s0 = DMatrix.randInt(spark, 20, 20, 8, 13L)
    val local = s0.tril.toLocal
    for (i <- 0 until 20; j <- 0 until 20 if j > i) assert(local(i, j) == 0.0)
    for (i <- 0 until 20; j <- 0 to i) assert(local(i, j) == s0.toLocal(i, j))
  }

  test("axis and full reductions") {
    val a = DMatrix.randInt(spark, 17, 13, 8, 21L)
    val local = a.toLocal
    val rowSums = a.sumAxis1.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for (i <- 0 until 17) assert(math.abs(rowSums(i) - bsum(local(i, ::).t)) < 1e-9)
    val colSums = a.sumAxis0.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for (j <- 0 until 13) assert(math.abs(colSums(j) - bsum(local(::, j))) < 1e-9)
    assert(math.abs(a.sum - bsum(local)) < 1e-9)
    assert(math.abs(a.mean - bsum(local) / (17 * 13)) < 1e-9)
  }

  test("x.dot(y).std(axis=0) composition matches Breeze") {
    val x = DMatrix.randInt(spark, 24, 18, 8, 3L)
    val y = DMatrix.randInt(spark, 18, 12, 8, 5L)
    val got = x.multiply(y).stdAxis0.collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val c = x.toLocal * y.toLocal
    for (j <- 0 until 12) {
      val col = (0 until 24).map(i => c(i, j))
      val m = col.sum / 24.0
      val want = math.sqrt(col.map(v => v * v).sum / 24.0 - m * m)
      assert(math.abs(got(j) - want) < 1e-6, s"col $j: ${got(j)} vs $want")
    }
  }

  test("sparse COO: spmm matches dense multiply, toDense round-trips") {
    import org.apache.spark.sql.functions.col
    val a = DMatrix.randInt(spark, 30, 22, 8, 3L)
    val b = DMatrix.randInt(spark, 22, 18, 8, 5L)
    val sa = a.toCoords.filter(col("v") % 3 === 0)
    val sb = b.toCoords.filter(col("v") % 3 === 0)
    val got = Sparse.toDense(Sparse.spmm(sa, sb), 30, 18, 8).toLocal
    val want = Sparse.toDense(sa, 30, 22, 8).toLocal * Sparse.toDense(sb, 22, 18, 8).toLocal
    assert(approxEqual(got, want))
    assert(Sparse.toDense(a.toCoords, 30, 22, 8).toLocal == a.toLocal,
      "COO -> dense round-trip must be lossless")
  }

  test("sparse algebra: add/multiply/build-dedup/reductions/spdm match dense equivalents") {
    import org.apache.spark.sql.functions.{col, sum => ssum}
    val da = DMatrix.randInt(spark, 30, 22, 8, 3L)
    val db = DMatrix.randInt(spark, 30, 22, 8, 5L)
    val sa = da.toCoords.filter(col("v") % 3 === 0 && col("v") =!= 0)
    val sb = db.toCoords.filter(col("v") % 3 === 0 && col("v") =!= 0)
    val la = Sparse.toDense(sa, 30, 22, 8).toLocal
    val lb = Sparse.toDense(sb, 30, 22, 8).toLocal
    // add: union support
    assert(Sparse.toDense(Sparse.add(sa, sb), 30, 22, 8).toLocal == la + lb)
    // multiply: intersection support, elementwise product
    assert(Sparse.toDense(Sparse.multiply(sa, sb), 30, 22, 8).toLocal == (la *:* lb))
    // build with duplicates sums them (scipy coo semantics)
    assert(Sparse.toDense(Sparse.fromCoo(sa.unionByName(sa)), 30, 22, 8).toLocal == la * 2.0)
    // axis reductions over the support only
    val rows = Sparse.rowSums(sa).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    (0 until 30).foreach { i =>
      val want = (0 until 22).map(la(i, _)).sum
      assert(rows.getOrElse(i.toLong, 0.0) == want, s"rowSums($i)")
    }
    val nnz = Sparse.rowNnz(sa).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    (0 until 30).foreach { i =>
      val want = (0 until 22).count(la(i, _) != 0.0).toDouble
      assert(nnz.getOrElse(i.toLong, 0.0) == want, s"rowNnz($i)")
    }
    // sparse × dense: dense completion equals the dense product (absent
    // output stripes are zero by the shallow-grid convention)
    val dn = DMatrix.randInt(spark, 22, 14, 8, 7L)
    val got = Sparse.spdm(sa, dn, 30)
    assert(got.nRows == 30 && got.nCols == 14)
    assert(Sparse.toDense(got.toCoords, 30, 14, 8).toLocal == la * dn.toLocal)
    // empty stripes stay absent, never NPE: a mask keeping only row 0
    val tiny = sa.filter(col("i") === 0)
    assert(Sparse.toDense(Sparse.spdm(tiny, dn, 30).toCoords, 30, 14, 8).toLocal(1, 0) == 0.0)
  }

  test("axis broadcast: x - x.mean(axis=1)[:,None] and col-vector add") {
    // non-divisible shape exercises the ragged edge blocks
    val a = DMatrix.randInt(spark, 21, 13, 8, 43L)
    val local = a.toLocal
    val centered = a.zipRowVec(a.rowMeanVec)(_ - _).toLocal
    for (i <- 0 until 21; j <- 0 until 13) {
      val rowMean = bsum(local(i, ::).t) / 13.0
      assert(math.abs(centered(i, j) - (local(i, j) - rowMean)) < 1e-9)
    }
    val colShift = a.zipColVec(a.colMeanVec)(_ + _).toLocal
    for (i <- 0 until 21; j <- 0 until 13) {
      val colMean = bsum(local(::, j)) / 21.0
      assert(math.abs(colShift(i, j) - (local(i, j) + colMean)) < 1e-9)
    }
  }

  test("map_overlap 1-D: halo stencil matches the local loop, ragged tail, depth > 1") {
    // 37 = 4 full blocks of 8 + tail of 5: exercises the short last halo
    val x = DMatrix.randInt(spark, 37, 1, 8, 61L)
    val xs = x.toLocal(::, 0)
    def at(i: Int): Double = if (i < 0 || i >= 37) 0.0 else xs(i)
    val got1 = x.mapOverlapRows(1)((p, c) => p(c - 1) + 2 * p(c) + p(c + 1)).toLocal(::, 0)
    for (i <- 0 until 37)
      assert(got1(i) == at(i - 1) + 2 * at(i) + at(i + 1), s"depth-1 stencil at $i")
    val got3 = x.mapOverlapRows(3)((p, c) => (-3 to 3).map(o => p(c + o)).sum).toLocal(::, 0)
    for (i <- 0 until 37)
      assert(got3(i) == (-3 to 3).map(o => at(i + o)).sum, s"depth-3 window at $i")
  }

  test("cumsum axis 0: block prefix scan matches the sequential column scan") {
    val a = DMatrix.randInt(spark, 37, 13, 8, 67L)   // ragged on both dims
    val local = a.toLocal
    val got = a.cumsumAxis0.toLocal
    for (j <- 0 until 13) {
      var run = 0.0
      for (i <- 0 until 37) {
        run += local(i, j)
        assert(got(i, j) == run, s"cumsum at ($i,$j)")
      }
    }
  }

  test("cumprod axis 0 and norms match local computation") {
    val a = DMatrix.tabulate(spark, 37, 13, 8) { (i, j) =>
      ((DMatrix.lcg(i, j, 13, 97L) % 2L) * 2L - 1L).toDouble
    }
    val local = a.toLocal
    val got = a.cumprodAxis0.toLocal
    for (j <- 0 until 13) {
      var run = 1.0
      for (i <- 0 until 37) {
        run *= local(i, j)
        assert(got(i, j) == run, s"cumprod at ($i,$j)")
      }
    }
    val b = DMatrix.randInt(spark, 21, 34, 8, 17L)
    val bl = b.toLocal
    val (froSq, n1, nInf) = b.norms
    assert(froSq == bsum(bl *:* bl))
    assert(n1 == (0 until 34).map(j => bsum(breeze.numerics.abs(bl(::, j)))).max)
    assert(nInf == (0 until 21).map(i => bsum(breeze.numerics.abs(bl(i, ::).t))).max)
  }

  test("a45/a46: unique counts and percentiles agree with the local cell walk") {
    val a = DMatrix.randInt(spark, 48, 32, 16, 77L)  // values in [0, 1000)
    val local = a.toLocal
    val cells = for (i <- 0 until 48; j <- 0 until 32) yield local(i, j).toLong
    // unique + counts (the a45 shape, on a spec-sized matrix)
    val expect = cells.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = a.toCoords.selectExpr("CAST(v AS LONG) AS v")
      .groupBy("v").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect)
    // interpolated quartiles via the shared rankScan (the a46 shape)
    import org.apache.spark.sql.functions._
    val quarts = graft.operators.Relational.quartilesByKey(
      a.toCoords.select(lit("all").as("k"), col("v").cast("long").as("v"))
        .groupBy(col("k"), col("v")).agg(count(lit(1)).as("cnt"))).collect().head
    val sorted = cells.sorted
    def interp(p: Double): Double = {
      val pos = p * (sorted.length - 1)
      val (lo, hi) = (math.floor(pos).toInt, math.ceil(pos).toInt)
      sorted(lo) + (pos - lo) * (sorted(hi) - sorted(lo))
    }
    Seq(0.25 -> 1, 0.5 -> 2, 0.75 -> 3).foreach { case (p, idx) =>
      assert(math.abs(quarts.getDouble(idx) - interp(p)) < 1e-4,
        s"quartile $p: ${quarts.getDouble(idx)} vs ${interp(p)}")
    }
  }

  test("histogram: bins match local counts; out-of-range dropped; top edge inclusive") {
    val a = DMatrix.randInt(spark, 50, 40, 16, 71L)  // values in [0, 1000)
    val local = a.toLocal
    val got = a.histogram(100.0, 900.0, 8).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val want = new Array[Long](8)
    for (i <- 0 until 50; j <- 0 until 40) {
      val v = local(i, j)
      if (v >= 100.0 && v <= 900.0) want(math.min(7, ((v - 100.0) / 100.0).toInt)) += 1
    }
    for (b <- 0 until 8 if want(b) > 0) {
      assert(got(b.toLong)._2 == want(b), s"bin $b count")
      assert(got(b.toLong)._1 == 100.0 + b * 100.0, s"bin $b edge")
    }
    assert(got.values.map(_._2).sum == want.sum, "no phantom bins")
  }

  test("argmax axis 1: numpy first-hit ties, ragged blocks, cross-block maxima") {
    val a = DMatrix.randInt(spark, 21, 37, 8, 91L, mod = 5L)  // mod 5 forces ties
    val local = a.toLocal
    val got = a.argmaxAxis1.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    for (i <- 0 until 21) {
      var bj = 0L; var bv = Double.NegativeInfinity
      for (j <- 0 until 37) if (local(i, j) > bv) { bv = local(i, j); bj = j }
      assert(got(i.toLong) == ((bj, bv)), s"row $i")
    }
  }

  test("diag and trace: ragged diagonal, off-diagonal blocks pruned") {
    val a = DMatrix.randInt(spark, 21, 21, 8, 93L)
    val local = a.toLocal
    val d = a.diagVec.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(d.size == 21)
    for (i <- 0 until 21) assert(d(i.toLong) == local(i, i))
    assert(a.trace == (0 until 21).map(i => local(i, i)).sum)
  }

  test("property: scan/overlap/argmax agree with local oracles across random ragged shapes") {
    val rng = new scala.util.Random(4242)
    for (_ <- 1 to 5) {
      val m = 9 + rng.nextInt(40); val n = 3 + rng.nextInt(20)
      val bs = 4 + rng.nextInt(9); val seed = rng.nextLong().abs % 1000 + 1
      val a = DMatrix.randInt(spark, m, n, bs, seed)
      val local = a.toLocal
      val cs = a.cumsumAxis0.toLocal
      for (j <- 0 until n) {
        var run = 0.0
        for (i <- 0 until m) { run += local(i, j); assert(cs(i, j) == run, s"($m,$n,$bs,$seed) cumsum($i,$j)") }
      }
      val am = a.argmaxAxis1.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      for (i <- 0 until m) {
        var bj = 0L; var bv = Double.NegativeInfinity
        for (j <- 0 until n) if (local(i, j) > bv) { bv = local(i, j); bj = j }
        assert(am(i.toLong) == bj, s"($m,$n,$bs,$seed) argmax row $i")
      }
      val depth = 1 + rng.nextInt(math.min(3, bs))
      val x = DMatrix.randInt(spark, m, 1, bs, seed + 7)
      val xs = x.toLocal(::, 0)
      def at(i: Int): Double = if (i < 0 || i >= m) 0.0 else xs(i)
      val ov = x.mapOverlapRows(depth)((p, c) => (-depth to depth).map(o => p(c + o)).sum)
        .toLocal(::, 0)
      for (i <- 0 until m)
        assert(ov(i) == (-depth to depth).map(o => at(i + o)).sum,
          s"($m,$bs,$seed) overlap depth $depth at $i")
    }
  }

  test("rechunk: ragged re-tiling preserves every value and re-tiles the grid") {
    val a = DMatrix.randInt(spark, 64, 48, 16, 7L)
    val r = a.rechunk(24)                 // 64 = 24+24+16: ragged target rows
    assert(r.blockSize == 24)
    assert(r.toLocal == a.toLocal)
    // round-trip through a second ragged grid still exact
    assert(r.rechunk(10).toLocal == a.toLocal)
  }

  test("slice: mid-block windows, block-aligned windows, and full-width slices match local") {
    val a = DMatrix.randInt(spark, 64, 48, 16, 7L)
    val local = a.toLocal
    def check(r0: Int, r1: Int, c0: Int, c1: Int): Unit = {
      val got = a.slice(r0, r1, c0, c1)
      assert(got.nRows == r1 - r0 && got.nCols == c1 - c0)
      assert(got.toLocal == local(r0 until r1, c0 until c1).copy, s"[$r0,$r1)x[$c0,$c1)")
    }
    check(10, 43, 5, 29)     // starts/ends mid-block both axes
    check(16, 48, 16, 32)    // exactly block-aligned
    check(0, 64, 47, 48)     // single column, full height
    check(63, 64, 0, 48)     // single row crossing all column blocks
    intercept[IllegalArgumentException] { a.slice(0, 0, 0, 10) }
    intercept[IllegalArgumentException] { a.slice(0, 65, 0, 10) }
  }

  test("sliceStep: strided windows match the local gather across ragged shapes") {
    val a = DMatrix.randInt(spark, 37, 29, 8, 23L) // ragged tail blocks
    val local = a.toLocal
    def check(r0: Int, r1: Int, rs: Int, c0: Int, c1: Int, cs: Int): Unit = {
      val got = a.sliceStep(r0, r1, rs, c0, c1, cs)
      val rows = (r0 until r1 by rs).toArray; val cols = (c0 until c1 by cs).toArray
      assert(got.nRows == rows.length && got.nCols == cols.length,
        s"[$r0:$r1:$rs, $c0:$c1:$cs] dims ${got.nRows}x${got.nCols}")
      val g = got.toLocal
      for (i <- rows.indices; j <- cols.indices)
        assert(g(i, j) == local(rows(i), cols(j)), s"cell ($i,$j) of [$r0:$r1:$rs, $c0:$c1:$cs]")
    }
    check(0, 37, 2, 0, 29, 1)   // x[::2] — the canonical subsample
    check(3, 36, 5, 1, 28, 3)   // off-grid start, both axes strided
    check(0, 37, 8, 0, 29, 8)   // step == blockSize (one row/col per block)
    check(0, 37, 40, 0, 29, 40) // step > extent: single cell
    check(5, 6, 2, 7, 8, 3)     // degenerate 1×1 window
    assert(a.sliceStep(0, 37, 1, 0, 29, 1).toLocal == local) // step-1 = slice fast path
    intercept[IllegalArgumentException] { a.sliceStep(0, 37, 0, 0, 29, 1) }
    intercept[IllegalArgumentException] { a.sliceStep(0, 37, -2, 0, 29, 1) }
  }

  test("selectRows: computed boolean mask compacts rows in order; join path agrees") {
    val a = DMatrix.randInt(spark, 37, 29, 8, 23L)
    val local = a.toLocal
    // keep rows whose first column is even — mask computed from the data
    val mask = a.slice(0, 37, 0, 1).mapElements(v => if (v % 2.0 == 0.0) 1.0 else 0.0)
    val keptRows = (0 until 37).filter(i => local(i, 0) % 2.0 == 0.0)
    val got = a.selectRows(mask)
    assert(got.nRows == keptRows.length && got.nCols == 29)
    val g = got.toLocal
    for (oi <- keptRows.indices; j <- 0 until 29)
      assert(g(oi, j) == local(keptRows(oi), j), s"row $oi (src ${keptRows(oi)}) col $j")
    // force the huge-mask join path; result must be identical
    val viaJoin = a.selectRows(mask, broadcastLimit = 1L)
    assert(viaJoin.toLocal == g)
    // shape guards + empty selection
    intercept[IllegalArgumentException] { a.selectRows(a) }
    val none = a.slice(0, 37, 0, 1).mapElements(_ => 0.0)
    intercept[IllegalArgumentException] { a.selectRows(none) }
  }

  test("takeRows: reorder/repeat fancy index matches local gather; join path agrees") {
    val a = DMatrix.randInt(spark, 37, 29, 8, 23L)
    val local = a.toLocal
    def check(idx: Array[Long]): Unit = {
      val got = a.takeRows(idx)
      assert(got.nRows == idx.length && got.nCols == 29)
      val g = got.toLocal
      for (o <- idx.indices; j <- 0 until 29)
        assert(g(o, j) == local(idx(o).toInt, j), s"out row $o (src ${idx(o)}) col $j")
      val viaJoin = a.takeRows(idx, broadcastLimit = 1L)
      assert(viaJoin.toLocal == g, "join-path regime must agree with broadcast")
    }
    check(Array.tabulate(50)(o => ((o * 13 + 5) % 37).toLong)) // scramble + repeats
    check(Array(36L, 35L, 0L, 36L, 1L, 1L))                    // descending + duplicates
    check(Array(7L))                                           // single row
    check(Array.tabulate(37)(_.toLong))                        // identity
    // axis=1: column take with reorder + repeats through the transpose route
    val cIdx = Array(28L, 3L, 3L, 11L, 0L)
    val gc2 = a.takeCols(cIdx).toLocal
    for (i <- 0 until 37; o <- cIdx.indices)
      assert(gc2(i, o) == local(i, cIdx(o).toInt), s"col take ($i,$o)")
    // numpy convention: -1 = last row, -nRows = first
    val neg = a.takeRows(Array(-1L, -37L, 5L)).toLocal
    for (j <- 0 until 29) {
      assert(neg(0, j) == local(36, j) && neg(1, j) == local(0, j) && neg(2, j) == local(5, j))
    }
    intercept[IllegalArgumentException] { a.takeRows(Array(37L)) }
    intercept[IllegalArgumentException] { a.takeRows(Array(-38L)) }
    intercept[IllegalArgumentException] { a.takeRows(Array.empty[Long]) }
  }

  test("tensordot: all four axis pairs match the local contraction") {
    val x = DMatrix.randInt(spark, 21, 13, 8, 41L) // ragged both axes
    val y10 = DMatrix.randInt(spark, 13, 17, 8, 43L)
    val lx = x.toLocal
    def localTd(ly: breeze.linalg.DenseMatrix[Double], aA: Int, aB: Int) = {
      val a = if (aA == 1) lx else lx.t
      val b = if (aB == 0) ly else ly.t
      a * b
    }
    assert(x.tensordot(y10, 1, 0).toLocal == localTd(y10.toLocal, 1, 0)) // matmul
    val y00 = DMatrix.randInt(spark, 21, 17, 8, 47L)
    assert(x.tensordot(y00, 0, 0).toLocal == localTd(y00.toLocal, 0, 0))
    val y11 = DMatrix.randInt(spark, 19, 13, 8, 53L)
    assert(x.tensordot(y11, 1, 1).toLocal == localTd(y11.toLocal, 1, 1))
    val y01 = DMatrix.randInt(spark, 17, 21, 8, 59L)
    assert(x.tensordot(y01, 0, 1).toLocal == localTd(y01.toLocal, 0, 1))
    intercept[IllegalArgumentException] { x.tensordot(y10, 2, 0) }
    intercept[IllegalArgumentException] { x.tensordot(y00, 1, 0) } // dim mismatch
  }

  test("clip/where/isin/cummax/cummin match local elementwise walks") {
    val a = DMatrix.randInt(spark, 37, 29, 8, 31L)
    val la = a.toLocal
    val lc = a.clip(200, 700).toLocal
    for (i <- 0 until 37; j <- 0 until 29)
      assert(lc(i, j) == math.min(700.0, math.max(200.0, la(i, j))), s"clip($i,$j)")
    val cond = a.mapElements(_ % 2.0)
    val lw = DMatrix.where(cond, a, a * -1.0).toLocal
    for (i <- 0 until 37; j <- 0 until 29)
      assert(lw(i, j) == (if (la(i, j) % 2.0 != 0.0) la(i, j) else -la(i, j)), s"where($i,$j)")
    val set = Set(7.0, 42.0, 123.0)
    val li = a.isin(set).toLocal
    for (i <- 0 until 37; j <- 0 until 29)
      assert(li(i, j) == (if (set(la(i, j))) 1.0 else 0.0), s"isin($i,$j)")
    val lmax = a.cummaxAxis0.toLocal
    val lmin = a.cumminAxis0.toLocal
    for (j <- 0 until 29) {
      var mx = Double.NegativeInfinity; var mn = Double.PositiveInfinity
      for (i <- 0 until 37) {
        mx = math.max(mx, la(i, j)); mn = math.min(mn, la(i, j))
        assert(lmax(i, j) == mx, s"cummax($i,$j)")
        assert(lmin(i, j) == mn, s"cummin($i,$j)")
      }
    }
    // where rejects mismatched chunking
    intercept[IllegalArgumentException] {
      DMatrix.where(cond, a, DMatrix.randInt(spark, 37, 29, 7, 31L))
    }
  }

  test("cov: n²·cov_pop matches the local Breeze covariance exactly") {
    val a = DMatrix.randInt(spark, 64, 48, 16, 7L)
    val local = a.toLocal
    val got = graft.array.ArrayQueries.covEntry(spark, "")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val n = 64
    for (j <- 0 until 48; k <- 0 until 48 by 7) {
      val cj = local(::, j); val ck = local(::, k)
      val expect = n.toLong * math.round(bsum(cj *:* ck)) -
        math.round(bsum(cj)) * math.round(bsum(ck))
      assert(got((j.toLong, k.toLong)) == expect, s"cov_n($j,$k)")
    }
  }

  test("rollRows / flipRows: ragged shapes match the local index remaps") {
    for ((m, n, bs, k) <- Seq((53L, 21L, 16, 17L), (64L, 48L, 16, 67L),
                              (5L, 3L, 4, -2L), (30L, 7L, 8, 0L))) {
      val a = DMatrix.randInt(spark, m, n, bs, 11L)
      val local = a.toLocal
      val kk = ((k % m) + m) % m
      val rolled = a.rollRows(k).toLocal
      val flipped = a.flipRows.toLocal
      for (i <- 0 until m.toInt; j <- 0 until n.toInt) {
        assert(rolled(((i + kk) % m).toInt, j) == local(i, j), s"roll($m,$bs,$k)@($i,$j)")
        assert(flipped((m - 1 - i).toInt, j) == local(i, j), s"flip($m,$bs)@($i,$j)")
      }
    }
  }

  test("corrcoef: unit diagonal, symmetry, and the local closed form") {
    val got = graft.array.ArrayQueries.corrcoefEntry(spark, "")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got.size == 48 * 48)
    // local exact-integer cov_n from the shared LCG, then the same float tail
    val n = 64; val m = 48
    def x(i: Int, j: Int): Long = DMatrix.lcg(i, j, m, 7L) % 1000L
    val s = Array.tabulate(m)(j => (0 until n).map(i => x(i, j)).sum)
    def covn(j: Int, k: Int): Long =
      n.toLong * (0 until n).map(i => x(i, j) * x(i, k)).sum - s(j) * s(k)
    for (j <- 0 until m; k <- j until m by 5) {
      // unrounded local value: the entry rounds to 6 dp, so agreement
      // within 6e-7 covers any HALF_UP-vs-HALF_EVEN boundary difference
      val expect = covn(j, k).toDouble /
        math.sqrt(covn(j, j).toDouble * covn(k, k).toDouble)
      assert(math.abs(got((j.toLong, k.toLong)) - expect) <= 6e-7, s"corr($j,$k)")
      assert(got((j.toLong, k.toLong)) == got((k.toLong, j.toLong)), s"symmetry($j,$k)")
      if (j == k) assert(got((j.toLong, j.toLong)) == 1.0, s"diag($j)")
      assert(math.abs(got((j.toLong, k.toLong))) <= 1.0, s"|r|<=1 ($j,$k)")
    }
  }

  test("kron matches the local Kronecker product on ragged block edges") {
    val a = DMatrix.randInt(spark, 10, 6, 4, 31L)   // ragged 3×2 block grid
    val b = DMatrix.randInt(spark, 5, 5, 4, 37L)    // ragged square operand
    val got = a.kron(b).toLocal
    val la = a.toLocal; val lb = b.toLocal
    val want = breeze.linalg.DenseMatrix.tabulate(50, 30) { (i, j) =>
      la(i / 5, j / 5) * lb(i % 5, j % 5)
    }
    assert(got == want)   // integer-valued operands: exact equality
    // non-square B is rejected (it would break the uniform block grid)
    val nonsquare = DMatrix.randInt(spark, 4, 6, 4, 41L)
    assertThrows[IllegalArgumentException](a.kron(nonsquare))
  }

  test("digitize: variable-width buckets match a local scan; boundary hits go right") {
    val m = DMatrix.randInt(spark, 37, 23, 8, 91L)   // ragged blocks
    val bounds = Array(100.0, 250.0, 500.0, 900.0)
    val local = m.toLocal
    val expect = scala.collection.mutable.Map[Long, (Long, Double)]()
    local.toArray.foreach { v =>
      val idx = bounds.count(_ <= v).toLong
      val (c, sm) = expect.getOrElse(idx, (0L, 0.0))
      expect(idx) = (c + 1, sm + v)
    }
    val got = m.digitize(bounds).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got == expect.toMap)
    // a cell exactly on a boundary lands in the upper bucket (numpy right=False)
    val hit = DMatrix.fromLocal(spark,
      breeze.linalg.DenseMatrix((100.0, 99.0), (900.0, 901.0)), 2)
    val hitBuckets = hit.digitize(bounds).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hitBuckets == Map(0L -> 1L, 1L -> 1L, 4L -> 2L))
    assertThrows[IllegalArgumentException](m.digitize(Array(1.0, 1.0)))
  }

  test("bincount: weighted counts match a local scan; bad values rejected") {
    val x = DMatrix.randInt(spark, 37, 23, 8, 131L, 48L)   // ragged blocks
    val w = DMatrix.randInt(spark, 37, 23, 8, 137L)
    val pairs = x.toLocal.toArray.zip(w.toLocal.toArray)
    val expect = pairs.groupBy(_._1.toLong)
      .map { case (b, xs) => b -> ((xs.length.toLong, xs.map(_._2).sum)) }
    val got = x.bincount(w).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got == expect)
    // shape mismatch and negative bins are rejected
    assertThrows[IllegalArgumentException](
      x.bincount(DMatrix.randInt(spark, 10, 10, 8, 1L)))
    val neg = DMatrix.fromLocal(spark, breeze.linalg.DenseMatrix((1.0, -2.0)), 2)
    val ones = DMatrix.fromLocal(spark, breeze.linalg.DenseMatrix((1.0, 1.0)), 2)
    assertThrows[org.apache.spark.SparkException](neg.bincount(ones).collect())
  }

  test("histogram2d equals a local joint-bin count and covers the grid") {
    val x = DMatrix.randInt(spark, 96, 80, 16, 149L).toLocal
    val y = DMatrix.randInt(spark, 96, 80, 16, 151L).toLocal
    val expect = (for (i <- 0 until 96; j <- 0 until 80)
      yield ((x(i, j) / 100).toLong, (y(i, j) % 100 / 10).toLong))
      .groupBy(identity).map { case (k, xs) => (k._1, k._2, xs.length.toLong) }.toSet
    val got = graft.array.ArrayQueries.histogram2dEntry(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expect)
    assert(got.toSeq.map(_._3).sum == 96L * 80L)
    assert(got.size == 100, "uniform LCG should populate all 100 cells")
  }

  test("hstack mirrors vstack: widths add, cells land shifted, misalignment rejected") {
    val a = DMatrix.randInt(spark, 64, 48, 16, 7L)
    val e = DMatrix.randInt(spark, 64, 48, 16, 19L)
    val h = a.hstack(e)
    assert(h.nRows == 64 && h.nCols == 96)
    val (la, le) = (a.toLocal, e.toLocal)
    val got = h.toLocal
    for (i <- 0 until 64; j <- 0 until 48) {
      assert(got(i, j) == la(i, j))
      assert(got(i, j + 48) == le(i, j))
    }
    // height mismatch and unaligned left width are rejected
    assertThrows[IllegalArgumentException](
      a.hstack(DMatrix.randInt(spark, 32, 48, 16, 3L)))
    assertThrows[IllegalArgumentException](
      DMatrix.randInt(spark, 64, 40, 16, 5L).hstack(e))
  }

  test("argtopk per row equals a local (v desc, j) top-3") {
    val loc = DMatrix.randInt(spark, 96, 80, 16, 157L).toLocal
    val expect = (for (i <- 0 until 96) yield {
      val top = (0 until 80).map(j => (loc(i, j).toLong, j.toLong))
        .sortBy { case (v, j) => (-v, j) }.take(3)
      top.zipWithIndex.map { case ((v, j), r) => (i.toLong, r + 1L, j, v) }
    }).flatten.toSet
    val got = graft.array.ArrayQueries.argTopkEntry(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expect)
  }

  test("row median entry equals a local per-row sort") {
    val m = DMatrix.randInt(spark, 96, 80, 16, 139L)
    val loc = m.toLocal
    val expect = (0 until 96).map { i =>
      val row = (0 until 80).map(j => loc(i, j)).sorted
      (i.toLong, 80L, (row(39) + row(40)).toLong)
    }.toSet
    val got = graft.array.ArrayQueries.rowMedianEntry(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expect)
  }

  test("nanRowStats: skipna reductions match local, all-NaN rows report zero") {
    val m = DMatrix.randInt(spark, 37, 23, 8, 93L)
      .mapElements(v => if (v.toLong % 5 == 2) Double.NaN else v)
    val local = m.toLocal
    val expect = (0 until 37).map { i =>
      val vs = (0 until 23).map(local(i, _)).filterNot(_.isNaN)
      (i.toLong, vs.length.toLong, vs.sum)
    }.toSet
    val got = m.nanRowStats.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expect)
    // a fully-NaN row: n_valid = 0, sum = 0 (numpy nansum of empty)
    val allNan = DMatrix.fromLocal(spark,
      breeze.linalg.DenseMatrix((Double.NaN, Double.NaN), (1.0, 2.0)), 2)
    val rows = allNan.nanRowStats.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(rows(0L) == ((0L, 0.0)) && rows(1L) == ((2L, 3.0)))
  }

  test("matrix power by repeated squaring equals the local fourth power exactly") {
    val a = DMatrix.randInt(spark, 20, 20, 8, 71L, mod = 10L)
    val a2 = a.multiply(a)
    val got = a2.multiply(a2).toLocal
    val la = a.toLocal
    val want = la * la * la * la
    assert(got == want)   // integer-domain: exact
  }

  test("band: offset diagonal masks match local, off-band blocks are pruned") {
    val m = DMatrix.randInt(spark, 37, 29, 8, 97L)   // ragged grid
    val (lower, upper) = (2, 4)
    val banded = m.band(lower, upper)
    val got = banded.toLocal
    val local = m.toLocal
    val want = breeze.linalg.DenseMatrix.tabulate(37, 29) { (i, j) =>
      if (j - i >= -lower && j - i <= upper) local(i, j) else 0.0
    }
    assert(got == want)
    // pruning really happened: kept blocks < total blocks for a thin band
    val keptBlocks = banded.blocks.count()
    val totalBlocks = m.blocks.count()
    assert(keptBlocks < totalBlocks,
      s"thin band kept all $totalBlocks blocks — no pruning")
    // every kept block intersects the band
    banded.blocks.collect().foreach { b =>
      val minDiag = b.bj.toLong * 8 - (b.bi.toLong * 8 + b.rows - 1)
      val maxDiag = (b.bj.toLong * 8 + b.cols - 1) - b.bi.toLong * 8
      assert(maxDiag >= -lower && minDiag <= upper, s"block (${b.bi},${b.bj}) off-band")
    }
  }

  test("vstack: concatenation along axis 0 matches vertcat") {
    val a = DMatrix.randInt(spark, 32, 13, 8, 73L)   // top block-aligned
    val b = DMatrix.randInt(spark, 21, 13, 8, 79L)   // ragged bottom
    val got = a.vstack(b)
    assert(got.nRows == 53 && got.nCols == 13)
    assert(got.toLocal == BDM.vertcat(a.toLocal, b.toLocal))
    // unaligned top must be rejected loudly, not silently misplace rows
    intercept[IllegalArgumentException] { b.vstack(a) }
  }

  test("pad: constant borders and exact interior on ragged, boundary-straddling widths") {
    val m = DMatrix.randInt(spark, 21, 13, 8, 101L)  // ragged source grid
    val p = m.pad(5, 2, 0, 11, -3.0)                 // zero-width side included
    assert(p.nRows == 28 && p.nCols == 24)
    val local = m.toLocal
    val want = breeze.linalg.DenseMatrix.tabulate(28, 24) { (i, j) =>
      if (i >= 5 && i < 26 && j < 13) local(i - 5, j) else -3.0
    }
    assert(p.toLocal == want)
    // target grid is fully tiled: piece overlay produced every block once
    assert(p.blocks.count() == DMatrix.nBlocks(28, 8).toLong * DMatrix.nBlocks(24, 8))
    // zero pad is the identity (same object, no extra stage)
    assert(m.pad(0, 0, 0, 0, 9.9) eq m)
  }

  test("diffAxis0 equals the local adjacent-row difference on a ragged grid") {
    val m = DMatrix.randInt(spark, 21, 13, 8, 131L)
    val local = m.toLocal
    val got = m.diffAxis0
    assert(got.nRows == 20 && got.nCols == 13)
    val want = breeze.linalg.DenseMatrix.tabulate(20, 13) { (i, j) =>
      local(i + 1, j) - local(i, j)
    }
    assert(got.toLocal == want)
  }

  test("coarsenSum: 2x2 tile sums match local; indivisible shapes are rejected") {
    val m = DMatrix.randInt(spark, 32, 16, 8, 137L)
    val c = m.coarsenSum(2)
    assert(c.nRows == 16 && c.nCols == 8 && c.blockSize == 4)
    val local = m.toLocal
    val want = breeze.linalg.DenseMatrix.tabulate(16, 8) { (i, j) =>
      local(2 * i, 2 * j) + local(2 * i + 1, 2 * j) +
        local(2 * i, 2 * j + 1) + local(2 * i + 1, 2 * j + 1)
    }
    assert(c.toLocal == want)
    intercept[IllegalArgumentException] { m.coarsenSum(3) }  // 3 ∤ bs 8
    intercept[IllegalArgumentException] {
      DMatrix.randInt(spark, 30, 16, 8, 139L).coarsenSum(4)  // 4 ∤ 30 rows
    }
  }

  test("sortAxis1: each row is the sorted multiset of its source row") {
    val m = DMatrix.randInt(spark, 21, 29, 8, 103L)  // ragged, 4 col blocks
    val local = m.toLocal
    val rows = m.sortAxis1.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    assert(rows.size == 21)
    rows.foreach { case (i, cells) =>
      val got = cells.sortBy(_._2).map(_._3).toSeq
      val want = (0 until 29).map(j => local(i.toInt, j)).sorted
      assert(got == want, s"row $i")
    }
  }
}
