package graft.array

import graft.SparkSpec
import breeze.linalg.{DenseMatrix => BDM, svd => bsvd, cholesky => bchol}

/** Factorizations vs Breeze single-node oracles, tolerance-based
  * (SURVEY.md §5 local-math oracle; tolerances 1e-8 relative). */
class LinAlgSpec extends SparkSpec {

  private def maxAbs(m: BDM[Double]): Double = breeze.linalg.max(breeze.numerics.abs(m))

  /** 96² SPD arrowhead, bs = 32: a dense first block row and column and
    * dense diagonal blocks; blocks (1,2) and (2,1) are ABSENT. Step 0's
    * trailing update fills them in (L_20·L_10ᵀ ≠ 0), so a factorization
    * that only updates existing blocks leaves a wrong zero there. */
  private def arrowhead(): (DMatrix, BDM[Double]) = {
    val n = 96; val bs = 32
    val local = BDM.tabulate(n, n) { (i, j) =>
      val (bi, bj) = (i / bs, j / bs)
      if (bi != bj && bi != 0 && bj != 0) 0.0
      else if (i == j) 10.0 * n
      else (DMatrix.lcg(math.min(i, j), math.max(i, j), n, 37L) % 10).toDouble
    }
    val full = DMatrix.fromLocal(spark, local, bs)
    (new DMatrix(full.blocks.filter(b => b.bi == 0 || b.bj == 0 || b.bi == b.bj), n, n, bs), local)
  }

  test("tsqr: R is upper-triangular and RtR = AtA") {
    val a = DMatrix.rand(spark, 500, 20, 64, 3L)
    val r = LinAlg.tsqr(a)
    assert(r.rows == 20 && r.cols == 20)
    for (i <- 0 until 20; j <- 0 until i) assert(math.abs(r(i, j)) < 1e-10)
    val local = a.toLocal
    assert(maxAbs(r.t * r - local.t * local) < 1e-6)
    assert((0 until 20).forall(i => r(i, i) >= 0), "sign-normalized diagonal")
  }

  test("tsqr ships compact n×n factors; R is bit-identical to the view-returning LAPACK R") {
    import breeze.linalg.qr
    val stripe = DMatrix.rand(spark, 8192, 64, 8192, 5L).toLocal
    assert(LinAlg.triOf(stripe).data.length == 64 * 64)
    assert(qr.reduced(stripe).r.data.length == 8192 * 64, "the LAPACK R is a view over the stack")
    // the tree tsqr runs, with every R taken as the uncopied view: the
    // same partitions, groups of 8 and final sign fix
    val a = DMatrix.rand(spark, 8192, 64, 1024, 7L)
    val parts = a.rdd.map(_.toBreeze).glom().collect()
    assert(parts.length <= 8, s"${parts.length} partitions would add a combine round")
    def viewR(m: BDM[Double]) = qr.reduced(m).r
    val tops = parts.filter(_.nonEmpty).map { blocks =>
      blocks.grouped(8).foldLeft(null: BDM[Double]) { (acc, g) =>
        val stack = if (acc == null) g.toSeq else acc +: g.toSeq
        viewR(if (stack.length == 1) stack.head else BDM.vertcat(stack: _*))
      }
    }
    val expect = viewR(if (tops.length == 1) tops(0) else BDM.vertcat(tops.toIndexedSeq: _*)).copy
    (0 until 64).foreach(i => if (expect(i, i) < 0) expect(i, ::) :*= -1.0)
    val got = LinAlg.tsqr(a)
    assert(got.rows == 64 && got.cols == 64)
    assert(got.data.toSeq.map(java.lang.Double.doubleToRawLongBits) ==
      expect.data.toSeq.map(java.lang.Double.doubleToRawLongBits), "R differs bitwise")
  }

  test("qr: Q orthonormal and Q*R reconstructs A") {
    val a = DMatrix.rand(spark, 300, 16, 50, 11L)
    val (q, r) = LinAlg.qrFactor(a)
    val qLocal = q.toLocal
    assert(maxAbs(qLocal.t * qLocal - BDM.eye[Double](16)) < 1e-8)
    assert(maxAbs(qLocal * r - a.toLocal) < 1e-8)
  }

  test("qr on a square multi-column-block layout: rechunks, reconstructs, orthonormal Q") {
    // the reference's examples.rst square-QR shape: 128×128, chunks 16×16
    val a = DMatrix.rand(spark, 128, 128, 16, 31L)
    assert(a.nbCols == 8, "precondition: genuinely multi-column-block")
    val (q, r) = LinAlg.qrFactor(a)
    assert(r.rows == 128 && r.cols == 128)
    for (i <- 0 until 128; j <- 0 until i) assert(math.abs(r(i, j)) < 1e-10)
    val qLocal = q.toLocal
    assert(maxAbs(qLocal.t * qLocal - BDM.eye[Double](128)) < 1e-8)
    assert(maxAbs(qLocal * r - a.toLocal) < 1e-8)
  }

  test("rechunk: identity content under any grid change, both directions") {
    val a = DMatrix.rand(spark, 70, 45, 16, 13L)   // ragged edges on both dims
    val local = a.toLocal
    val up = a.rechunk(32)                          // coarsen
    assert(up.blockSize == 32 && maxAbs(up.toLocal - local) == 0.0)
    val down = up.rechunk(7)                        // refine, non-divisor size
    assert(down.blockSize == 7 && maxAbs(down.toLocal - local) == 0.0)
  }

  test("tall-skinny svd matches Breeze singular values; U orthonormal") {
    val a = DMatrix.rand(spark, 400, 12, 64, 19L)
    val (u, s, v) = LinAlg.svdTallSkinny(a)
    val want = bsvd.reduced(a.toLocal).singularValues
    for (i <- 0 until 12) assert(math.abs(s(i) - want(i)) / want(i) < 1e-8)
    val uLocal = u.toLocal
    assert(maxAbs(uLocal.t * uLocal - BDM.eye[Double](12)) < 1e-8)
    // reconstruction: U S Vt = A
    val recon = uLocal * breeze.linalg.diag(s) * v.t
    assert(maxAbs(recon - a.toLocal) < 1e-8)
  }

  test("svd_compressed approximates dominant singular values") {
    // low-rank-ish matrix: outer products + small noise
    val base = DMatrix.rand(spark, 200, 24, 32, 5L)
    val g = base.multiply(base.transpose.multiply(base)) // boosts spectrum decay
    val (_, s, _) = LinAlg.svdCompressed(g, k = 3, oversample = 8, seed = 7L)
    val want = bsvd.reduced(g.toLocal).singularValues
    for (i <- 0 until 3)
      assert(math.abs(s(i) - want(i)) / want(i) < 1e-2,
        s"sigma_$i: got ${s(i)} want ${want(i)}")
  }

  test("qrR (blocked BLAS-3 Householder) matches LAPACK dgeqrf's R") {
    // same normalization both sides (non-negative diagonal): R is then
    // unique, so the two algorithms must agree to roundoff
    def posDiag(r: BDM[Double]): BDM[Double] = {
      val out = r.copy
      for (i <- 0 until math.min(out.rows, out.cols) if out(i, i) < 0)
        out(i, ::) :*= -1.0
      out
    }
    for ((m, n, seed) <- Seq((700, 300, 3L), (2100, 600, 4L), (513, 129, 5L))) {
      val a = BDM.tabulate(m, n)((i, j) =>
        DMatrix.mixedUniform(i.toLong, j.toLong, n.toLong, seed) - 0.5)
      val fast = posDiag(LinAlg.qrR(a))
      val lapack = posDiag(breeze.linalg.qr.reduced(a).r)
      val scale = breeze.linalg.max(breeze.numerics.abs(lapack))
      assert(maxAbs(fast - lapack) / scale < 1e-10,
        s"$m×$n: max diff ${maxAbs(fast - lapack)}")
      // and the factorization identity RᵀR = AᵀA
      assert(maxAbs(fast.t * fast - a.t * a) / scale < 1e-7)
    }
  }

  test("qrR is backward-stable on an ill-conditioned matrix") {
    // near-rank-deficient: rank-2 structure + 1e-9 noise (κ ~ 1e9).
    // Row signs of R are noise-sensitive here (near-zero diagonals), so
    // compare the sign-invariant RᵀR = AᵀA identity instead — Householder
    // QR is backward-stable, so it must hold to ~ε·‖A‖² regardless of κ.
    val m = 1500; val n = 300
    val a = BDM.tabulate(m, n) { (i, j) =>
      math.sin(i * 0.01) * math.cos(j * 0.02) +
        0.5 * math.sin(i * 0.03 + 1) * math.cos(j * 0.05 + 2) +
        1e-9 * (DMatrix.mixedUniform(i.toLong, j.toLong, n.toLong, 11L) - 0.5)
    }
    val r = LinAlg.qrR(a)
    val gram = a.t * a
    val scale = breeze.linalg.max(breeze.numerics.abs(gram))
    assert(maxAbs(r.t * r - gram) / scale < 1e-12,
      s"RᵀR drifted from AᵀA by ${maxAbs(r.t * r - gram)} (scale $scale)")
    // R upper-triangular by construction
    for (i <- 0 until n; j <- 0 until i) assert(r(i, j) == 0.0)
  }

  test("blocked cholesky: L lower-triangular and L*Lt = A") {
    val b0 = DMatrix.randInt(spark, 48, 48, 16, 23L, mod = 10L)
    val spd = b0.transpose.multiply(b0) + (DMatrix.eye(spark, 48, 16) * 480.0)
    val l = LinAlg.choleskyLower(spd, checkpointEvery = 2).toLocal
    for (i <- 0 until 48; j <- 0 until 48 if j > i) assert(l(i, j) == 0.0)
    assert(maxAbs(l * l.t - spd.toLocal) < 1e-6)
    // cross-check against Breeze
    assert(maxAbs(l - bchol(spd.toLocal)) < 1e-6)
  }

  test("cholesky trailing-update tile width never changes the factor (t = 1, 2, 4)") {
    // the panel-shuffle update must be stable in PLAN SHAPE only — every
    // tile width of the state's partitioner yields the same L (each
    // block's update consumes exactly one (L_ik, L_jk) pair regardless of
    // which copy delivered it). Budget 0 forces the panel-shuffle path
    // for every step (small fixtures would otherwise broadcast and never
    // exercise the tiles this test pins).
    val b0 = DMatrix.randInt(spark, 160, 160, 16, 29L, mod = 10L)   // 10×10 block grid
    val spd = b0.transpose.multiply(b0) + (DMatrix.eye(spark, 160, 16) * 1600.0)
    val want = bchol(spd.toLocal)
    for (t <- Seq(1, 2, 4)) {
      val l = LinAlg.factorSteps(spd, LinAlg.Cholesky, new TilePartitioner(4, t),
                                 checkpointEvery = 3, budget = 0L).toLocal
      assert(maxAbs(l - want) < 1e-6, s"tile=$t drifted from Breeze cholesky")
    }
  }

  test("cholesky panel-broadcast budget selects a plan, never a result (0 / flip / ∞)") {
    // r16 guide §3.1: below the byte budget the solved panel broadcasts
    // and the trailing update is a narrow mapValues; above it, the
    // panel-shuffle step ships one copy of each panel block to every
    // partition it feeds. Both paths drive the same dgemm with the same
    // explicit transpose, so the factor must be BIT-identical — budget 0
    // (all panel-shuffle), ∞ (all broadcast), and a mid value that flips
    // panel-shuffle→broadcast at k=6 (the step-5 job collects the whole
    // panel 6 at the flip) all produce the same doubles.
    val b0 = DMatrix.randInt(spark, 160, 160, 16, 29L, mod = 10L)   // nb=10, bs=16
    val spd = b0.transpose.multiply(b0) + (DMatrix.eye(spark, 160, 16) * 1600.0)
    val lShuf = LinAlg.choleskyLower(spd, checkpointEvery = 3,
                                     bcBudgetOverride = Some(0L)).toLocal
    val lBc = LinAlg.choleskyLower(spd, checkpointEvery = 3,
                                   bcBudgetOverride = Some(Long.MaxValue)).toLocal
    // (10−k)·16²·8 ≤ 8192 ⇔ nb−k ≤ 4 ⇔ broadcast from k = 6
    val lFlip = LinAlg.choleskyLower(spd, checkpointEvery = 3,
                                     bcBudgetOverride = Some(8192L)).toLocal
    assert(lShuf.data.sameElements(lBc.data), "broadcast path drifted from the panel-shuffle path")
    assert(lShuf.data.sameElements(lFlip.data), "mixed-path run drifted from the panel-shuffle path")
    assert(maxAbs(lShuf - bchol(spd.toLocal)) < 1e-6)
  }

  test("cholesky of a block-diagonal SPD matrix: absent panel blocks are zero on both paths") {
    // off-diagonal blocks are ABSENT, not zero-filled (the block-sparse
    // shape gramian and multiply can emit): every panel below the
    // diagonal is missing, which the broadcast path must read as zero
    val b0 = DMatrix.randInt(spark, 64, 64, 16, 31L, mod = 10L)   // nb=4
    val full = b0.transpose.multiply(b0) + (DMatrix.eye(spark, 64, 16) * 640.0)
    val spd = new DMatrix(full.blocks.filter(b => b.bi == b.bj), 64, 64, 16)
    val want = bchol(spd.toLocal)
    for (budget <- Seq(0L, Long.MaxValue)) {
      val l = LinAlg.choleskyLower(spd, bcBudgetOverride = Some(budget)).toLocal
      assert(maxAbs(l - want) < 1e-6, s"budget $budget drifted from Breeze cholesky")
    }
  }

  test("block-sparse input: cholesky and lu fill in absent trailing blocks on every path") {
    val (a, local) = arrowhead()
    assert(a.blocks.count() == 7, "precondition: two off-diagonal blocks absent")
    for (budget <- Seq(0L, Long.MaxValue)) {
      val l = LinAlg.choleskyLower(a, bcBudgetOverride = Some(budget)).toLocal
      assert(maxAbs(l * l.t - local) < 1e-9, s"cholesky budget $budget: L·Lᵀ ≠ A")
      assert(maxAbs(l - bchol(local)) < 1e-9, s"cholesky budget $budget drifted from Breeze")
      val (lf, uf) = LinAlg.lu(a, bcBudgetOverride = Some(budget))
      assert(maxAbs(lf.toLocal * uf.toLocal - local) < 1e-9, s"lu budget $budget: L·U ≠ A")
    }
  }

  test("lu step budget selects a plan, never a result (0 / flip / ∞ are bit-identical)") {
    val n = 160; val bs = 16                         // nb = 10
    val a = DMatrix.randInt(spark, n, n, bs, 97L, mod = 10L) +
      (DMatrix.eye(spark, n, bs) * (10.0 * n))
    def factors(budget: Long) = {
      val (l, u) = LinAlg.lu(a, checkpointEvery = 3, bcBudgetOverride = Some(budget))
      (l.toLocal, u.toLocal)
    }
    val (lShuf, uShuf) = factors(0L)
    val (lBc, uBc) = factors(Long.MaxValue)
    // (2·(10−k)−1)·16²·8 ≤ 8192 ⇔ k ≥ 8: panel-shuffle steps, then broadcast
    val (lFlip, uFlip) = factors(8192L)
    assert(LinAlg.luStepPathFor(10, 7, bs, 8192L) == "panel-shuffle")
    assert(LinAlg.luStepPathFor(10, 8, bs, 8192L) == "broadcast")
    assert(lShuf.data.sameElements(lBc.data) && uShuf.data.sameElements(uBc.data),
      "broadcast path drifted from the panel-shuffle path")
    assert(lShuf.data.sameElements(lFlip.data) && uShuf.data.sameElements(uFlip.data),
      "mixed-path run drifted from the panel-shuffle path")
    assert(maxAbs(lBc * uBc - a.toLocal) < 1e-9)
  }

  test("svdCompressed on an exact rank-4 matrix: s matches Breeze, U·S·Vᵀ = A to 1e-8") {
    // ragged 300×200 grid in 64² blocks; the sketch (l = 8) spans the
    // whole range, so the factorization is exact up to roundoff
    val x = DMatrix.tabulate(spark, 300, 4, 64)((i, j) => DMatrix.mixedUniform(i, j, 4, 41L) - 0.5)
    val y = DMatrix.tabulate(spark, 4, 200, 64)((i, j) => DMatrix.mixedUniform(i, j, 200, 42L) - 0.5)
    val a = x.multiply(y)
    val local = a.toLocal
    val (u, s, v) = LinAlg.svdCompressed(a, k = 4, oversample = 4, seed = 3L, nPowerIter = 1)
    val want = bsvd.reduced(local).singularValues
    for (i <- 0 until 4) assert(math.abs(s(i) - want(i)) / want(i) < 1e-8, s"sigma_$i")
    val uL = u.toLocal
    assert(maxAbs(uL.t * uL - BDM.eye[Double](4)) < 1e-10, "U not orthonormal")
    assert(maxAbs(v.t * v - BDM.eye[Double](4)) < 1e-10, "V not orthonormal")
    assert(maxAbs(uL * breeze.linalg.diag(s) * v.t - local) < 1e-8, "U·S·Vᵀ ≠ A")
  }

  test("job audit: svdCompressed runs 2 + 2·nPowerIter jobs; broadcast lu at most nb + 1") {
    val a = DMatrix.tabulate(spark, 600, 400, 128)(
      (i, j) => DMatrix.mixedUniform(i, j, 400, 43L) - 0.5).persist()
    a.blocks.rdd.count(): Unit                       // A's own build stays outside the group
    try {
      for (p <- Seq(0, 1, 2)) {
        val (_, jobs) = countJobs(LinAlg.svdCompressed(a, k = 5, oversample = 5, seed = 9L,
          nPowerIter = p))
        assert(jobs == 2 + 2 * p, s"nPowerIter=$p ran $jobs jobs")
      }
    } finally a.unpersist(): Unit
    val n = 96; val bs = 16                          // nb = 6
    val sq = DMatrix.randInt(spark, n, n, bs, 101L, mod = 10L) +
      (DMatrix.eye(spark, n, bs) * (10.0 * n))
    val ((l, u), jobs) = countJobs(LinAlg.lu(sq, bcBudgetOverride = Some(Long.MaxValue)))
    info(s"broadcast lu, nb = 6: $jobs jobs")
    assert(jobs <= 6 + 1, s"broadcast lu ran $jobs jobs")
    assert(maxAbs(l.toLocal * u.toLocal - sq.toLocal) < 1e-9)
  }

  test("job audit: cholesky runs nb + 1 jobs on either step path") {
    val n = 96; val bs = 16                          // nb = 6
    val b0 = DMatrix.randInt(spark, n, n, bs, 103L, mod = 10L)
    val spd = (b0.transpose.multiply(b0) + (DMatrix.eye(spark, n, bs) * (10.0 * n))).persist()
    spd.blocks.rdd.count(): Unit                     // A's own build stays outside the group
    try {
      val want = bchol(spd.toLocal)
      // broadcast: the entry job reads panel 0, each step's job panel k+1;
      // panel-shuffle: the same jobs read the next diagonal block instead
      for (budget <- Seq(Long.MaxValue, 0L)) {
        val (l, jobs) = countJobs(LinAlg.choleskyLower(spd, bcBudgetOverride = Some(budget)))
        assert(jobs == 6 + 1, s"budget $budget: cholesky ran $jobs jobs")
        assert(maxAbs(l.toLocal - want) < 1e-9)
      }
    } finally spd.unpersist(): Unit
  }

  test("fillPattern: block-diagonal adds no keys; arrowhead and a cascade fill in") {
    val diag = (0 until 4).map(d => (d, d))
    assert(LinAlg.fillPattern(LinAlg.Cholesky, 4, diag) == diag.toSet)
    assert(LinAlg.fillPattern(LinAlg.Lu, 4, diag) == diag.toSet)
    // the arrowhead (see `arrowhead`): L_20·L_10ᵀ fills (2, 1), and for
    // LU L_10·U_02 fills (1, 2) as well; diagonal keys are always held
    val arrowLower = Seq((1, 0), (2, 0), (1, 1))
    assert(LinAlg.fillPattern(LinAlg.Cholesky, 3, arrowLower) ==
      Set((0, 0), (1, 0), (2, 0), (1, 1), (2, 1), (2, 2)))
    assert(LinAlg.fillPattern(LinAlg.Lu, 3, arrowLower ++ Seq((0, 1), (0, 2))) ==
      (for (i <- 0 until 3; j <- 0 until 3) yield (i, j)).toSet)
    // elimination, not one pass over A: (2, 1) fills at step 0, then
    // L_31·L_21ᵀ fills (3, 2) at step 1 although A has no (3, 0)
    assert(LinAlg.fillPattern(LinAlg.Cholesky, 4, Seq((1, 0), (2, 0), (3, 1))) ==
      diag.toSet ++ Set((1, 0), (2, 0), (3, 1), (2, 1), (3, 2)))
  }

  test("block-sparse cholesky and lu store only the fill pattern, on every path") {
    val b0 = DMatrix.randInt(spark, 64, 64, 16, 31L, mod = 10L)   // nb=4
    val full = b0.transpose.multiply(b0) + (DMatrix.eye(spark, 64, 16) * 640.0)
    val blockDiag = new DMatrix(full.blocks.filter(b => b.bi == b.bj), 64, 64, 16)
    val (arrow, arrowLocal) = arrowhead()
    for (budget <- Seq(0L, Long.MaxValue)) {
      assert(LinAlg.choleskyLower(blockDiag, bcBudgetOverride = Some(budget)).blocks.count() == 4)
      val (l, u) = LinAlg.lu(blockDiag, bcBudgetOverride = Some(budget))
      assert(l.blocks.count() == 4 && u.blocks.count() == 4)
      // the arrowhead's absent (2, 1) fills in, so every lower key is held
      val la = LinAlg.choleskyLower(arrow, bcBudgetOverride = Some(budget))
      assert(la.blocks.count() == 6)
      assert(maxAbs(la.toLocal - bchol(arrowLocal)) < 1e-9)
    }
  }

  test("luStepPathFor pins the bench, a24, 10k² and an over-budget shape") {
    val mb64 = 64L << 20
    // column k plus row k, (2(nb−k)−1)·bs²·8 bytes
    for (k <- 0 until 3) assert(LinAlg.luStepPathFor(3, k, 32, mb64) == "broadcast")   // a24 96²/32
    for (k <- 0 until 2) {
      assert(LinAlg.luStepPathFor(2, k, 256, mb64) == "broadcast")          // bench lu 512²/256
      assert(LinAlg.luStepPathFor(2, k, 500, mb64) == "broadcast")          // 1000²/500, 6 MB
    }
    for (k <- 0 until 4) assert(LinAlg.luStepPathFor(4, k, 128, mb64) == "broadcast") // 512²/128
    // 10k² in 2000² blocks (32 MB each): 9, 7, 5, 3 blocks are over, the last one fits
    for (k <- 0 until 4) assert(LinAlg.luStepPathFor(5, k, 2000, mb64) == "panel-shuffle")
    assert(LinAlg.luStepPathFor(5, 4, 2000, mb64) == "broadcast")
    // 40k² in 4000² blocks: one 128 MB block is already over the budget
    for (k <- 0 until 10) assert(LinAlg.luStepPathFor(10, k, 4000, mb64) == "panel-shuffle")
    assert(LinAlg.luStepPathFor(2, 1, 256, 0L) == "panel-shuffle")
  }

  test("cholStepPathFor: bench shape broadcasts throughout; production flips at the budget") {
    val mb64 = 64L << 20
    // a18's shape (nb=8, bs=256): whole panel column is 4 MB — broadcast
    // from step 0 (the r16 plan: ONE shuffle per factorization, the
    // entry partitionBy)
    for (k <- 0 until 8)
      assert(LinAlg.cholStepPathFor(8, k, 256, mb64) == "broadcast")
    // production grid (nb=32, bs=2000, 32 MB blocks): panel shuffles
    // until the trailing panel shrinks under the budget at k=30
    assert(LinAlg.cholStepPathFor(32, 29, 2000, mb64) == "panel-shuffle")
    assert(LinAlg.cholStepPathFor(32, 30, 2000, mb64) == "broadcast")
    // budget 0 pins the panel-shuffle path everywhere (the invariance-sweep knob)
    assert(LinAlg.cholStepPathFor(8, 7, 256, 0L) == "panel-shuffle")
  }

  test("blocked cholesky at 2048² chunks 256: 8 panels, checkpoint cadence crossed") {
    // 20× the reference's published 100×100/chunks-25 toy (examples.rst:89-100):
    // 8 panel steps exercise the keyed-join trailing update repeatedly AND
    // cross the default checkpointEvery=6 lineage truncation. Too big for
    // toLocal — validated distributed via the L·Lᵀ−A squared-error sum.
    val n = 2048; val bs = 256
    val b0 = DMatrix.randInt(spark, n, n, bs, 131L, mod = 10L)
    val spd = (b0.transpose.multiply(b0) + (DMatrix.eye(spark, n, bs) * (100.0 * n))).persist()
    spd.blocks.rdd.count()
    val t0 = System.nanoTime()
    val l = LinAlg.choleskyLower(spd)
    val diff = l.multiply(l.transpose) - spd
    val sqErr = diff.hadamard(diff).sum
    val sec = (System.nanoTime() - t0) / 1e9
    info(f"cholesky 2048²/256 + L·Lᵀ reconstruction: $sec%.1f s, Σdiff² = $sqErr%.3e")
    assert(sqErr < 1e-4, s"L*Lt drifted from A: sum sq err $sqErr")
    spd.unpersist()
  }

  test("solveTriangular: lower + upper, ragged blocks, multiple rhs, vs direct substitution") {
    // n NOT divisible by bs (100 / 32) to catch edge-block shape bugs;
    // r = 3 right-hand sides in one skinny block column.
    val n = 100; val bs = 32; val r = 3
    val lLocal = BDM.tabulate[Double](n, n)((i, j) =>
      if (j > i) 0.0
      else if (i == j) 50.0 + (i % 7)
      else ((i * 31 + j * 17) % 19 - 9).toDouble)
    val xTrue = BDM.tabulate[Double](n, r)((i, c) => ((i * 13 + c * 7) % 21 - 10).toDouble)
    val l = DMatrix.fromLocal(spark, lLocal, bs)
    val bLow = DMatrix.fromLocal(spark, lLocal * xTrue, bs)
    val xLow = LinAlg.solveTriangular(l, bLow, lower = true, checkpointEvery = 2)
    assert(maxAbs(xLow.toLocal - xTrue) < 1e-9)
    val uLocal = lLocal.t.copy
    val bUp = DMatrix.fromLocal(spark, uLocal * xTrue, bs)
    val xUp = LinAlg.solveTriangular(DMatrix.fromLocal(spark, uLocal, bs), bUp, lower = false)
    assert(maxAbs(xUp.toLocal - xTrue) < 1e-9)
  }

  test("solveTriangular accepts a triangle-only block set (cholesky output layout)") {
    // choleskyLower emits ONLY bi >= bj blocks — the solve must treat the
    // missing upper blocks as zeros, not crash or mis-key.
    val b0 = DMatrix.randInt(spark, 48, 48, 16, 53L, mod = 10L)
    val spd = b0.transpose.multiply(b0) + (DMatrix.eye(spark, 48, 16) * 480.0)
    val lDist = LinAlg.choleskyLower(spd, checkpointEvery = 2)
    val lLocal = lDist.toLocal
    val xTrue = BDM.tabulate[Double](48, 1)((i, _) => ((i * 11) % 17).toDouble)
    val b = DMatrix.fromLocal(spark, lLocal * xTrue, 16)
    val x = LinAlg.solveTriangular(lDist, b, lower = true)
    assert(maxAbs(x.toLocal - xTrue) < 1e-8)
  }

  test("solveSpd: cholesky + two substitutions recovers the planted solution") {
    val n = 96; val bs = 32
    val b0 = DMatrix.randInt(spark, n, n, bs, 59L, mod = 10L)
    val a = b0.transpose.multiply(b0) + (DMatrix.eye(spark, n, bs) * (10.0 * n))
    val xTrue = BDM.tabulate[Double](n, 1)((i, _) => ((i * 7) % 23).toDouble)
    val b = DMatrix.fromLocal(spark, a.toLocal * xTrue, bs)
    val x = LinAlg.solveSpd(a, b)
    assert(maxAbs(x.toLocal - xTrue) < 1e-7)
    // cross-check against Breeze's dense solve
    val xb = a.toLocal \ (a.toLocal * xTrue)
    assert(maxAbs(x.toLocal - xb) < 1e-7)
  }

  test("lu: unit-lower L, upper U, L*U = A across multiple panels and the checkpoint") {
    val n = 96; val bs = 16                          // 6 panels, crosses checkpointEvery=2
    val a = DMatrix.randInt(spark, n, n, bs, 83L, mod = 10L) +
      (DMatrix.eye(spark, n, bs) * (10.0 * n))       // strictly diagonally dominant
    val (l, u) = LinAlg.lu(a, checkpointEvery = 2)
    val lL = l.toLocal; val uL = u.toLocal
    for (i <- 0 until n; j <- 0 until n) {
      if (i == j) assert(lL(i, j) == 1.0, s"L diag at $i")
      if (j > i) assert(lL(i, j) == 0.0, s"L upper at ($i,$j)")
      if (i > j) assert(uL(i, j) == 0.0, s"U lower at ($i,$j)")
    }
    assert(maxAbs(lL * uL - a.toLocal) < 1e-7)
    // against the dense oracle: LU of a diag-dominant matrix is unique,
    // so the blocked factors must equal the sequential Doolittle ones
    val dense = a.toLocal
    val lu0 = dense.copy
    for (k <- 0 until n; i <- k + 1 until n) {
      val f = lu0(i, k) / lu0(k, k)
      lu0(i, k) = f
      for (j <- k + 1 until n) lu0(i, j) -= f * lu0(k, j)
    }
    for (i <- 0 until n; j <- 0 until n) {
      if (i > j) assert(math.abs(lL(i, j) - lu0(i, j)) < 1e-9, s"L vs dense at ($i,$j)")
      else assert(math.abs(uL(i, j) - lu0(i, j)) < 1e-7, s"U vs dense at ($i,$j)")
    }
  }

  test("wide triangular solve and inverse match Breeze") {
    val n = 64; val bs = 16
    val a = DMatrix.randInt(spark, n, n, bs, 87L, mod = 10L) +
      (DMatrix.eye(spark, n, bs) * (10.0 * n))
    val aL = a.toLocal
    // wide rhs spanning multiple block columns, incl. a ragged last one
    val rhs = DMatrix.randInt(spark, n, 40, bs, 89L, mod = 10L)
    val (l, u) = LinAlg.lu(a)
    val yWide = LinAlg.solveTriangularWide(l, rhs, lower = true)
    assert(maxAbs(l.toLocal * yWide.toLocal - rhs.toLocal) < 1e-8)
    val xWide = LinAlg.solveTriangularWide(u, yWide, lower = false)
    assert(maxAbs(aL * xWide.toLocal - rhs.toLocal) < 1e-7,
      "LU + two wide solves must solve A·X = B")
    val inv = LinAlg.inverse(a)
    assert(maxAbs(inv.toLocal - breeze.linalg.inv(aL)) < 1e-10)
    assert(maxAbs(aL * inv.toLocal - BDM.eye[Double](n)) < 1e-10)
  }

  test("short-fat svd: transpose routing, singular values match Breeze, V orthonormal") {
    val a = DMatrix.rand(spark, 24, 300, 50, 101L)
    val (u, s, v) = LinAlg.svdShortFat(a)
    val bsvd.SVD(_, sRef, _) = bsvd.reduced(a.toLocal)
    for (k <- 0 until 24) assert(math.abs(s(k) - sRef(k)) < 1e-8, s"sigma $k")
    val vL = v.toLocal
    assert(maxAbs(vL.t * vL - BDM.eye[Double](24)) < 1e-8)
    // U·Σ·Vᵀ reconstructs A
    val us = u.copy
    for (k <- 0 until 24) us(::, k) :*= s(k)
    assert(maxAbs(us * vL.t - a.toLocal) < 1e-8)
  }
}
