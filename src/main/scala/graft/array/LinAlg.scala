package graft.array

import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
import breeze.linalg.{DenseMatrix => BDM, DenseVector => BDV, qr, svd, cholesky => bchol, inv}

/** Distributed linear-algebra factorizations over [[DMatrix]] — the
  * reference's flagship workloads (SURVEY.md §2.B3):
  *   - TSQR / QR    (`da.linalg.tsqr` 262,144×128 chunks 8192×128,
  *                   /root/reference/docs/examples/examples.rst:80-82)
  *   - SVD tall-skinny (`da.linalg.svd(X)` 200k×1000, README.md:220-224)
  *   - SVD compressed / randomized (`da.linalg.svd_compressed` k=5 on
  *                   10k×10k, README.md:243-247)
  *   - blocked Cholesky (`da.linalg.cholesky(X, lower=False)`,
  *                   examples.rst:84-100)
  *   - blocked LU (`da.linalg.lu`), triangular solves, inverse
  *
  * Everything distributed is a treeAggregate, a keyed shuffle over
  * blocks, or a map over blocks against a broadcast. The driver holds
  * only factors that are small by construction or by a byte budget,
  * never a full matrix: n×n factors (R, B, U_r), svdCompressed's
  * max(m, n)×l sketch factors (l = k + oversample: ~420 MB for a 100 TB
  * square input at l = 15), and one Cholesky/LU panel when it fits
  * the broadcast budget `SPARK_GRAFT_BC_BYTES`; past that budget only
  * panel copies shuffle. That is the property that survives 100 TB.
  */
object LinAlg {

  /** Always QR — even when rows <= cols (a whole matrix fitting one
    * short/wide block): returning the raw block there would violate the
    * triangular-R contract that fixSigns and qrFactor assume.
    *
    * Big tall blocks route to [[qrR]]: breeze's qr goes through the F2j
    * LAPACK dgeqrf whose inner BLAS is scalar Java (~1.2 GFLOP/s/core —
    * it dominated the 200k×1,000 SVD flagship); qrR keeps the same
    * Householder math but feeds the trailing updates to the SIMD
    * VectorBLAS dgemm. Small/wide blocks stay on the battle-tested
    * LAPACK path, whose R is a view over the whole factored stack; it
    * is copied out, so a task ships and the driver collects n×n values,
    * not the stack's (an 8192×64 stripe's R held 524,288). */
  private[array] def triOf(m: BDM[Double]): BDM[Double] =
    if (m.rows >= m.cols && m.cols >= 128 && m.rows.toLong * m.cols >= (1L << 20)) qrR(m)
    else qr.reduced(m).r.copy

  /** R factor of a tall (m ≥ n) matrix by panel-blocked Householder QR —
    * the dgeqrf/dlarft/dlarfb decomposition with nb = 64 panels: panel
    * factorization + T-matrix formation are BLAS-2/small loops over 64
    * columns, and the trailing update C −= V·(Tᵀ·(Vᵀ·C)) — ~95% of the
    * flops — is three dgemm calls on the in-place working array (offset
    * BLAS API, no submatrix copies). Equality with LAPACK's R is up to
    * row signs and roundoff; callers normalize via [[fixSigns]] exactly
    * as for the LAPACK path. */
  private[array] def qrR(src: BDM[Double]): BDM[Double] = {
    val m = src.rows; val n = src.cols
    require(m >= n, s"qrR needs tall input ($m×$n)")
    val blas = dev.ludovic.netlib.blas.BLAS.getInstance
    val w = src.copy          // fresh contiguous column-major working copy
    val a = w.data
    val nb = 64
    val tau = new Array[Double](n)
    val twork = new Array[Double](nb * nb)
    val gwork = new Array[Double](nb)
    var j = 0
    while (j < n) {
      val jb = math.min(nb, n - j)
      val mj = m - j
      // ---- panel factorization (Householder, BLAS-2 over jb columns) ----
      var k = 0
      while (k < jb) {
        val diag = (j + k) * m + (j + k)
        val len = m - (j + k)
        var sigma = 0.0
        var i = 1
        while (i < len) { val x = a(diag + i); sigma += x * x; i += 1 }
        val alpha = a(diag)
        if (sigma == 0.0) tau(j + k) = 0.0
        else {
          val mu = math.sqrt(alpha * alpha + sigma)
          val beta = if (alpha <= 0) mu else -mu
          val t = (beta - alpha) / beta
          tau(j + k) = t
          val scale = 1.0 / (alpha - beta)
          i = 1
          while (i < len) { a(diag + i) *= scale; i += 1 }
          a(diag) = beta
          // apply H_k to the remaining panel columns
          var c = k + 1
          while (c < jb) {
            val cc = (j + c) * m + (j + k)
            var dot = a(cc)
            i = 1
            while (i < len) { dot += a(cc + i) * a(diag + i); i += 1 }
            dot *= t
            a(cc) -= dot
            i = 1
            while (i < len) { a(cc + i) -= dot * a(diag + i); i += 1 }
            c += 1
          }
        }
        k += 1
      }
      val nc = n - (j + jb)
      if (nc > 0) {
        // V: mj×jb unit-lower copy of the panel (implicit ones explicit)
        val v = new Array[Double](mj * jb)
        k = 0
        while (k < jb) {
          v(k * mj + k) = 1.0
          var i = k + 1
          while (i < mj) { v(k * mj + i) = a((j + k) * m + (j + i)); i += 1 }
          k += 1
        }
        // T (jb×jb upper, dlarft forward-columnwise):
        //   T(0:k,k) = −τ_k · T(0:k,0:k) · V(:,0:k)ᵀ v_k
        java.util.Arrays.fill(twork, 0, jb * jb, 0.0)
        k = 0
        while (k < jb) {
          val tk = tau(j + k)
          twork(k * jb + k) = tk
          if (k > 0 && tk != 0.0) {
            blas.dgemv("T", mj - k, k, 1.0, v, k, mj, v, k * mj + k, 1,
              0.0, gwork, 0, 1)
            var r = 0
            while (r < k) {
              var sum = 0.0
              var c = r
              while (c < k) { sum += twork(c * jb + r) * gwork(c); c += 1 }
              twork(k * jb + r) = -tk * sum
              r += 1
            }
          }
          k += 1
        }
        // C := C − V·Tᵀ·(Vᵀ·C) on the in-place trailing block
        val cOff = (j + jb) * m + j
        val w1 = new Array[Double](jb * nc)
        blas.dgemm("T", "N", jb, nc, mj, 1.0, v, 0, mj, a, cOff, m, 0.0, w1, 0, jb)
        val w2 = new Array[Double](jb * nc)
        blas.dgemm("T", "N", jb, nc, jb, 1.0, twork, 0, jb, w1, 0, jb, 0.0, w2, 0, jb)
        blas.dgemm("N", "N", mj, nc, jb, -1.0, v, 0, mj, w2, 0, jb, 1.0, a, cOff, m)
      }
      j += nb
    }
    val r = BDM.zeros[Double](n, n)
    var c = 0
    while (c < n) {
      var i = 0
      while (i <= c) { r(i, c) = a(c * m + i); i += 1 }
      c += 1
    }
    r
  }

  /** Flip R's row signs so the diagonal is non-negative — makes the
    * factor unique regardless of partitioning / reduction order. */
  private def fixSigns(r: BDM[Double]): BDM[Double] = {
    val out = r.copy
    var i = 0
    while (i < math.min(out.rows, out.cols)) {
      if (out(i, i) < 0) { out(i, ::) :*= -1.0 }
      i += 1
    }
    out
  }

  /** TSQR: tree-reduce per-block local QRs into one n×n R factor.
    * One pass over the data, arity-8 combiner tree, driver only ever
    * sees n×n matrices (the exact shape Wukong ran at 262,144×128).
    *
    * The tree is batched, not pairwise: each node vertcats up to 8
    * child R factors and runs ONE QR of the (8n)×n stack. Pairwise
    * stacking (the old treeAggregate combOp) costs (#children−1)
    * sequential QRs per node — at n = 1,000 (the 200k×1,000 SVD
    * flagship) that was ~30 s of serialized 2n×n QR chains; the batched
    * node is a single taller QR that the LAPACK kernel processes at the
    * same rate with ~2× fewer total flops. Tree rounds use a deliberate
    * TINY keyed shuffle (one n×n R per input partition moves): `coalesce`
    * was rejected because its narrow merge would collapse the whole
    * upstream lineage (block generation + level-0 QRs) into `groups`
    * tasks, serializing the expensive level-0 work. */
  def tsqr(a0: DMatrix): BDM[Double] = {
    // Multi-column-block layouts (the reference's square-QR example,
    // examples.rst:63-70: 128×128 chunks 16×16) rechunk to one column
    // block first — exactly what dask's da.linalg.qr requires of its
    // input; TSQR itself is defined on row stripes.
    val a = singleColBlock(a0)
    require(a.nbCols == 1, s"tsqr needs tall-skinny layout (nCols ${a.nCols} <= blockSize ${a.blockSize})")
    val arity = 8
    // Streaming within a partition: vertcat+QR one group of ≤arity at a
    // time, carrying the accumulated R — memory stays ≤ arity blocks + R
    // no matter how many blocks land in the partition (the 100 TB case).
    def qrOfGroup(it: Iterator[BDM[Double]]): Iterator[BDM[Double]] = {
      var acc: BDM[Double] = null
      it.grouped(arity).foreach { g =>
        val stack = if (acc == null) g else acc +: g
        acc = triOf(if (stack.length == 1) stack.head else BDM.vertcat(stack: _*))
      }
      if (acc == null) Iterator.empty else Iterator.single(acc)
    }
    var rs = a.rdd.map(_.toBreeze).mapPartitions(qrOfGroup)
    var width = rs.getNumPartitions
    while (width > arity) {
      val groups = math.max(1, (width + arity - 1) / arity)
      // a real (tiny: one n×n R per input partition) shuffle each round —
      // NOT coalesce: a narrow merge would collapse the whole upstream
      // lineage (block generation + level-0 QRs) into `groups` tasks.
      rs = rs.mapPartitionsWithIndex((pid, it) => it.map(r => (pid / arity, r)))
        .partitionBy(new org.apache.spark.HashPartitioner(groups))
        .values
        .mapPartitions(qrOfGroup)
      width = groups
    }
    val tops = rs.collect()
    require(tops.nonEmpty, "tsqr of an empty matrix")
    fixSigns(triOf(if (tops.length == 1) tops(0) else BDM.vertcat(tops.toIndexedSeq: _*)))
  }

  /** Rechunk to a single column block when the layout has several —
    * required by TSQR's row-stripe decomposition. The new chunk keeps
    * row stripes at least as tall as they are wide (n), so the level-0
    * local QRs stay tall. No-op on already-tall-skinny layouts. */
  private def singleColBlock(a: DMatrix): DMatrix =
    if (a.nbCols <= 1) a
    else {
      require(a.nCols <= Int.MaxValue, "QR needs nCols to fit a driver-side R")
      a.rechunk(math.max(a.blockSize, a.nCols.toInt))
    }

  /** Full QR: R via TSQR, then Q = A·R⁻¹ as a distributed narrow map
    * (R is n×n-small, broadcast inside the closure). Multi-column-block
    * inputs are rechunked to one column block first (dask-equivalent
    * behavior); Q comes back in that rechunked layout. */
  def qrFactor(a0: DMatrix): (DMatrix, BDM[Double]) = {
    val a = singleColBlock(a0)
    val r = tsqr(a)
    val rInv = inv(r)
    val qBlocks = a.rdd.map { b =>
      val q = Gemm.multiplyBDM(b.toBreeze, rInv)  // paneled: blocks are taller than the fast-dgemm regime
      b.copy(data = q.data)
    }
    (new DMatrix(qBlocks, a.nRows, a.nCols, a.blockSize, a.spark), r)
  }

  /** Driver-side SVD of a small matrix with fallbacks: the pure-Java
    * LAPACK dgesdd occasionally throws NotConverged on valid inputs —
    * retry on the transpose, then fall back to the (very robust)
    * symmetric eigendecomposition of MᵀM. */
  private[array] def robustSvd(m: BDM[Double]): svd.SVD[BDM[Double], BDV[Double]] = {
    try svd.reduced(m) catch {
      case _: breeze.linalg.NotConvergedException =>
        try {
          val svd.SVD(u2, s2, vt2) = svd.reduced(m.t)
          svd.SVD(vt2.t, s2, u2.t)
        } catch {
          case _: breeze.linalg.NotConvergedException =>
            val gram = m.t * m
            val es = breeze.linalg.eigSym(gram)
            // eigSym returns ascending; SVD wants descending
            val order = (0 until es.eigenvalues.length).sortBy(i => -es.eigenvalues(i))
            val s = BDV(order.map(i => math.sqrt(math.max(0.0, es.eigenvalues(i)))).toArray)
            val v = BDM.horzcat(order.map(i => es.eigenvectors(::, i).toDenseMatrix.t): _*)
            val u = BDM.horzcat((0 until s.length).map { j =>
              val col = if (s(j) > 1e-12) (m * v(::, j)) / s(j) else BDV.zeros[Double](m.rows)
              col.toDenseMatrix.t
            }: _*)
            svd.SVD(u, s, v.t)
        }
    }
  }

  /** Tall-skinny SVD: R = tsqr(A); svd(R) on the driver (n×n);
    * U = A·(V·S⁻¹) distributed. Returns (U, s, V). */
  def svdTallSkinny(a: DMatrix): (DMatrix, BDV[Double], BDM[Double]) = {
    val r = tsqr(a)
    val svd.SVD(uR, s, vt) = robustSvd(r)
    val v = vt.t
    // A · V · diag(1/s): one narrow map; guard tiny singular values.
    val vs = v.copy
    var j = 0
    while (j < vs.cols) {
      val inv = if (s(j) > 1e-12) 1.0 / s(j) else 0.0
      vs(::, j) :*= inv
      j += 1
    }
    val uBlocks = a.rdd.map { b =>
      val u = Gemm.multiplyBDM(b.toBreeze, vs)
      b.copy(data = u.data)
    }
    (new DMatrix(uBlocks, a.nRows, a.nCols, a.blockSize, a.spark), s, v)
  }

  /** One job over A's blocks against a local l-wide factor X: A·X for an
    * n×l X (`left` false, result m×l) or Xᵀ·A for an m×l X (`left` true,
    * result l×n). X ships as one broadcast sliced by A's block index and
    * [[DMatrix.broadcastSkinny]] multiplies map-side; only the l-wide
    * partials reduce on their way back to the driver, and A never moves. */
  private def sketchProduct(a: DMatrix, x: BDM[Double], left: Boolean): BDM[Double] = {
    val bs = a.blockSize; val l = x.cols
    // slice s holds X's rows of block index s: as l×rows (Xᵀ, left) or
    // rows×l (right), column-major
    val slices = Array.tabulate(if (left) a.nbRows else a.nbCols) { s =>
      val r0 = s * bs; val rows = DMatrix.blockDim(x.rows.toLong, bs, s)
      val xs = x(r0 until r0 + rows, ::)
      (if (left) xs.t.copy else xs.copy).data
    }
    val bc = a.spark.sparkContext.broadcast(slices)
    val outStripes = if (left) a.nbCols else a.nbRows
    val outParts = math.max(1, math.min(a.rdd.getNumPartitions, outStripes))
    val partials = DMatrix.broadcastSkinny(a.rdd, bc, l, left, outParts).collect()
    bc.unpersist(false)
    val out = if (left) BDM.zeros[Double](l, a.nCols.toInt) else BDM.zeros[Double](a.nRows.toInt, l)
    partials.foreach { case (s, data) =>
      val r0 = s * bs
      if (left) out(::, r0 until r0 + data.length / l) := new BDM(l, data.length / l, data)
      else out(r0 until r0 + data.length / l, ::) := new BDM(data.length / l, l, data)
    }
    out
  }

  /** Orthonormal basis of a local tall matrix by Householder QR, with the
    * [[fixSigns]] normalization moved onto Q's columns: R's diagonal is
    * non-negative, so Q is unique for a full-rank input. */
  private def orthonormalCols(y: BDM[Double]): BDM[Double] = {
    val qr.QR(q, r) = qr.reduced(y)
    var i = 0
    while (i < r.cols) {
      if (r(i, i) < 0) q(::, i) :*= -1.0
      i += 1
    }
    q
  }

  /** Randomized (compressed) SVD — the reference's `svd_compressed(X, k)`
    * on square-ish matrices: project onto a seeded random n×(k+p) sketch,
    * orthonormalize, form B = Qᵀ·A, finish with a local SVD of B.
    *
    * The l-wide factors Ω, Y, Q, Z and B are local Breeze matrices on the
    * driver: max(m, n)·l doubles, 400 KB at the a16 flagship (10k², l = 5)
    * and about 420 MB for a 100 TB square input at l = 15. Each product
    * with A is ONE job ([[sketchProduct]]): the factor broadcasts, A's
    * resident blocks multiply map-side and only l-wide partials come
    * back, so the fat matrix never crosses an exchange. Each QR is a
    * local Householder QR and U = Q·U_B returns through
    * [[DMatrix.fromLocal]] — 2 + 2·nPowerIter jobs in all, nothing
    * cached. */
  def svdCompressed(a: DMatrix, k: Int, oversample: Int = 10, seed: Long = 1234L,
                    nPowerIter: Int = 2): (DMatrix, BDV[Double], BDM[Double]) = {
    val l = math.min(k + oversample, math.min(a.nRows, a.nCols).toInt)
    require(math.max(a.nRows, a.nCols) * l <= Int.MaxValue,
      "the l-wide sketch factors must fit driver arrays")
    val omega = BDM.tabulate(a.nCols.toInt, l)(
      (i, j) => DMatrix.mixedUniform(i.toLong, j.toLong, l, seed) - 0.5)
    var q = orthonormalCols(sketchProduct(a, omega, left = false))    // m × l
    // subspace (power) iteration — dask's n_power_iter: Z = AᵀQ is the
    // transpose of the Qᵀ·A pass
    var t = 0
    while (t < nPowerIter) {
      val qz = orthonormalCols(sketchProduct(a, q, left = true).t.copy) // n × l
      q = orthonormalCols(sketchProduct(a, qz, left = false))
      t += 1
    }
    val b = sketchProduct(a, q, left = true)                         // l × n
    val svd.SVD(uB, s, vt) = robustSvd(b)
    val u = q * uB(::, 0 until k)
    (DMatrix.fromLocal(a.spark, u, a.blockSize),
     s(0 until k).copy, vt(0 until k, ::).t.copy)
  }

  /** Which path step k of an nb-step blocked Cholesky takes, as a pure
    * function of the grid (unit-testable — LinAlgSpec pins the bench
    * shape to broadcast throughout and the production shape to a
    * panel-shuffle→broadcast flip, so a budget tweak cannot silently
    * change a plan; same discipline as [[DMatrix.multiplyPathFor]]). The
    * panel at step k is column k: (nb−k) blocks of bs²·8 bytes. */
  private[graft] def cholStepPathFor(nb: Int, k: Int, bs: Int, budget: Long): String =
    if (panelFits(nb - k, bs, budget)) "broadcast" else "panel-shuffle"

  /** [[cholStepPathFor]]'s rule for [[lu]]: step k's panel is column k
    * (nb−k blocks) plus row k (nb−k−1 blocks). */
  private[graft] def luStepPathFor(nb: Int, k: Int, bs: Int, budget: Long): String =
    if (panelFits(2 * (nb - k) - 1, bs, budget)) "broadcast" else "panel-shuffle"

  /** The shared step budget: a panel of `panelBlocks` bs×bs blocks
    * broadcasts when its dense bytes fit `budget`. */
  private def panelFits(panelBlocks: Int, bs: Int, budget: Long): Boolean =
    panelBlocks.toLong * bs * bs * 8 <= budget

  /** Step k of a blocked factorization, built on the driver from the
    * diagonal block: `solve` maps a state block to its value after the
    * panel solve (the diagonal block becomes its factor, the other panel
    * blocks their solved panels, every other block passes through). One
    * object serves both step paths, so a panel is bit-identical whether
    * the driver or an executor solved it. */
  private[array] sealed trait PanelStep extends Serializable {
    def solve(b: Block): Block
  }

  /** What one blocked right-looking factorization adds to
    * [[factorSteps]], the step driver [[choleskyLower]] and [[lu]] share.
    * Step k's panel is block column k from the diagonal down plus, where
    * the state keeps it, block row k right of the diagonal. Trailing
    * block (i, j), i, j > k, is updated from the panel blocks (i, k) and
    * `right(i, j, k)`. */
  private[array] sealed trait Factorization[R] extends Serializable {
    /** The triangle of block keys the state keeps. */
    def keep(i: Int, j: Int): Boolean
    /** The pure step-path rule: `broadcast` or `panel-shuffle`. */
    def stepPath(nb: Int, k: Int, bs: Int, budget: Long): String
    /** Factors step k's diagonal block. */
    def step(k: Int, diag: Block): PanelStep
    /** The second panel block trailing block (i, j) reads at step k. */
    def right(i: Int, j: Int, k: Int): (Int, Int)
    /** The trailing keys whose update reads panel block p at step k. */
    def feeds(p: Block, k: Int, nb: Int): Iterator[(Int, Int)]
    /** b − l·r, the trailing-update dgemm (α = −1, β = 1). */
    def update(b: Block, l: Block, r: Block): Block
    /** The factor(s), from the final state. */
    def unpack(state: RDD[((Int, Int), Block)], a: DMatrix): R

    /** [[update]], where an absent (null) panel block is zero. */
    final def trail(b: Block, l: Block, r: Block): Block =
      if (l == null || r == null) b else update(b, l, r)
  }

  /** The block keys a factorization's state holds: A's kept keys, every
    * diagonal key, and the fill-in. A trailing key (i, j) fills in at
    * step k when both panel blocks its update reads are held, so the
    * pattern is symbolic elimination over the growing pattern on the
    * nb×nb key grid, not one pass over A's keys. Every other key stays
    * zero through every step and is never stored: a block-diagonal input
    * factors block by block. Pure; runs on the driver. */
  private[array] def fillPattern(f: Factorization[_], nb: Int,
                                 present: Iterable[(Int, Int)]): Set[(Int, Int)] = {
    val held = Array.ofDim[Boolean](nb, nb)
    present.foreach { case (i, j) => held(i)(j) = true }
    for (d <- 0 until nb) held(d)(d) = true
    for (k <- 0 until nb; i <- k + 1 until nb if held(i)(k); j <- k + 1 until nb
         if f.keep(i, j) && !held(i)(j)) {
      val (ri, rj) = f.right(i, j, k)
      held(i)(j) = held(ri)(rj)
    }
    (for (i <- 0 until nb; j <- 0 until nb if held(i)(j)) yield (i, j)).toSet
  }

  /** The step loop of a blocked right-looking factorization: nb
    * sequential panel steps — inherently iterative, exactly as the
    * reference ran it (deep DAG) — over a block-key state that lives on
    * ONE fixed partitioner from its entry shuffle to its unpack.
    *  - Entry: A's kept blocks shuffle once onto `part`. The job that
    *    reads them back returns every key and the blocks step 0 reads on
    *    the driver; each partition then adds the [[fillPattern]] keys it
    *    owns as zero blocks, which adds no job.
    *  - Step k takes the path `f.stepPath` picks for `budget`. On
    *    `broadcast` the driver factors the diagonal block, solves the
    *    panel and broadcasts it, and the trailing update is one narrow
    *    `mapValues`. On `panel-shuffle` the driver factors only the
    *    diagonal block, the executors solve the panel, and one copy of a
    *    panel block ships to each partition holding a trailing block it
    *    feeds; the trailing update is a narrow `zipPartitions` against
    *    those copies. The state never leaves its partitioner.
    *  - One job materializes step k and collects what step k+1 reads on
    *    the driver: its whole panel when it broadcasts, else its diagonal
    *    block. A factorization runs nb + 1 jobs on either path.
    *  - Lineage is truncated with localCheckpoint every
    *    `checkpointEvery` steps (SURVEY §7.5 known-hard #5).
    * An absent panel block is zero, so the updates it would feed are
    * skipped. Both paths solve with the same [[PanelStep]] and update
    * with the same dgemm, so the factors are bit-identical across budgets
    * (LinAlgSpec pins budget 0, a mid-run flip and ∞). */
  private[array] def factorSteps[R](a: DMatrix, f: Factorization[R], part: TilePartitioner,
                                    checkpointEvery: Int, budget: Long): R = {
    val sc = a.spark.sparkContext
    val nb = a.nbRows; val n = a.nRows; val bs = a.blockSize
    def broadcasts(k: Int): Boolean = f.stepPath(nb, k, bs, budget) == "broadcast"
    // the keys step k reads on the driver
    def driverKeys(k: Int): ((Int, Int)) => Boolean =
      if (k >= nb) _ => false
      else if (broadcasts(k)) { case (i, j) => (j == k && i >= k) || (i == k && j > k) }
      else _ == ((k, k))
    val entry = a.rdd.filter(b => f.keep(b.bi, b.bj)).map(b => ((b.bi, b.bj), b))
      .partitionBy(part).cache()
    val need0 = driverKeys(0)
    val keyed = entry.map { case (key, b) => key -> Option.when(need0(key))(b) }.collect()
    val present = keyed.map(_._1)
    val fill = (fillPattern(f, nb, present) -- present).toArray
    def zero(i: Int, j: Int): Block = {
      val rows = DMatrix.blockDim(n, bs, i); val cols = DMatrix.blockDim(n, bs, j)
      Block(i, j, rows, cols, new Array[Double](rows * cols))
    }
    var state = entry.mapPartitionsWithIndex({ (pid, it) =>
      it ++ fill.iterator.filter(part.getPartition(_) == pid).map { case (i, j) => (i, j) -> zero(i, j) }
    }, preservesPartitioning = true)
    var got: Map[(Int, Int), Block] = keyed.collect { case (key, Some(b)) => key -> b }.toMap
    var prev: RDD[_] = entry
    for (k <- 0 until nb) {
      // A lacks (0, 0) only when A_00 is zero; the factorization then fails on it
      val step = f.step(k, got.getOrElse((k, k), zero(k, k)))
      var bcRelease: org.apache.spark.broadcast.Broadcast[_] = null
      val next0 =
        if (broadcasts(k)) {
          val bcPanel = sc.broadcast(got.map { case (key, b) => key -> step.solve(b) })
          bcRelease = bcPanel
          state.mapValues { b =>
            val p = bcPanel.value
            if (b.bi > k && b.bj > k)
              f.trail(b, p.getOrElse((b.bi, k), null), p.getOrElse(f.right(b.bi, b.bj, k), null))
            else p.getOrElse((b.bi, b.bj), b)   // a solved panel block, or a finalized one
          }
        } else {
          val updated = state.mapValues(step.solve)
          // one copy of a panel block per partition holding a trailing
          // block it feeds, keyed by one of those trailing blocks
          val copies = updated.values.flatMap { p =>
            f.feeds(p, k, nb).map(key => part.getPartition(key) -> key).toMap
              .valuesIterator.map(_ -> p)
          }.partitionBy(part)
          updated.zipPartitions(copies, preservesPartitioning = true) { (stateIt, copyIt) =>
            val panel = new java.util.HashMap[(Int, Int), Block]()
            copyIt.foreach { case (_, p) => panel.put((p.bi, p.bj), p) }
            stateIt.map { case (key, b) =>
              if (b.bi > k && b.bj > k)
                key -> f.trail(b, panel.get((b.bi, k)), panel.get(f.right(b.bi, b.bj, k)))
              else key -> b
            }
          }
        }
      var next = next0
      if ((k + 1) % checkpointEvery == 0) next.localCheckpoint()
      next = next.cache()
      val need = driverKeys(k + 1)
      got = next.filter { case (key, _) => need(key) }.collect().toMap
      // executor copies released now that `next` is materialized; the
      // driver keeps the value, so a cache-evicted partition can still
      // recompute (unpersist, never destroy)
      if (bcRelease != null) bcRelease.unpersist(false)
      prev.unpersist(false)
      prev = next
      state = next
    }
    f.unpack(state, a)
  }

  /** A diagonal block's lower (or upper) triangle, the rest zeroed;
    * `unit` sets its diagonal to 1. */
  private def triangleOf(b: Block, lower: Boolean, unit: Boolean): Block = {
    val out = b.data.clone()
    var j = 0
    while (j < b.cols) {
      var i = 0
      while (i < b.rows) {
        if (if (lower) j > i else i > j) out(i + j * b.rows) = 0.0
        else if (unit && i == j) out(i + j * b.rows) = 1.0
        i += 1
      }
      j += 1
    }
    b.copy(data = out)
  }

  /** Step k of [[choleskyLower]]: L_kk = chol(A_kk) on the diagonal and
    * L_ik = A_ik·L_kk⁻ᵀ below it. */
  private final case class CholStep(k: Int, lkk: Array[Double], invLkkT: BDM[Double])
      extends PanelStep {
    def solve(b: Block): Block =
      if (b.bi == k && b.bj == k) b.copy(data = lkk)
      else if (b.bj == k && b.bi > k) b.copy(data = (b.toBreeze * invLkkT).data)
      else b
  }

  /** [[choleskyLower]]'s part of [[factorSteps]]: the lower triangle,
    * and A_ij −= L_ik·L_jkᵀ. */
  private[array] object Cholesky extends Factorization[DMatrix] {
    def keep(i: Int, j: Int): Boolean = i >= j
    def stepPath(nb: Int, k: Int, bs: Int, budget: Long): String = cholStepPathFor(nb, k, bs, budget)
    def step(k: Int, diag: Block): PanelStep = {
      val lkk = bchol(new BDM(diag.rows, diag.cols, diag.data))
      CholStep(k, lkk.data, inv(lkk.t))
    }
    def right(i: Int, j: Int, k: Int): (Int, Int) = (j, k)
    // L_ik is the left factor of (i, j) for k < j ≤ i, the right one of (j, i) for j ≥ i
    def feeds(p: Block, k: Int, nb: Int): Iterator[(Int, Int)] =
      if (p.bj != k || p.bi <= k) Iterator.empty
      else Iterator.range(k + 1, p.bi + 1).map(j => (p.bi, j)) ++
        Iterator.range(p.bi, nb).map(j => (j, p.bi))
    /** An explicit small transpose of r: breeze's implicit-T multiply
      * would hit the >1024 JVM-dgemm cliff at production block sizes
      * (Gemm scaladoc). */
    def update(b: Block, l: Block, r: Block): Block = {
      val ck = l.cols
      val out = b.data.clone()
      Gemm.dgemm(b.rows, b.cols, ck, -1.0, l.data, 0, l.rows,
        r.transpose.data, 0, ck, 1.0, out, 0, b.rows)
      b.copy(data = out)
    }
    def unpack(state: RDD[((Int, Int), Block)], a: DMatrix): DMatrix = {
      val lower = state.values.map(b => if (b.bi == b.bj) triangleOf(b, lower = true, unit = false) else b)
      new DMatrix(lower, a.nRows, a.nCols, a.blockSize, a.spark)
    }
  }

  /** Blocked right-looking Cholesky (reference `da.linalg.cholesky`,
    * examples.rst:84-100) on [[factorSteps]]: per step, local chol of the
    * bs×bs diagonal block, panel solve, rank-bs trailing update over the
    * lower triangle. Returns the lower factor L.
    *
    * The state lives on a FIXED block→tile partitioner (measurements of
    * the old two-join update, which moved nb³·bs²-law bytes, are in
    * BENCH_NOTES.md). Keys of one t×t tile land in one partition, so a
    * panel copy serves a whole tile row or column: panel traffic per
    * shuffled step falls as 1/t, the SUMMA replication law. A step
    * broadcasts its panel when column k fits the broadcast budget
    * (`SPARK_GRAFT_BC_BYTES`, default 64 MB — [[cholStepPathFor]]), so a
    * production factorization starts on panel shuffles and flips to
    * broadcast as the trailing panel shrinks under the budget. */
  def choleskyLower(a: DMatrix, checkpointEvery: Int = 6,
                    bcBudgetOverride: Option[Long] = None): DMatrix = {
    require(a.nRows == a.nCols, "cholesky needs a square matrix")
    val nb = a.nbRows
    val slots = a.spark.sparkContext.defaultParallelism
    // Tile width: largest t whose step-0 trailing tile grid still fills
    // ≥¾ of a wave (same rule as the GEMM tiles). Small grids keep t=1
    // (parallelism over traffic — the whole factorization is sub-second
    // there), production-depth grids (nb ≳ 16) get t ≥ 2.
    val tile = Seq(4, 2, 1).find { t =>
      val g = (nb + t - 1) / t
      g.toLong * (g + 1) / 2 >= math.max(1, (slots * 3) / 4)
    }.getOrElse(1)
    val gT = (nb + tile - 1) / tile
    val part = new TilePartitioner(math.max(2, math.min(slots, gT * (gT + 1) / 2)), tile)
    factorSteps(a, Cholesky, part, checkpointEvery, bcBudgetOverride.getOrElse(DMatrix.bcBytes))
  }

  /** SVD of a SHORT-FAT matrix (m < n) — dask's `da.linalg.svd` routes
    * this shape through the transpose exactly like this: Aᵀ is
    * tall-skinny, Aᵀ = U'·Σ·V'ᵀ, so A = V'·Σ·U'ᵀ. The big (n-sized)
    * factor stays distributed — it is U' of the transposed problem —
    * and only the m×m-small left factor lives on the driver. */
  def svdShortFat(a: DMatrix): (BDM[Double], BDV[Double], DMatrix) = {
    require(a.nRows < a.nCols, s"svdShortFat needs a wide input (${a.nRows}×${a.nCols})")
    val (uT, s, vT) = svdTallSkinny(a.transpose)
    (vT, s, uT)
  }

  /** Local Doolittle LU (no pivoting) of a bs×bs tile: returns (L unit
    * lower, U upper). Callers guarantee a diagonally-dominant input, the
    * same contract dask's `da.linalg.lu` documents (it refuses to pivot
    * across chunk boundaries). */
  private def localLu(m: BDM[Double]): (BDM[Double], BDM[Double]) = {
    val n = m.rows
    val a = m.copy
    var k = 0
    while (k < n) {
      val piv = a(k, k)
      var i = k + 1
      while (i < n) {
        val f = a(i, k) / piv
        a(i, k) = f
        var j = k + 1
        while (j < n) { a(i, j) -= f * a(k, j); j += 1 }
        i += 1
      }
      k += 1
    }
    val l = BDM.eye[Double](n)
    val u = BDM.zeros[Double](n, n)
    var j = 0
    while (j < n) {
      var i = 0
      while (i < n) {
        if (i > j) l(i, j) = a(i, j) else u(i, j) = a(i, j)
        i += 1
      }
      j += 1
    }
    (l, u)
  }

  /** Step k of [[lu]]: L_ik = A_ik·U_kk⁻¹ below the diagonal, U_kj =
    * L_kk⁻¹·A_kj right of it, and the packed Doolittle tile
    * (strict-lower L_kk + U_kk) on it. */
  private final case class LuStep(k: Int, packed: Array[Double],
                                  invLkk: BDM[Double], invUkk: BDM[Double]) extends PanelStep {
    def solve(b: Block): Block =
      if (b.bi == k && b.bj == k) b.copy(data = packed)
      else if (b.bj == k && b.bi > k) b.copy(data = (b.toBreeze * invUkk).data)
      else if (b.bi == k && b.bj > k) b.copy(data = (invLkk * b.toBreeze).data)
      else b
  }

  /** [[lu]]'s part of [[factorSteps]]: the full square, and
    * A_ij −= L_ik·U_kj. */
  private[array] object Lu extends Factorization[(DMatrix, DMatrix)] {
    def keep(i: Int, j: Int): Boolean = true
    def stepPath(nb: Int, k: Int, bs: Int, budget: Long): String = luStepPathFor(nb, k, bs, budget)
    def step(k: Int, diag: Block): PanelStep = {
      val (lkk, ukk) = localLu(diag.toBreeze)
      val packed = ukk.copy
      var j = 0
      while (j < packed.cols) {
        var i = j + 1
        while (i < packed.rows) { packed(i, j) = lkk(i, j); i += 1 }
        j += 1
      }
      LuStep(k, packed.data, inv(lkk), inv(ukk))
    }
    def right(i: Int, j: Int, k: Int): (Int, Int) = (k, j)
    // L_ik feeds row i of the trailing square, U_kj its column j
    def feeds(p: Block, k: Int, nb: Int): Iterator[(Int, Int)] =
      if (p.bj == k && p.bi > k) Iterator.range(k + 1, nb).map(j => (p.bi, j))
      else if (p.bi == k && p.bj > k) Iterator.range(k + 1, nb).map(i => (i, p.bj))
      else Iterator.empty
    def update(b: Block, l: Block, r: Block): Block = {
      val out = b.data.clone()
      Gemm.dgemm(b.rows, b.cols, l.cols, -1.0, l.data, 0, l.rows,
        r.data, 0, r.rows, 1.0, out, 0, b.rows)
      b.copy(data = out)
    }
    /** (L unit-lower, U upper) as block sets over their triangles. */
    def unpack(state: RDD[((Int, Int), Block)], a: DMatrix): (DMatrix, DMatrix) = {
      val lBlocks = state.values.filter(b => b.bi >= b.bj)
        .map(b => if (b.bi == b.bj) triangleOf(b, lower = true, unit = true) else b)
      val uBlocks = state.values.filter(b => b.bi <= b.bj)
        .map(b => if (b.bi == b.bj) triangleOf(b, lower = false, unit = false) else b)
      (new DMatrix(lBlocks, a.nRows, a.nCols, a.blockSize, a.spark),
       new DMatrix(uBlocks, a.nRows, a.nCols, a.blockSize, a.spark))
    }
  }

  /** Blocked right-looking LU without pivoting — dask `da.linalg.lu`
    * (dask also factorizes blockwise with no cross-chunk pivoting and
    * documents the square-chunked, well-conditioned contract) — on
    * [[factorSteps]] over the full square, t = 1. A step broadcasts its
    * panel (column k plus row k, (2(nb−k)−1)·bs²·8 bytes) when it fits
    * the broadcast budget (`SPARK_GRAFT_BC_BYTES`, default 64 MB —
    * [[luStepPathFor]]). Returns (L unit-lower, U upper) as block sets
    * over their triangles. */
  def lu(a: DMatrix, checkpointEvery: Int = 6,
         bcBudgetOverride: Option[Long] = None): (DMatrix, DMatrix) = {
    require(a.nRows == a.nCols, "lu needs a square matrix")
    val nb = a.nbRows
    val parts = math.max(2, math.min(a.spark.sparkContext.defaultParallelism, nb * nb))
    factorSteps(a, Lu, new TilePartitioner(parts, 1), checkpointEvery,
      bcBudgetOverride.getOrElse(DMatrix.bcBytes))
  }

  /** Dense bs×bs-local forward/back substitution: solve T·X = rhs for a
    * triangular T (column-major loops, r right-hand sides). */
  private[array] def localTriSolve(t: BDM[Double], rhs: BDM[Double],
                                   lower: Boolean): BDM[Double] = {
    val n = t.rows; val r = rhs.cols
    val x = rhs.copy
    var c = 0
    while (c < r) {
      if (lower) {
        var i = 0
        while (i < n) {
          var acc = x(i, c)
          var k = 0
          while (k < i) { acc -= t(i, k) * x(k, c); k += 1 }
          x(i, c) = acc / t(i, i)
          i += 1
        }
      } else {
        var i = n - 1
        while (i >= 0) {
          var acc = x(i, c)
          var k = i + 1
          while (k < n) { acc -= t(i, k) * x(k, c); k += 1 }
          x(i, c) = acc / t(i, i)
          i -= 1
        }
      }
      c += 1
    }
    x
  }

  /** Distributed blocked triangular solve: X with T·X = B for a
    * triangular factor T (n×n, DMatrix-chunked) and a skinny rhs B
    * (n×r, r ≤ blockSize) — dask's `da.linalg.solve_triangular`, and
    * the substitution half of `da.linalg.solve` (see [[solveSpd]]).
    *
    * Shape: nb sequential substitution steps (inherently ordered, like
    * [[choleskyLower]]'s panels). Per step k only TWO tiny driver
    * transfers happen — the bs×r residual block k and the bs×bs diagonal
    * block — and the distributed work is one map over T's block column k
    * producing ≤ nb bs×r contribution blocks that join the residual
    * NARROWLY (both sides share the same hash partitioner, so the n×r
    * residual never reshuffles). The factor is pre-partitioned ONE block
    * column per partition and each step reads exactly its column via
    * PartitionPruningRDD — T is scanned once across the whole solve, not
    * once per step. Driver memory stays O(bs·(bs+r)); the full X never
    * materializes on the driver. That is the 100 TB-shaped property:
    * traffic is one pass over the triangle + nb·r·bs of residual deltas.
    *
    * The solved X comes back as a DMatrix in B's chunking. */
  def solveTriangular(t: DMatrix, b: DMatrix, lower: Boolean = true,
                      checkpointEvery: Int = 6): DMatrix = {
    require(t.nRows == t.nCols, "solveTriangular needs a square factor")
    require(b.nRows == t.nRows, s"dimension mismatch: ${t.nRows}x${t.nCols} vs rhs ${b.nRows}")
    require(b.nbCols == 1, "rhs must fit one block column (skinny solve)")
    require(b.blockSize == t.blockSize, "rhs must share the factor's chunking")
    val spark = t.spark
    val bs = t.blockSize
    val nb = t.nbRows
    val nParts = math.max(2, math.min(spark.sparkContext.defaultParallelism, nb))
    // one partition per block column of the relevant triangle (Int key k
    // hashes to partition k under HashPartitioner(nb))
    val tByCol = t.rdd
      .filter(blk => if (lower) blk.bi >= blk.bj else blk.bi <= blk.bj)
      .map(blk => (blk.bj, blk))
      .partitionBy(new org.apache.spark.HashPartitioner(nb))
      .cache()
    tByCol.count()
    val part = new org.apache.spark.HashPartitioner(nParts)
    var state = b.rdd.map(blk => (blk.bi, blk)).partitionBy(part).cache()
    state.count()
    var prev = state
    val order = if (lower) 0 until nb else (nb - 1) to 0 by -1
    var step = 0
    for (k <- order) {
      val colRdd = org.apache.spark.rdd.PartitionPruningRDD.create(tByCol, _ == k)
      val diag = colRdd.filter(_._2.bi == k).values.first()
      val bk = org.apache.spark.rdd.PartitionPruningRDD
        .create(state, _ == part.getPartition(k))
        .filter(_._1 == k).values.first()
      val xk = localTriSolve(diag.toBreeze, bk.toBreeze, lower)
      val xkBlock = bk.copy(data = xk.data)
      val xkRows = xk.rows; val xkCols = xk.cols; val xkData = xk.data
      // contribution blocks: T's column k (off-diagonal triangle part)
      // times the just-solved X_k — ≤ nb−1 blocks of bs×r, re-keyed to
      // the residual's partitioner so the join below is narrow
      val contribs = colRdd.values
        .filter(blk => if (lower) blk.bi > k else blk.bi < k)
        .map { blk =>
          val c = Gemm.multiplyBDM(blk.toBreeze, new BDM(xkRows, xkCols, xkData))
          (blk.bi, c.data)
        }
        .partitionBy(part)
      val joined = state.leftOuterJoin(contribs, part)
        .mapPartitions(_.map { case (bi, (blk, cdOpt)) =>
          if (bi == k) (bi, xkBlock)
          else cdOpt match {
            case Some(cd) =>
              val out = blk.data.clone()
              var i = 0
              while (i < out.length) { out(i) -= cd(i); i += 1 }
              (bi, blk.copy(data = out))
            case None => (bi, blk)
          }
        }, preservesPartitioning = true)
      if ((step + 1) % checkpointEvery == 0) joined.localCheckpoint()
      val cached = joined.cache()
      cached.count()               // materialize before dropping the parent
      prev.unpersist(false)
      prev = cached
      state = cached
      step += 1
    }
    tByCol.unpersist(false)
    new DMatrix(state.values, b.nRows, b.nCols, bs, spark)
  }

  /** General (multi-block-column) triangular solve: T·X = B where B is
    * n×r with r spanning several block columns — the rhs shape
    * `da.linalg.inv` needs (B = I is n wide). Each rhs block column is
    * an INDEPENDENT skinny solve chain, so they run as concurrent Spark
    * job chains from a small driver pool (dask's task graph gets the
    * same cross-column parallelism); results reassemble by restoring
    * the column index — wall-clock stays ~nb sequential steps, not
    * nb·nbCols. At fixture scale each chain caches its own triangle
    * pass; a shared-factor variant would be the next optimization if
    * wide solves became hot. */
  def solveTriangularWide(t: DMatrix, b: DMatrix, lower: Boolean = true): DMatrix = {
    if (b.nbCols == 1) return solveTriangular(t, b, lower)
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration.Duration
    val spark = t.spark
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(4, b.nbCols))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val bs = b.blockSize
      val futures = (0 until b.nbCols).map { bj =>
        Future {
          val width = DMatrix.blockDim(b.nCols, bs, bj)
          val colBlocks = b.rdd.filter(blk => blk.bj == bj).map(blk => blk.copy(bj = 0))
          val col = new DMatrix(colBlocks, b.nRows, width, bs, spark)
          // stays distributed: re-tag the column index on the solved
          // blocks (the X column never visits the driver)
          solveTriangular(t, col, lower).rdd.map(blk => blk.copy(bj = bj))
        }
      }
      val all = futures.map(f => Await.result(f, Duration.Inf)).reduce(_ union _)
      new DMatrix(all, b.nRows, b.nCols, bs, spark)
    } finally pool.shutdown()
  }

  /** Matrix inverse — dask `da.linalg.inv(a)` (dask routes through its
    * blocked LU + triangular solves exactly like this): A⁻¹ solves
    * A·X = I via [[lu]] then two wide triangular solves. Note the
    * honest scale envelope: an explicit inverse is a DENSE n² result by
    * definition (same in dask) — the factor-and-solve path above is
    * what survives when only A⁻¹·b is needed. */
  def inverse(a: DMatrix): DMatrix = {
    require(a.nRows == a.nCols, "inverse needs a square matrix")
    val (l, u) = lu(a)
    val eye = DMatrix.eye(a.spark, a.nRows, a.blockSize)
    val y = solveTriangularWide(l, eye, lower = true)    // L·Y = I
    solveTriangularWide(u, y, lower = false)             // U·X = Y
  }

  /** SPD linear solve — dask's `da.linalg.solve` default path: Cholesky
    * A = L·Lᵀ, then two distributed triangular substitutions
    * (L·y = B forward, Lᵀ·x = y backward). Everything stays blocked and
    * distributed; the driver only ever touches bs-sized tiles. */
  def solveSpd(a: DMatrix, b: DMatrix): DMatrix = {
    val l = LinAlg.choleskyLower(a)
    val y = solveTriangular(l, b, lower = true)
    solveTriangular(l.transpose, y, lower = false)
  }
}

/** (bi, bj) → the partition of its t×t tile: the one fixed partitioner a
  * blocked factorization's state, and the panel copies that meet it,
  * share (keys of one tile land together). */
private class TilePartitioner(parts: Int, tile: Int) extends Partitioner {
  def numPartitions: Int = parts
  def getPartition(key: Any): Int = key match {
    case (i: Int, j: Int) => java.lang.Math.floorMod((i / tile) * 131071 + (j / tile), parts)
    case other => throw new IllegalArgumentException(s"unexpected key $other")
  }
}
