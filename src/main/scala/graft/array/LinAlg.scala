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
  * `SPARK_GRAFT_CHOL_BC_BYTES`; past that budget only panel copies
  * shuffle. That is the property that survives 100 TB.
  */
object LinAlg {

  /** Stack two R factors (or a partial stripe) and re-QR — the TSQR
    * combiner step. */
  private def stackR(top: BDM[Double], bot: BDM[Double]): BDM[Double] = {
    if (top == null && bot == null) return null   // two empty partitions
    if (top == null) return triOf(bot)
    if (bot == null) return triOf(top)
    val stacked = BDM.vertcat(top, bot)
    qr.reduced(stacked).r
  }

  /** Always QR — even when rows <= cols (a whole matrix fitting one
    * short/wide block): returning the raw block there would violate the
    * triangular-R contract that fixSigns and qrFactor assume.
    *
    * Big tall blocks route to [[qrR]]: breeze's qr goes through the F2j
    * LAPACK dgeqrf whose inner BLAS is scalar Java (~1.2 GFLOP/s/core —
    * it dominated the 200k×1,000 SVD flagship); qrR keeps the same
    * Householder math but feeds the trailing updates to the SIMD
    * VectorBLAS dgemm. Small/wide blocks stay on the battle-tested
    * LAPACK path. */
  private def triOf(m: BDM[Double]): BDM[Double] =
    if (m.rows >= m.cols && m.cols >= 128 && m.rows.toLong * m.cols >= (1L << 20)) qrR(m)
    else qr.reduced(m).r

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
    var rs = a.blocks.rdd.map(_.toBreeze).mapPartitions(qrOfGroup)
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
    import a.blocks.sparkSession.implicits._
    val qBlocks = a.blocks.map { b =>
      val q = Gemm.multiplyBDM(b.toBreeze, rInv)  // paneled: blocks are taller than the fast-dgemm regime
      b.copy(data = q.data)
    }
    (new DMatrix(qBlocks, a.nRows, a.nCols, a.blockSize), r)
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
    import a.blocks.sparkSession.implicits._
    val uBlocks = a.blocks.map { b =>
      val u = Gemm.multiplyBDM(b.toBreeze, vs)
      b.copy(data = u.data)
    }
    (new DMatrix(uBlocks, a.nRows, a.nCols, a.blockSize), s, v)
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
    val bc = a.blocks.sparkSession.sparkContext.broadcast(slices)
    val outStripes = if (left) a.nbCols else a.nbRows
    val outParts = math.max(1, math.min(a.blocks.rdd.getNumPartitions, outStripes))
    val partials = DMatrix.broadcastSkinny(a.blocks.rdd, bc, l, left, outParts).collect()
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
    (DMatrix.fromLocal(a.blocks.sparkSession, u, a.blockSize),
     s(0 until k).copy, vt(0 until k, ::).t.copy)
  }

  /** Which path step k of an nb-step blocked factorization takes, as a
    * pure function of the grid (unit-testable — LinAlgSpec pins the
    * bench shape to broadcast throughout and the production shape to a
    * tile→broadcast flip, so a budget tweak cannot silently change a
    * plan; same discipline as [[DMatrix.multiplyPathFor]]). The panel
    * column at step k is (nb−k) blocks of bs²·8 bytes. */
  private[graft] def cholStepPathFor(nb: Int, k: Int, bs: Int, budget: Long): String =
    if (panelFits(nb - k, bs, budget)) "broadcast" else "tile-shuffle"

  /** [[cholStepPathFor]]'s rule for [[lu]]: step k's panel is column k
    * (nb−k blocks) plus row k (nb−k−1 blocks). */
  private[graft] def luStepPathFor(nb: Int, k: Int, bs: Int, budget: Long): String =
    if (panelFits(2 * (nb - k) - 1, bs, budget)) "broadcast" else "panel-shuffle"

  /** The shared step budget: a panel of `panelBlocks` bs×bs blocks
    * broadcasts when its dense bytes fit `budget`. */
  private def panelFits(panelBlocks: Int, bs: Int, budget: Long): Boolean =
    panelBlocks.toLong * bs * bs * 8 <= budget

  /** Step budget of the blocked factorizations: `SPARK_GRAFT_CHOL_BC_BYTES`,
    * default 64 MB. */
  private def factorBcBytes: Long =
    sys.env.get("SPARK_GRAFT_CHOL_BC_BYTES").map(_.toLong).getOrElse(64L << 20)

  /** Block-key state of a blocked factorization: A's blocks that `keep`
    * selects, keyed by (bi, bj), in ONE shuffle onto `part` — plus an
    * all-zero block for every kept key A lacks. An absent block is zero
    * in A but not in its factors: a trailing update L_ik·L_jkᵀ (or
    * L_ik·U_kj) fills it in, so it must exist to receive that update.
    * Each partition adds the missing keys it owns after reading its
    * shuffle input, so the fill adds no stage and no job. */
  private def factorState(a: DMatrix, part: Partitioner,
                          keep: (Int, Int) => Boolean): RDD[((Int, Int), Block)] = {
    val nb = a.nbRows; val n = a.nRows; val bs = a.blockSize
    a.blocks.rdd.filter(b => keep(b.bi, b.bj)).map(b => ((b.bi, b.bj), b))
      .partitionBy(part)
      .mapPartitionsWithIndex({ (pid, it) =>
        val seen = new java.util.HashSet[(Int, Int)]()
        it.map { kv => seen.add(kv._1); kv } ++ (for {
          i <- Iterator.range(0, nb); j <- Iterator.range(0, nb)
          if keep(i, j) && part.getPartition((i, j)) == pid && !seen.contains((i, j))
        } yield {
          val rows = DMatrix.blockDim(n, bs, i); val cols = DMatrix.blockDim(n, bs, j)
          (i, j) -> Block(i, j, rows, cols, new Array[Double](rows * cols))
        })
      }, preservesPartitioning = true)
  }

  /** out = b − lik·ljkᵀ — the trailing-update dgemm (α=−1, β=1) with an
    * explicit small transpose of ljk (breeze's implicit-T multiply would
    * hit the >1024 JVM-dgemm cliff at production block sizes — Gemm
    * scaladoc). ONE body shared by the tile-shuffle and broadcast paths
    * so the factor is bit-identical whichever path delivered the panel. */
  private def cholTrailingBlock(b: Block, lik: Block, ljk: Block): Block = {
    val ck = lik.cols
    val ljkT = new Array[Double](ljk.rows * ck)
    var c = 0
    while (c < ck) {
      var r = 0
      while (r < ljk.rows) {
        ljkT(c + r * ck) = ljk.data(r + c * ljk.rows); r += 1
      }
      c += 1
    }
    val out = b.data.clone()
    Gemm.dgemm(b.rows, b.cols, ck, -1.0, lik.data, 0, lik.rows,
      ljkT, 0, ck, 1.0, out, 0, b.rows)
    b.copy(data = out)
  }

  /** Blocked right-looking Cholesky (reference `da.linalg.cholesky`,
    * examples.rst:84-100): nb sequential panel steps — inherently
    * iterative, exactly as the reference ran it (deep DAG). Per step:
    * local chol of the bs×bs diagonal block, distributed panel solve,
    * distributed rank-bs trailing update. Lineage is truncated with
    * localCheckpoint every few steps (SURVEY §7.5 known-hard #5).
    * Returns the lower factor L.
    *
    * Scale shape (r15 rewrite; CholeskyProbe measured the old two-join
    * update moving nb³·bs²-law bytes — 148 MB for a 34 MB matrix at
    * nb=8, ×7.7 for ×4 data at nb=16): the state matrix now lives on a
    * FIXED block→tile partitioner and NEVER crosses an exchange after
    * the single entry shuffle (which also fills absent lower blocks with
    * zeros — [[factorState]]) — panel solve and L_kk replacement are
    * mapValues, the trailing update is a zipPartitions against
    * tile-keyed PANEL COPIES (only the panel moves, one copy per t-wide
    * tile instead of per block — the SUMMA replication law, ÷t), and
    * the per-step diagonal pull is a partitioner-routed single-partition
    * `lookup`, not an nb-task filter scan.
    *
    * Panel broadcast within budget (r16, guide §3.1 — the r15 VERDICT
    * directive #2): a step whose REMAINING panel column ((nb−k)·bs²·8 B)
    * fits `SPARK_GRAFT_CHOL_BC_BYTES` (default 64 MB, the same
    * autoBroadcastJoinThreshold-style contract as the broadcast-GEMM
    * budget) broadcasts the SOLVED panel instead of shuffling tile-keyed
    * copies: the trailing update becomes a single narrow `mapValues`
    * (zero shuffle, and the per-step diagonal lookup job disappears —
    * the panel collect carries the diagonal block). Above the budget the
    * tile path runs unchanged, so a production factorization starts on
    * tile shuffles and flips to broadcast as the trailing panel shrinks
    * under the budget. Both paths drive the same dgemm with the same
    * explicit small transpose, so the factor is BIT-IDENTICAL across
    * paths (LinAlgSpec pins budget∈{0,∞} ≡ Breeze); the dispatch rule is
    * the pure function [[LinAlg.cholStepPathFor]]. */
  def choleskyLower(a: DMatrix, checkpointEvery: Int = 6,
                    tileOverride: Option[Int] = None,
                    bcBudgetOverride: Option[Long] = None): DMatrix = {
    require(a.nRows == a.nCols, "cholesky needs a square matrix")
    val spark = a.blocks.sparkSession
    val bs = a.blockSize
    val nb = a.nbRows
    val slots = spark.sparkContext.defaultParallelism
    // Tile width: largest t whose step-0 trailing tile grid still fills
    // ≥¾ of a wave (same rule as the GEMM tiles). Panel traffic per
    // step is (nb−k)²·bs²·8/t bytes; small grids keep t=1 (parallelism
    // over traffic — the whole factorization is sub-second there),
    // production-depth grids (nb ≳ 16) get t ≥ 2.
    val tile = tileOverride
      .orElse(sys.env.get("SPARK_GRAFT_CHOL_TILE").map(_.toInt)).getOrElse {
      Seq(4, 2, 1).find { tt =>
        val g = (nb + tt - 1) / tt
        g.toLong * (g + 1) / 2 >= math.max(1, (slots * 3) / 4)
      }.getOrElse(1)
    }
    val gT = (nb + tile - 1) / tile
    val nParts = math.max(2, math.min(slots, gT * (gT + 1) / 2))
    // One partitioner for both sides: state keys are block coords, panel
    // copies are keyed by their target tile's REPRESENTATIVE block
    // (it·t, jt·t) — the same ÷tile landing spot.
    val part = new TilePartitioner(nParts, tile)
    // keep only the lower triangle (absent blocks filled with zeros);
    // ONE entry shuffle onto the fixed partitioner — the state never
    // moves again.
    var state = factorState(a, part, (i, j) => i >= j).cache()
    var prev = state
    val bcBudget = bcBudgetOverride.getOrElse(factorBcBytes)
    def stepPath(k: Int): String = cholStepPathFor(nb, k, bs, bcBudget)
    // Column-(k) panel collected by the PREVIOUS step's materialization
    // job when that step already knew step k would broadcast — one
    // driver round trip per step instead of lookup + count.
    var panelNext: Map[Int, Block] = null
    for (k <- 0 until nb) {
      var bcRelease: org.apache.spark.broadcast.Broadcast[_] = null
      val next0 =
        if (stepPath(k) == "broadcast") {
          // ---- broadcast path: zero shuffle this step ----
          val panel: Map[Int, Block] =
            if (panelNext != null) panelNext
            else {
              // entering broadcast mode (k=0 or a tile→broadcast flip):
              // read only the ≤gT partitions that can hold column k
              val colParts = (k until nb).map(i => part.getPartition((i, k))).toSet
              org.apache.spark.rdd.PartitionPruningRDD.create(state, colParts.contains)
                .flatMap { case ((i, j), b) =>
                  if (j == k && i >= k) Iterator(b) else Iterator.empty }
                .collect().map(b => b.bi -> b).toMap
            }
          val diag = panel(k)
          val lkk = bchol(new BDM(diag.rows, diag.cols, diag.data))
          val invLkkT = inv(lkk.t)
          // driver-side panel solve — the SAME breeze product the tile
          // path's executor-side solve computes, so bits are identical
          val solved: Map[Int, Block] = panel.map { case (i, b) =>
            if (i == k) i -> b.copy(data = lkk.data)
            else i -> b.copy(data = (b.toBreeze * invLkkT).data)
          }
          val bcPanel = spark.sparkContext.broadcast(solved)
          bcRelease = bcPanel
          val kk = k
          // factorState filled every absent block, so the panel is complete
          state.mapValues { b =>
            val p = bcPanel.value
            if (b.bj == kk) p(b.bi)
            else if (b.bj > kk) cholTrailingBlock(b, p(b.bi), p(b.bj))
            else b                               // finalized (bj < k)
          }
        } else {
          // ---- tile-shuffle path: only panel copies cross an exchange ----
          val diag = state.lookup((k, k)).head   // single-partition job
          val lkk = bchol(new BDM(diag.rows, diag.cols, diag.data))
          val invLkkT = inv(lkk.t)   // bs×bs-small, shipped in closures
          val lkkData = lkk.data
          val updated = state.mapValues { b =>
            if (b.bi == k && b.bj == k) b.copy(data = lkkData)
            else if (b.bj == k && b.bi > k) b.copy(data = (b.toBreeze * invLkkT).data)
            else b                               // finalized (bj<k) or trailing (bj>k)
          }
          // Panel copies, tile-keyed: L_ik serves every trailing block of
          // row i (one copy per tile COLUMN it meets), L_jk every block of
          // column j (one copy per tile ROW). role 0 = left factor (keyed
          // by the serving row i), 1 = right (keyed by column j).
          val contribs = updated.filter { case ((_, bj), b) => bj == k && b.bi > k }
            .values.flatMap { p =>
              val leftTiles = ((k + 1) / tile to p.bi / tile).iterator
                .map(jt => (((p.bi / tile) * tile, jt * tile), (0, p)))
              val rightTiles = (p.bi / tile to (nb - 1) / tile).iterator
                .map(it => ((it * tile, (p.bi / tile) * tile), (1, p)))
              leftTiles ++ rightTiles
            }.partitionBy(part)
          // A_ij -= L_ik · L_jkᵀ for i ≥ j > k: narrow on the state side —
          // both inputs share `part`, so only the panel copies shuffled.
          updated.zipPartitions(contribs, preservesPartitioning = true) {
            (stateIt, contribIt) =>
              val left = new java.util.HashMap[Long, Block]()   // (jt<<32)|i → L_ik
              val right = new java.util.HashMap[Long, Block]()  // (it<<32)|j → L_jk
              contribIt.foreach { case ((ri, rj), (role, p)) =>
                if (role == 0) left.put(((rj / tile).toLong << 32) | p.bi, p): Unit
                else right.put(((ri / tile).toLong << 32) | p.bi, p): Unit
              }
              stateIt.map { case (key, b) =>
                if (b.bj <= k) (key, b)
                else {
                  val lik = left.get(((b.bj / tile).toLong << 32) | b.bi)
                  val ljk = right.get(((b.bi / tile).toLong << 32) | b.bj)
                  (key, cholTrailingBlock(b, lik, ljk))
                }
              }
          }
        }
      var next = next0
      if ((k + 1) % checkpointEvery == 0) next.localCheckpoint()
      next = next.cache()
      // Materialize before dropping the parent; when the NEXT step
      // broadcasts, the same job also collects its panel column (fused
      // count+collect — saves one driver round trip per step).
      if (k + 1 < nb && stepPath(k + 1) == "broadcast") {
        val kn = k + 1
        panelNext = next.flatMap { case ((i, j), b) =>
          if (j == kn && i >= kn) Iterator(b) else Iterator.empty
        }.collect().map(b => b.bi -> b).toMap
      } else { panelNext = null; next.count() }
      // executor copies released now that `next` is materialized; the
      // driver keeps the value, so a cache-evicted partition can still
      // recompute (unpersist, never destroy)
      if (bcRelease != null) bcRelease.unpersist(false)
      prev.unpersist(false)
      prev = next
      state = next
    }
    import spark.implicits._
    val lower = state.values.map { b =>
      if (b.bi == b.bj) {          // zero the strictly-upper entries of diag blocks
        val out = b.data.clone()
        var j = 0
        while (j < b.cols) {
          var i = 0
          while (i < b.rows) { if (j > i) out(i + j * b.rows) = 0.0; i += 1 }
          j += 1
        }
        b.copy(data = out)
      } else b
    }
    new DMatrix(spark.createDataset(lower), a.nRows, a.nCols, bs)
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

  /** Step k of [[lu]]: the diagonal tile's local LU, and the panel solve
    * it drives — L_ik = A_ik·U_kk⁻¹ below the diagonal, U_kj = L_kk⁻¹·A_kj
    * right of it, and the packed Doolittle tile (strict-lower L_kk + U_kk)
    * on it; every other block passes through. One object serves both step
    * paths, so a panel is bit-identical whether the driver or an executor
    * solved it. */
  private final case class LuStep(k: Int, packed: Array[Double],
                                  invLkk: BDM[Double], invUkk: BDM[Double]) {
    def solve(b: Block): Block =
      if (b.bi == k && b.bj == k) b.copy(data = packed)
      else if (b.bj == k && b.bi > k) b.copy(data = (b.toBreeze * invUkk).data)
      else if (b.bi == k && b.bj > k) b.copy(data = (invLkk * b.toBreeze).data)
      else b
  }

  private def luStep(k: Int, diag: Block): LuStep = {
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

  /** out = b − lik·ukj — the trailing-update dgemm (α=−1, β=1). ONE body
    * shared by the panel-shuffle and broadcast paths so the factors are
    * bit-identical whichever path delivered the panels. */
  private def luTrailingBlock(b: Block, lik: Block, ukj: Block): Block = {
    val out = b.data.clone()
    Gemm.dgemm(b.rows, b.cols, lik.cols, -1.0, lik.data, 0, lik.rows,
      ukj.data, 0, ukj.rows, 1.0, out, 0, b.rows)
    b.copy(data = out)
  }

  /** Blocked right-looking LU without pivoting — dask `da.linalg.lu`
    * (dask also factorizes blockwise with no cross-chunk pivoting and
    * documents the square-chunked, well-conditioned contract). Same
    * design as [[choleskyLower]]: ONE entry shuffle onto a fixed
    * partitioner (absent blocks become zero blocks there, since the
    * trailing updates fill them in), then nb sequential panel steps, each
    * materialized by one job that also collects the next step's panel
    * when that step broadcasts. Per step the path is
    * [[luStepPathFor]]'s:
    *  - `broadcast` (the panel — column k plus row k, (2(nb−k)−1)·bs²·8
    *    bytes — fits `SPARK_GRAFT_CHOL_BC_BYTES`): the driver factors the
    *    diagonal tile, solves the panel ([[LuStep]]) and broadcasts it;
    *    the trailing update A_ij −= L_ik·U_kj is one narrow `mapValues`.
    *    A factorization that broadcasts throughout runs nb + 1 jobs.
    *  - `panel-shuffle` (panels over the budget): the panel is solved on
    *    the executors and only panel copies cross an exchange — L_ik to
    *    each partition holding a trailing block of row i, U_kj to each
    *    holding one of column j — and the trailing update is a narrow
    *    `zipPartitions` against them; the state never leaves its
    *    partitioner.
    * Both paths solve with the same [[LuStep]] and update with the same
    * dgemm ([[luTrailingBlock]]), so the factors are bit-identical across
    * budgets (LinAlgSpec pins it). Lineage is truncated with
    * localCheckpoint every `checkpointEvery` steps. Returns (L unit-lower,
    * U upper) as block sets over their triangles. */
  def lu(a: DMatrix, checkpointEvery: Int = 6,
         bcBudgetOverride: Option[Long] = None): (DMatrix, DMatrix) = {
    require(a.nRows == a.nCols, "lu needs a square matrix")
    val spark = a.blocks.sparkSession
    val sc = spark.sparkContext
    val bs = a.blockSize
    val nb = a.nbRows
    val nParts = math.max(2, math.min(sc.defaultParallelism, nb * nb))
    val part = new TilePartitioner(nParts, 1)
    var state = factorState(a, part, (_, _) => true).cache()
    var prev = state
    val bcBudget = bcBudgetOverride.getOrElse(factorBcBytes)
    def stepPath(k: Int): String = luStepPathFor(nb, k, bs, bcBudget)
    def panelOf(rdd: RDD[((Int, Int), Block)], k: Int): Map[(Int, Int), Block] =
      rdd.flatMap { case ((i, j), b) =>
        if ((j == k && i >= k) || (i == k && j > k)) Iterator(b) else Iterator.empty
      }.collect().map(b => (b.bi, b.bj) -> b).toMap
    // step k's panel, collected by the job that materialized step k−1
    var panelNext: Map[(Int, Int), Block] = null
    for (k <- 0 until nb) {
      var bcRelease: org.apache.spark.broadcast.Broadcast[_] = null
      val next0 =
        if (stepPath(k) == "broadcast") {
          val panel = if (panelNext != null) panelNext else panelOf(state, k)
          val step = luStep(k, panel((k, k)))
          val bcPanel = sc.broadcast(panel.map { case (key, b) => key -> step.solve(b) })
          bcRelease = bcPanel
          state.mapValues { b =>
            val p = bcPanel.value
            if (b.bi < k || b.bj < k) b                              // finalized
            else if (b.bi == k || b.bj == k) p((b.bi, b.bj))
            else luTrailingBlock(b, p((b.bi, k)), p((k, b.bj)))
          }
        } else {
          val step = luStep(k, state.lookup((k, k)).head)   // single-partition job
          val updated = state.mapValues(step.solve)
          // one copy of L_ik per partition holding a trailing block of row
          // i, one of U_kj per partition holding one of column j; each
          // copy is keyed by a trailing block of its target partition
          val copies = updated.values.flatMap { p =>
            val served =
              if (p.bj == k && p.bi > k) Iterator.range(k + 1, nb).map(j => (p.bi, j))
              else if (p.bi == k && p.bj > k) Iterator.range(k + 1, nb).map(i => (i, p.bj))
              else Iterator.empty
            served.map(key => part.getPartition(key) -> key).toMap.valuesIterator.map(_ -> p)
          }.partitionBy(part)
          // A_ij −= L_ik · U_kj for i > k, j > k: narrow on the state side
          updated.zipPartitions(copies, preservesPartitioning = true) { (stateIt, copyIt) =>
            val lCol = new java.util.HashMap[Int, Block]()   // i → L_ik
            val uRow = new java.util.HashMap[Int, Block]()   // j → U_kj
            copyIt.foreach { case (_, p) =>
              if (p.bj == k) lCol.put(p.bi, p) else uRow.put(p.bj, p)
            }
            stateIt.map { case (key, b) =>
              if (b.bi > k && b.bj > k) (key, luTrailingBlock(b, lCol.get(b.bi), uRow.get(b.bj)))
              else (key, b)
            }
          }
        }
      var next = next0
      if ((k + 1) % checkpointEvery == 0) next.localCheckpoint()
      next = next.cache()
      // materialize before dropping the parent; when the next step
      // broadcasts, the same job collects its panel
      if (k + 1 < nb && stepPath(k + 1) == "broadcast") panelNext = panelOf(next, k + 1)
      else { panelNext = null; next.count() }
      if (bcRelease != null) bcRelease.unpersist(false)
      prev.unpersist(false)
      prev = next
      state = next
    }
    import spark.implicits._
    val lBlocks = state.filter { case ((bi, bj), _) => bi >= bj }.values.map { b =>
      if (b.bi == b.bj) {              // unpack: unit diag + strict lower
        val out = b.data.clone()
        var j = 0
        while (j < b.cols) {
          var i = 0
          while (i < b.rows) {
            if (j > i) out(i + j * b.rows) = 0.0
            else if (j == i) out(i + j * b.rows) = 1.0
            i += 1
          }
          j += 1
        }
        b.copy(data = out)
      } else b
    }
    val uBlocks = state.filter { case ((bi, bj), _) => bi <= bj }.values.map { b =>
      if (b.bi == b.bj) {              // unpack: upper incl diag
        val out = b.data.clone()
        var j = 0
        while (j < b.cols) {
          var i = j + 1
          while (i < b.rows) { out(i + j * b.rows) = 0.0; i += 1 }
          j += 1
        }
        b.copy(data = out)
      } else b
    }
    (new DMatrix(spark.createDataset(lBlocks), a.nRows, a.nCols, a.blockSize),
     new DMatrix(spark.createDataset(uBlocks), a.nRows, a.nCols, a.blockSize))
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
    val spark = t.blocks.sparkSession
    val bs = t.blockSize
    val nb = t.nbRows
    val nParts = math.max(2, math.min(spark.sparkContext.defaultParallelism, nb))
    // one partition per block column of the relevant triangle (Int key k
    // hashes to partition k under HashPartitioner(nb))
    val tByCol = t.blocks.rdd
      .filter(blk => if (lower) blk.bi >= blk.bj else blk.bi <= blk.bj)
      .map(blk => (blk.bj, blk))
      .partitionBy(new org.apache.spark.HashPartitioner(nb))
      .cache()
    tByCol.count()
    val part = new org.apache.spark.HashPartitioner(nParts)
    var state = b.blocks.rdd.map(blk => (blk.bi, blk)).partitionBy(part).cache()
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
    import spark.implicits._
    new DMatrix(spark.createDataset(state.values), b.nRows, b.nCols, bs)
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
    val spark = t.blocks.sparkSession
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(4, b.nbCols))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val bs = b.blockSize
      val futures = (0 until b.nbCols).map { bj =>
        Future {
          import spark.implicits._
          val width = DMatrix.blockDim(b.nCols, bs, bj)
          val colBlocks = b.blocks.filter((blk: Block) => blk.bj == bj)
            .map(blk => blk.copy(bj = 0))
          val col = new DMatrix(colBlocks, b.nRows, width, bs)
          // stays distributed: re-tag the column index on the solved
          // blocks (the X column never visits the driver)
          solveTriangular(t, col, lower).blocks.map(blk => blk.copy(bj = bj))
        }
      }
      val all = futures.map(f => Await.result(f, Duration.Inf)).reduce(_ union _)
      new DMatrix(all, b.nRows, b.nCols, bs)
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
    val eye = DMatrix.eye(a.blocks.sparkSession, a.nRows, a.blockSize)
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
  * blocked factorization's state, and the tile-keyed panel copies that
  * meet it, share (keys of one tile land together). */
private class TilePartitioner(parts: Int, tile: Int) extends Partitioner {
  def numPartitions: Int = parts
  def getPartition(key: Any): Int = key match {
    case (i: Int, j: Int) => java.lang.Math.floorMod((i / tile) * 131071 + (j / tile), parts)
    case other => throw new IllegalArgumentException(s"unexpected key $other")
  }
}
