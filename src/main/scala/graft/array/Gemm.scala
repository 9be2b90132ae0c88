package graft.array

/** Cache-regime paneling for the JVM-fallback BLAS.
  *
  * On hosts without a native BLAS (this harness: JNIBLAS absent, netlib
  * resolves to `VectorBLAS`), the Java dgemm's throughput collapses once a
  * single call's dimensions leave the kernel's cache-blocking regime:
  * measured single-threaded on this box (BENCH_NOTES.md, the dgemm
  * microbenchmark) —
  *
  *   1000³ monolithic      9.3–17.8 GFLOP/s
  *   1500³ monolithic      1.5 GFLOP/s
  *   2000³ monolithic      2.3 GFLOP/s
  *   2000³ as 8× 1000-panels (in-place, ld=2000)  19.6 GFLOP/s
  *
  * The collapse follows the LOGICAL call size, not the stride — so
  * paneling big calls into ≤1024-sized sub-calls addressed via
  * (offset, ld) recovers the fast regime with zero copying. This is the
  * difference between the grid-held 20k² flagship GEMM spending 706 s vs
  * ~80 s in the dgemm stage (25 tasks × 2000² blocks).
  *
  * Column-major, "N","N" only — the layout every DMatrix Block uses.
  * k-paneling accumulates with β=1 after the first panel (the caller's β
  * applies exactly once), which reorders the within-block summation; the
  * integer-domain oracle fixtures are exact regardless, and float inputs
  * see normal roundoff variance — the same contract as the tile fold's
  * fetch-order accumulation and tsqr's tree combine.
  */
object Gemm {
  private val Panel = 1024
  private lazy val blas = dev.ludovic.netlib.blas.BLAS.getInstance

  /** C[m×n] = α·A[m×k]·B[k×n] + β·C, all column-major with explicit
    * (offset, leading-dimension) addressing; big calls are paneled. */
  def dgemm(m: Int, n: Int, k: Int, alpha: Double,
            a: Array[Double], offA: Int, lda: Int,
            b: Array[Double], offB: Int, ldb: Int,
            beta: Double,
            c: Array[Double], offC: Int, ldc: Int): Unit = {
    if (m <= Panel && n <= Panel && k <= Panel) {
      blas.dgemm("N", "N", m, n, k, alpha, a, offA, lda, b, offB, ldb,
        beta, c, offC, ldc)
    } else if (k == 0) {
      // BLAS contract: k == 0 means C := β·C (the kk-loop below would
      // never run and β would silently not apply — ADVICE r14).
      var j = 0
      while (j < n) {
        var i = 0
        while (i < m) {
          val idx = offC + j * ldc + i
          c(idx) = if (beta == 0.0) 0.0 else beta * c(idx)
          i += 1
        }
        j += 1
      }
    } else {
      var j = 0
      while (j < n) {
        val nb = math.min(Panel, n - j)
        var i = 0
        while (i < m) {
          val mb = math.min(Panel, m - i)
          var kk = 0
          var bcur = beta
          while (kk < k) {
            val kb = math.min(Panel, k - kk)
            blas.dgemm("N", "N", mb, nb, kb, alpha,
              a, offA + kk * lda + i, lda,
              b, offB + j * ldb + kk, ldb,
              bcur, c, offC + j * ldc + i, ldc)
            bcur = 1.0
            kk += kb
          }
          i += mb
        }
        j += nb
      }
    }
  }

  /** Fresh-array C = A[m×k]·B[k×n] (column-major). */
  def multiply(aData: Array[Double], m: Int, k: Int,
               bData: Array[Double], n: Int): Array[Double] = {
    val c = new Array[Double](m * n)
    dgemm(m, n, k, 1.0, aData, 0, m, bData, 0, k, 0.0, c, 0, m)
    c
  }

  /** Breeze-typed C = A·B for the hot per-block maps (Q/U formation,
    * triangular-solve contributions) whose left side is a full-height
    * block (rows = blockSize, routinely > the panel size). Requires
    * dense non-view operands — every call site passes fresh `toBreeze`
    * results or `.copy`-materialized driver matrices. */
  def multiplyBDM(a: breeze.linalg.DenseMatrix[Double],
                  b: breeze.linalg.DenseMatrix[Double]): breeze.linalg.DenseMatrix[Double] = {
    require(!a.isTranspose && a.offset == 0 && a.majorStride == a.rows &&
            !b.isTranspose && b.offset == 0 && b.majorStride == b.rows,
      "multiplyBDM needs dense column-major non-view operands")
    require(a.cols == b.rows, s"dim mismatch ${a.rows}x${a.cols} * ${b.rows}x${b.cols}")
    new breeze.linalg.DenseMatrix(a.rows, b.cols,
      multiply(a.data, a.rows, a.cols, b.data, b.cols))
  }
}
