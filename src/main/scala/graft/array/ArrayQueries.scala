package graft.array

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.GraftContext

/** Driver-gate entries for the dask.array rebuild (SURVEY.md §2.B3).
  *
  * The a01-a05 matrices are integer-valued (`DMatrix.randInt`): every
  * product/sum is an exact integer in a double, so results are bit-equal
  * across engines regardless of summation order — which makes blocked
  * matmul / transpose / reductions / masks / elementwise ops *exactly*
  * checkable against DuckDB SQL over `range()` cross joins, sharing the
  * same LCG formula.
  *
  * The factorizations (TSQR / SVD / randomized SVD / Cholesky) are not
  * SQL-expressible; they get rows-only driver entries here and
  * tolerance-based Breeze oracles in LinAlgSpec (the rebuild analog of
  * dask's `compute(scheduler="sync")` single-node oracle).
  */
object ArrayQueries {
  type Q = (SparkSession, String) => DataFrame

  // shared shapes (scaled-down GEMM per BASELINE.md; chunks stay square)
  private val BS = 16
  private def matA(s: SparkSession) = DMatrix.randInt(s, 64, 48, BS, 7L)
  private def matB(s: SparkSession) = DMatrix.randInt(s, 48, 32, BS, 11L)
  private def matE(s: SparkSession) = DMatrix.randInt(s, 64, 48, BS, 19L)
  private def matS(s: SparkSession) = DMatrix.randInt(s, 32, 32, BS, 13L)

  /** Deterministic COO generator for the sparse entries: cell (i,j) of
    * an m×n grid is PRESENT iff its LCG hash is ≡0 mod 5 (≈20 %
    * density), with an integer value in [1,100] from the same hash —
    * map-only over one range (no cross join), and closed-form in SQL
    * for the oracles. */
  private def cooGen(s: SparkSession, m: Int, n: Int, seed: Long): DataFrame =
    s.range(m.toLong * n)
      .select(expr(s"id DIV $n").as("i"), (col("id") % n).as("j"),
              ((col("id") * 1103515245L + seed) % 2147483647L).as("h"))
      .filter(col("h") % 5 === 0)
      .select(col("i"), col("j"), (col("h") % 100 + 1).cast("double").as("v"))

  /** a58: sparse elementwise algebra — union-support add, intersection
    * Hadamard multiply, and duplicate-summing COO build (scipy
    * coo_matrix semantics), each over ≈20 %-dense 40×32 operands.
    * Nothing densifies: add is union+hash-agg, mul is an equi-join of
    * supports, build is one aggregation over the doubled cell list. */
  def sparseEwise(s: SparkSession, d: String): DataFrame = {
    val a = cooGen(s, 40, 32, 201L)
    val b = cooGen(s, 40, 32, 203L)
    Sparse.add(a, b).select(lit("add").as("op"), col("i"), col("j"), col("v"))
      .unionByName(Sparse.multiply(a, b)
        .select(lit("mul").as("op"), col("i"), col("j"), col("v")))
      .unionByName(Sparse.fromCoo(a.unionByName(a))
        .select(lit("build").as("op"), col("i"), col("j"), col("v")))
  }

  /** a59: sparse axis reductions — row sums, column sums, per-row nnz
    * and the global sum, each one hash aggregation over the support
    * (partial agg below the exchange; absent cells never exist). */
  def sparseReduce(s: SparkSession, d: String): DataFrame = {
    val a = cooGen(s, 40, 32, 201L)
    Sparse.rowSums(a).select(lit("rowsum").as("op"), col("i").as("k"), col("v"))
      .unionByName(Sparse.colSums(a).select(lit("colsum").as("op"), col("j").as("k"), col("v")))
      .unionByName(Sparse.rowNnz(a).select(lit("rownnz").as("op"), col("i").as("k"), col("v")))
      .unionByName(a.agg(sum(col("v")).as("v"))
        .select(lit("total").as("op"), lit(-1L).as("k"), col("v")))
  }

  /** a60: sparse × dense GEMM — COO A(40×32, ≈20 % dense) times a
    * blocked dense B(32×24, values in [1,999] so no cell cancels) via
    * [[Sparse.spdm]]'s stripe-cogroup kernel. The nonzero filter on the
    * dense output makes Spark's support exactly the oracle's join
    * support: with positive operands, out(i,j) > 0 ⇔ row i has ≥1
    * sparse cell ⇔ the oracle join produces (i,j). */
  def sparseDenseGemm(s: SparkSession, d: String): DataFrame = {
    val a = cooGen(s, 40, 32, 201L)
    val dense = DMatrix.tabulate(s, 32, 24, 8)((i, j) =>
      (DMatrix.lcg(i, j, 24, 205L) % 999L + 1L).toDouble)
    Sparse.spdm(a, dense, 40).toCoords.filter(col("v") =!= 0.0)
  }

  /** a61: elementwise selection surface — clip to [200,700], ternary
    * where (odd cells keep their value, even cells negate — the
    * condition is computed FROM the matrix, dask's `da.where(x % 2,
    * x, -x)` shape), and isin membership against a small value set.
    * clip/isin are narrow maps; where is one co-partitioned 3-way
    * block join. Oracles are the LCG under LEAST/GREATEST, CASE on
    * parity, and IN — closed form. */
  def clipWhereIsin(s: SparkSession, d: String): DataFrame = {
    val a = matA(s)
    val clip = a.clip(200, 700).toCoords
      .select(lit("clip").as("op"), col("i"), col("j"), col("v"))
    val cond = a.mapElements(_ % 2.0)
    val whr = DMatrix.where(cond, a, a * -1.0).toCoords
      .select(lit("where").as("op"), col("i"), col("j"), col("v"))
    val member = a.isin(Set(7.0, 42.0, 123.0, 999.0)).toCoords
      .select(lit("isin").as("op"), col("i"), col("j"), col("v"))
    clip.unionByName(whr).unionByName(member)
  }

  /** a62: running extrema down the rows — `np.fmax/fmin.accumulate
    * (axis=0)` through the generic two-pass prefix scan (no global
    * sort at any row count). Oracle: cumulative window MAX/MIN per
    * column over the same LCG. */
  def cumExtrema(s: SparkSession, d: String): DataFrame = {
    val a = matA(s)
    a.cummaxAxis0.toCoords
      .select(lit("cummax").as("op"), col("i"), col("j"), col("v"))
      .unionByName(a.cumminAxis0.toCoords
        .select(lit("cummin").as("op"), col("i"), col("j"), col("v")))
  }

  /** Blocked GEMM: C = A(64×48) · B(48×32). */
  def matmul(s: SparkSession, d: String): DataFrame =
    matA(s).multiply(matB(s)).toCoords

  /** Axis reduction: per-row sum and mean of A. */
  def axisStats(s: SparkSession, d: String): DataFrame =
    matA(s).sumAxis1.withColumn("row_mean", col("row_sum") / 48.0)

  /** Gram matrix via transpose + matmul: G = Aᵀ·A (48×48). */
  def gram(s: SparkSession, d: String): DataFrame =
    matA(s).gramian.toCoords

  /** Lower-triangular mask of square S: above-diagonal blocks dropped,
    * diagonal blocks masked in place (coords of kept blocks emitted). */
  def tril(s: SparkSession, d: String): DataFrame =
    matS(s).tril.toCoords

  /** Elementwise pipeline: D = A⊙E + 2A (zip, hadamard, scalar ops). */
  def elementwise(s: SparkSession, d: String): DataFrame =
    (matA(s).hadamard(matE(s)) + (matA(s) * 2.0)).toCoords

  /** TSQR validated through its Gram invariant (4096×64, chunks 256×64 —
    * the reference tsqr shape scaled down): Q orthonormal ⇒ RᵀR = AᵀA.
    * A is integer-valued and QR roundoff (~1e-5 absolute here) is far
    * below 0.5, so rounding RᵀR recovers the exact integer Gram matrix —
    * which IS SQL-expressible from the shared LCG. This turns the former
    * rows-only gate row into a hash-matched oracle; the R factor itself
    * stays exactness-checked against Breeze in LinAlgSpec. */
  def tsqrGram(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val a = DMatrix.randInt(s, 4096, 64, 64, 23L)
    val r = LinAlg.tsqr(a)
    val g = r.t * r
    val rows = for { i <- 0 until g.rows; j <- 0 until g.cols }
      yield (i.toLong, j.toLong, math.round(g(i, j)))
    s.createDataset(rows).toDF("i", "j", "v")
  }

  /** Tall-skinny SVD (2048×64, the reference `da.linalg.svd(X)` shape,
    * README.md:220-224) validated through two exact invariants on an
    * integer-valued A (cond(A) ≈ 48 — the double-mod LCG is far from
    * rank-deficient, checked empirically):
    *   - UᵀU = I, computed as a *distributed* Gram of the distributed U
    *     (exercises the A·V·Σ⁻¹ map): orthonormality roundoff is
    *     ~ε·‖A‖/σ_min ≈ 5e-15 ≪ 0.5, so round() recovers the identity;
    *   - Σσᵢ² = ‖A‖²_F (exact integer, ≈4.4e10 ≪ 2⁵³; SVD roundoff
    *     ~1e-3 absolute ≪ 0.5).
    * Both sides are SQL-expressible → hash-matched oracle (the σ values
    * themselves stay tolerance-checked against Breeze in LinAlgSpec). */
  def svdValues(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val a = DMatrix.randInt(s, 2048, 64, 128, 29L)
    val (u, sv, _) = LinAlg.svdTallSkinny(a)
    val frob = math.round(sv.toArray.map(x => x * x).sum)
    val uu = u.gramian.toCoords
      .select(col("i"), col("j"), round(col("v")).cast("long").as("v"))
    uu.union(Seq((-1L, -1L, frob)).toDF("i", "j", "v"))
  }

  /** Randomized SVD (the reference's `svd_compressed`, README.md:243-247)
    * on an *exactly rank-15* integer matrix A = X(512×15)·Y(15×512):
    * with k = l = 15 the sketch captures the whole 15-dimensional range,
    * so U·Σ·Vᵀ must reconstruct A exactly (recon roundoff ~2e-12 ≪ 0.5,
    * measured) — and A itself is SQL-expressible as the X·Y join from the
    * shared LCG. round() of the reconstruction upgrades the former
    * rows-only gate to a hash-matched oracle covering the full pipeline:
    * sketch, power iterations, distributed QR, B = QᵀA shuffle, local
    * SVD, and the distributed U·(ΣVᵀ) product. */
  def svdCompressedValues(s: SparkSession, d: String): DataFrame = {
    val x = DMatrix.randInt(s, 512, 15, 128, 101L, mod = 10L)
    val y = DMatrix.randInt(s, 15, 512, 128, 103L, mod = 10L)
    val a = x.multiply(y)
    val (u, sv, v) = LinAlg.svdCompressed(a, k = 15, oversample = 0, seed = 99L)
    val svt = v.t.copy                       // 15×512 = Vᵀ, rows scaled by σᵢ
    var i = 0
    while (i < sv.length) { svt(i, ::) :*= sv(i); i += 1 }
    val recon = u.multiply(DMatrix.fromLocal(s, svt, 128))
    recon.toCoords.select(col("i"), col("j"), round(col("v")).cast("long").as("v"))
  }

  /** Blocked Cholesky of an SPD matrix (diag-dominant 96×96, chunks 32),
    * validated through its reconstruction invariant: L·Lᵀ = A. The SPD
    * input is exact-integer (BᵀB + 960·I with B integer-valued) and the
    * factorization roundoff (~1e-10) is far below 0.5, so rounding L·Lᵀ
    * recovers the exact integer input — SQL-expressible from the shared
    * LCG, upgrading the former rows-only row to a hash-matched oracle.
    * The L factor itself stays exactness-checked in LinAlgSpec. */
  def choleskyRecon(s: SparkSession, d: String): DataFrame = {
    val base = DMatrix.randInt(s, 96, 96, 32, 37L, mod = 10L)
    val spd = base.gramian + (DMatrix.eye(s, 96, 32) * 960.0)
    val l = LinAlg.choleskyLower(spd)
    l.transpose.gramian.toCoords
      .select(col("i"), col("j"), round(col("v")).cast("long").as("v"))
  }

  /** Square multi-column-block QR — the reference's `da.linalg.qr` on a
    * 128×128 matrix chunked 16×16 (examples.rst:63-70), the one QR shape
    * TSQR's row-stripe decomposition can't take directly: the input is
    * rechunked to a single column block (dask-equivalent), factorized,
    * and validated through the reconstruction invariant Q·R = A. A is
    * integer-valued (LCG mod 1000) and the recon roundoff (~1e-9 for
    * n = 128) is far below 0.5, so rounding recovers the exact input —
    * SQL-expressible from the shared LCG. Covers rechunk, TSQR, and the
    * distributed A·R⁻¹ map end to end. */
  def qrSquare(s: SparkSession, d: String): DataFrame = {
    val a = DMatrix.randInt(s, 128, 128, 16, 47L)
    val (q, r) = LinAlg.qrFactor(a)
    q.multiply(DMatrix.fromLocal(s, r, q.blockSize)).toCoords
      .select(col("i"), col("j"), round(col("v")).cast("long").as("v"))
  }

  /** Axis broadcasting (dask `x - x.mean(axis=1)[:, None]` plus a
    * col-vector broadcast — reference tests/test_collections.py:90-95):
    * center rows by the row mean, then add back the column mean. Both
    * axis vectors join blocks on their block index (never collected).
    * Exact-oracle: integer entries make every axis sum exact, and
    * `(v - rowMean) + colMean` is a fixed IEEE expression shape mirrored
    * in the SQL. */
  def axisBroadcast(s: SparkSession, d: String): DataFrame = {
    val a = matA(s)
    a.zipRowVec(a.rowMeanVec)(_ - _).zipColVec(a.colMeanVec)(_ + _).toCoords
  }

  /** Sparse×sparse matmul over COO frames (scipy.sparse parity —
    * reference SS/wukong/protocol/sparse.py): both operands are the LCG
    * matrices sparsified by a deterministic predicate (~20% density),
    * multiplied without ever densifying. Exact-integer oracle: the same
    * filter + join + group-by runs verbatim in DuckDB. */
  def sparseMatmul(s: SparkSession, d: String): DataFrame =
    Sparse.spmm(
      matA(s).toCoords.filter(col("v") % 5 === 0),
      matB(s).toCoords.filter(col("v") % 5 === 0))

  /** Bench-scale GEMM: 1024×1024 · 1024×1024, chunks 128 (~2.1 GFLOP) —
    * the throughput probe for BENCH, full-table checksum output. */
  def gemmBench(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val a = DMatrix.randInt(s, 1024, 1024, 128, 41L, mod = 100L)
    val b = DMatrix.randInt(s, 1024, 1024, 128, 43L, mod = 100L)
    val c = a.multiply(b)
    s.createDataset(Seq(c.sum)).toDF("checksum")
  }

  // ---------------------------------------------------------------------
  // Flagship-scale entries: the reference's PUBLISHED workload shapes run
  // at full size (reference README.md:220,243,265; docs/examples/
  // examples.rst:80-82) — not the scaled-down correctness probes above.
  // Each validates through an exact-integer checksum whose closed form is
  // cheap for the DuckDB oracle (never a full-matrix dump):
  //   sum(A·B)   = Σ_k colsum_A(k)·rowsum_B(k)
  //   sum(AᵀA)   = Σ_i rowsum_A(i)²   (entries rounded BEFORE summing, so
  //                factorization roundoff ≪0.5/entry never accumulates)
  //   Σσᵢ²       = ‖A‖²_F
  // All integer magnitudes stay below 2^53, so every sum is exact and
  // order-independent in doubles. These entries run once per bench pass
  // (Bench heavy set) — they are throughput demonstrations; per-entry
  // algorithmic correctness is already hash-matched at a01-a12 scale.
  // ---------------------------------------------------------------------

  /** GEMM at the reference flagship shape: 10,000² · 10,000², chunks
    * 1,000² (README.md:265-267) — 2 TFLOP through VectorBLAS block
    * kernels, ~8 GB of partial-product shuffle, map-side combined. */
  def gemm10k(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val a = DMatrix.randInt(s, 10000, 10000, 1000, 51L, mod = 100L)
    val b = DMatrix.randInt(s, 10000, 10000, 1000, 53L, mod = 100L)
    s.createDataset(Seq(math.round(a.multiply(b).sum))).toDF("checksum")
  }

  /** TSQR at the reference flagship shape: 262,144 × 128, chunks
    * 8,192 × 128 (docs/examples/examples.rst:80-82). Validated through
    * the Gram invariant RᵀR = AᵀA with per-entry rounding (QR roundoff
    * ~1e-2 absolute at this scale, ≪ 0.5), checksummed as Σ_i rowsum². */
  def tsqr262k(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val a = DMatrix.randInt(s, 262144, 128, 8192, 61L)
    val r = LinAlg.tsqr(a)
    val g = r.t * r
    var sum = 0L
    var i = 0
    while (i < g.rows) {
      var j = 0
      while (j < g.cols) { sum += math.round(g(i, j)); j += 1 }
      i += 1
    }
    s.createDataset(Seq(sum)).toDF("checksum")
  }

  /** Tall-skinny SVD at the reference flagship shape: 200,000 × 1,000
    * (README.md:220-224). Validated through Σσᵢ² = ‖A‖²_F on a mod-10
    * integer matrix (‖A‖²_F ≈ 5.7e9, Σσ² roundoff ~1e-3 ≪ 0.5). U stays
    * a lazy distributed map, exactly like dask computing only `s` —
    * the measured work is TSQR (the full pass over A's 200M cells) plus
    * the driver SVD of the 1,000² R factor. */
  def svd200k(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val a = DMatrix.randInt(s, 200000, 1000, 2000, 71L, mod = 10L)
    val (_, sv, _) = LinAlg.svdTallSkinny(a)
    s.createDataset(Seq(math.round(sv.toArray.map(x => x * x).sum))).toDF("checksum")
  }

  /** Randomized SVD at the reference flagship shape: 10,000 × 10,000,
    * chunks 2,000², k = 5 (README.md:243-247). A = X·Y is exactly rank 5,
    * so with l = k = 5 the sketch captures the whole range and U·Σ·Vᵀ
    * reconstructs A exactly (per-entry roundoff ~1e-7 ≪ 0.5); the
    * checksum Σ round(recon) equals sum(A) = Σ_k colsum_X(k)·rowsum_Y(k).
    * Exercises the full pipeline at scale: sketch product, 2 power
    * iterations (each a 10k²-matrix transpose + two GEMMs), distributed
    * QR, the B = QᵀA shuffle, and the distributed U·(ΣVᵀ) product. */
  def rsvd10k(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val x = DMatrix.randInt(s, 10000, 5, 2000, 81L, mod = 10L)
    val y = DMatrix.randInt(s, 5, 10000, 2000, 83L, mod = 10L)
    val a = x.multiply(y).persist()
    val (u, sv, v) = LinAlg.svdCompressed(a, k = 5, oversample = 0, seed = 77L)
    val svt = v.t.copy
    var si = 0
    while (si < sv.length) { svt(si, ::) :*= sv(si); si += 1 }
    val recon = u.multiply(DMatrix.fromLocal(s, svt, 2000))
    val checksum = recon.rdd.map { b =>
      var acc = 0L
      var i = 0
      while (i < b.data.length) { acc += math.round(b.data(i)); i += 1 }
      acc
    }.reduce(_ + _)
    a.unpersist()
    s.createDataset(Seq(checksum)).toDF("checksum")
  }

  /** Distributed least squares at the flagship TSQR shape: solve
    * min‖Ax − b‖ for A = 262,144 × 128 via the R factor — x =
    * (RᵀR)⁻¹Aᵀb with R from TSQR (the QR-stabilized normal equations;
    * Aᵀb is one distributed pass, R is 128²-local). The system is
    * CONSISTENT by construction (b = A·x₀ computed distributed, x₀
    * integer), so the minimizer is x₀ exactly; solver roundoff
    * ~cond(A)·ε ≪ 0.5 and round(x) recovers the integer solution —
    * hash-matched against the closed-form x₀ from the shared LCG. */
  def lstsq262k(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import breeze.linalg.{DenseMatrix => BDM, DenseVector => BDV}
    val m = 262144L; val n = 128; val bs = 8192
    val a = DMatrix.randInt(s, m, n, bs, 91L)
    val x0 = DMatrix.tabulate(s, n, 1, bs)((i, _) =>
      (DMatrix.lcg(9876L * n + i, 0, 1, 93L) % 100L).toDouble)
    val b = a.multiply(x0)                       // consistent rhs, distributed
    val r = LinAlg.tsqr(a)
    // Aᵀb: one distributed pass (transpose is a narrow map; the product
    // reduces to a single n-vector block)
    val atb = a.transpose.multiply(b)
    val atbLocal = BDV(atb.toCoords.collect().sortBy(_.getLong(0))
      .map(_.getDouble(2)))
    // solve RᵀR x = Aᵀb by two triangular solves (R is n×n, local)
    val rt = r.t
    val y = BDM.zeros[Double](n, 1)
    var i = 0
    while (i < n) {                              // forward solve Rᵀy = Aᵀb
      var acc = atbLocal(i)
      var k = 0
      while (k < i) { acc -= rt(i, k) * y(k, 0); k += 1 }
      y(i, 0) = acc / rt(i, i)
      i += 1
    }
    val x = BDM.zeros[Double](n, 1)
    i = n - 1
    while (i >= 0) {                             // back solve Rx = y
      var acc = y(i, 0)
      var k = i + 1
      while (k < n) { acc -= r(i, k) * x(k, 0); k += 1 }
      x(i, 0) = acc / r(i, i)
      i -= 1
    }
    s.createDataset((0 until n).map(j => (j.toLong, math.round(x(j, 0)))))
      .toDF("j", "x")
  }

  /** Cholesky scaled past the reference's published toy shape
    * (examples.rst:89-100 runs 100×100 chunks 25, matched at a08):
    * 2,048² chunks 256 — an 8-panel factorization that exercises the
    * keyed-join trailing update across >6 sequential panels and crosses
    * the checkpointEvery=6 lineage-truncation boundary mid-run. SPD
    * input is exact-integer (BᵀB + 10n·I, B the mod-10 LCG matrix;
    * λmin ≥ 10n keeps cond ~4e3), validated like a08 through the
    * reconstruction invariant L·Lᵀ = A — but checksummed, not dumped:
    * Σ round(L·Lᵀ) = sum(A) = Σ_k rowsum_B(k)² + 10n·n, closed-form
    * for the oracle. Recon roundoff envelope ~ε·n·‖A‖ ≈ 2e-2 ≪ 0.5,
    * so per-entry rounding before the sum is exact. */
  def cholesky2k(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val n = 2048; val bs = 256
    val base = DMatrix.randInt(s, n, n, bs, 97L, mod = 10L)
    val spd = base.gramian + (DMatrix.eye(s, n, bs) * (10.0 * n))
    val l = LinAlg.choleskyLower(spd)
    val checksum = l.transpose.gramian.rdd.map { b =>
      var acc = 0L
      var i = 0
      while (i < b.data.length) { acc += math.round(b.data(i)); i += 1 }
      acc
    }.reduce(_ + _)
    s.createDataset(Seq(checksum)).toDF("checksum")
  }

  /** Distributed blocked triangular solve (dask `da.linalg
    * .solve_triangular`): L·x = b for a diagonally-dominant lower factor
    * (2,048², chunks 256 — 8 substitution steps). The system is
    * CONSISTENT by construction: x₀ integer (LCG mod 100), b = L·x₀
    * computed distributed and exact (all magnitudes ≪ 2⁵³), so the
    * solution is x₀ exactly; substitution roundoff ≪ 0.5 under the
    * 10n-dominant diagonal and round(x) recovers the planted integers —
    * hash-matched against the closed-form x₀ from the shared LCG. */
  def triSolve2k(s: SparkSession, d: String): DataFrame = {
    val n = 2048L; val bs = 256
    val l = DMatrix.tabulate(s, n, n, bs) { (i, j) =>
      if (j > i) 0.0
      else {
        val v = (DMatrix.lcg(i, j, n, 107L) % 10L).toDouble
        if (i == j) v + 10.0 * n else v
      }
    }
    val x0 = DMatrix.tabulate(s, n, 1, bs)((i, _) =>
      (DMatrix.lcg(8765L * n + i, 0, 1, 95L) % 100L).toDouble)
    val b = l.multiply(x0)
    LinAlg.solveTriangular(l, b, lower = true).toCoords
      .select(col("i"), round(col("v")).cast("long").as("x"))
  }

  /** SPD linear solve (dask `da.linalg.solve`): A·x = b via distributed
    * Cholesky + two distributed triangular substitutions (forward on L,
    * backward on Lᵀ), end to end on a 1,024² SPD matrix (BᵀB + 10n·I,
    * chunks 128 — 8 Cholesky panels, 2×8 substitution steps). Same
    * consistent-system validation as a20: x₀ integer planted, b = A·x₀
    * exact, cond(A) small enough that round(x) = x₀ — hash-matched
    * against the closed-form x₀. */
  def spdSolve1k(s: SparkSession, d: String): DataFrame = {
    // bs=256 (4 panels, 2×4 substitution steps): the sequential step
    // count — pure scheduling latency at fixture scale — halves vs
    // bs=128 with identical results; a18 covers the many-panel shape.
    val n = 1024L; val bs = 256
    val base = DMatrix.randInt(s, n, n, bs, 109L, mod = 10L)
    val a = base.gramian + (DMatrix.eye(s, n, bs) * (10.0 * n))
    val x0 = DMatrix.tabulate(s, n, 1, bs)((i, _) =>
      (DMatrix.lcg(7654L * n + i, 0, 1, 89L) % 100L).toDouble)
    val b = a.multiply(x0)
    LinAlg.solveSpd(a, b).toCoords
      .select(col("i"), round(col("v")).cast("long").as("x"))
  }

  /** 1-D overlapping stencil (dask `da.map_overlap(f, depth=1,
    * boundary=0)`): y_i = x_{i-1} + 2·x_i + x_{i+1} over a 10,000-cell
    * chunked vector — the ghost-cell exchange runs block-to-neighbor
    * only (2 halo rows per boundary cross the shuffle, never the
    * vector). Integer-exact, so the window closed form is the oracle. */
  def mapOverlap(s: SparkSession, d: String): DataFrame = {
    val x = DMatrix.randInt(s, 10000, 1, 1024, 201L)
    x.mapOverlapRows(1)((p, c) => p(c - 1) + 2 * p(c) + p(c + 1))
      .toCoords
      .select(col("i"), round(col("v")).cast("long").as("y"))
  }

  /** Column-wise running sum (dask `da.cumsum(axis=0)`) over the shared
    * 64×48 LCG matrix: two-pass block prefix scan — per-block column
    * totals shuffle (one small vector per block), exclusive offsets per
    * block column, then one co-keyed join adds offsets to the local
    * cumsum. No global sort point. Exact-integer: the fixed
    * top-to-bottom addition order matches SQL's window frame. */
  def axisCumsum(s: SparkSession, d: String): DataFrame =
    matA(s).cumsumAxis0.toCoords

  /** Fixed-range histogram (dask `da.histogram(x, bins=10,
    * range=(0,1000))`) over a 256² LCG matrix: per-block bincount +
    * reduceByKey — ≤10 longs per map partition cross the shuffle. */
  def histogram(s: SparkSession, d: String): DataFrame =
    DMatrix.randInt(s, 256, 256, 64, 221L).histogram(0.0, 1000.0, 10)
      .orderBy("bin")

  /** a45: `da.unique(x, return_counts=True)` — distinct values with
    * multiplicities over a 256² LCG integer matrix (values 0..999).
    * Per-block bincount partial-combines map-side, so the shuffle
    * carries ≤ |domain| longs per map partition — the same bounded-
    * state shape as a25's histogram, but over the discovered value set
    * rather than fixed bins. Output is value-ordered (dask returns
    * sorted uniques). */
  def uniqueCounts(s: SparkSession, d: String): DataFrame =
    DMatrix.randInt(s, 256, 256, 64, 241L).toCoords
      .select(col("v").cast("long").as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("n"))
      .orderBy(col("v"))

  /** a46: `da.percentile(x.flatten(), [25, 50, 75])` — exact linearly-
    * interpolated percentiles of a chunked 1-D view, via the SAME
    * rank-probe prefix-scan machinery as q30 (`Relational.rankScan`):
    * the cells collapse to a value-frequency table (≤ |domain| rows),
    * one range exchange, bounded state at any array size — never a
    * percentile aggregate's per-reducer value map. */
  def percentileEntry(s: SparkSession, d: String): DataFrame =
    graft.operators.Relational.quartilesByKey(
      DMatrix.randInt(s, 256, 256, 64, 241L).toCoords
        .select(lit("all").as("k"), col("v").cast("long").as("v"))
        .groupBy(col("k"), col("v")).agg(count(lit(1)).as("cnt")))
      .toDF("k", "p25", "p50", "p75")

  /** Blocked LU without pivoting (dask `da.linalg.lu`) on a
    * diagonally-dominant integer matrix (96², chunks 32 — 3 panel
    * steps), validated through the reconstruction invariant L·U = A:
    * recon roundoff ≪ 0.5 under the 10n-dominant diagonal, so rounding
    * recovers the exact integer input — SQL-expressible from the shared
    * LCG. The factors themselves are exactness-checked in LinAlgSpec. */
  def luRecon(s: SparkSession, d: String): DataFrame = {
    val a = DMatrix.randInt(s, 96, 96, 32, 211L, mod = 10L) +
      (DMatrix.eye(s, 96, 32) * 960.0)
    val (l, u) = LinAlg.lu(a)
    l.multiply(u).toCoords
      .select(col("i"), col("j"), round(col("v")).cast("long").as("v"))
  }

  /** Concatenate along axis 0 (dask `da.concatenate([a, e], axis=0)`):
    * pure narrow re-index of the bottom grid — no data movement. */
  def vstackConcat(s: SparkSession, d: String): DataFrame =
    matA(s).vstack(matE(s)).toCoords

  /** Global top-k cells (dask `da.topk(x.flatten(), 10)`): declared as
    * orderBy+limit so Catalyst plans TakeOrderedAndProject — per-partition
    * bounded heaps, only k rows per partition ever move. Deterministic
    * tiebreak on (i, j). */
  def globalTopk(s: SparkSession, d: String): DataFrame =
    DMatrix.randInt(s, 256, 256, 64, 231L).toCoords
      .orderBy(col("v").desc, col("i"), col("j")).limit(10)

  /** Per-row argmax (dask `da.argmax(axis=1)`): per-block partial
    * (max, argj) vectors reduced on the block-row key — numpy first-hit
    * tie semantics, cells never shuffle. */
  def argmaxRows(s: SparkSession, d: String): DataFrame =
    matA(s).argmaxAxis1

  /** Diagonal + trace (dask `da.diag` / `da.trace`): the diagonal-block
    * filter prunes all off-diagonal work; trace rides the a07-style
    * sentinel row (i = −1). */
  def diagTrace(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val m = matS(s)
    val tr = math.round(m.trace)
    m.diagVec.select(col("i"), col("v").cast("long").as("v"))
      .union(Seq((-1L, tr)).toDF("i", "v"))
  }

  /** Matrix norms (dask `da.linalg.norm(x, ord)` for ord = 'fro', 1,
    * inf) on the shared LCG matrix — Frobenius is returned as the exact
    * squared sum so all three are integers; partial abs-sum vectors
    * reduce on the block index, only nb vectors shuffle. */
  def normsEntry(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (froSq, n1, nInf) = matA(s).norms
    s.createDataset(Seq((math.round(froSq), math.round(n1), math.round(nInf))))
      .toDF("fro_sq", "norm1", "norm_inf")
  }

  /** Multiplicative prefix scan (dask `da.cumprod(axis=0)`) over a ±1
    * matrix — the generalized [[DMatrix.scanAxis0]] two-pass shape with
    * a product monoid; ±1 entries keep every partial exactly
    * representable with no signed-zero hazard. */
  def axisCumprod(s: SparkSession, d: String): DataFrame = {
    val a = DMatrix.tabulate(s, 64, 48, 16) { (i, j) =>
      ((DMatrix.lcg(i, j, 48, 241L) % 2L) * 2L - 1L).toDouble
    }
    a.cumprodAxis0.toCoords
      .select(col("i"), col("j"), col("v").cast("long").as("v"))
  }

  /** Matrix inverse (dask `da.linalg.inv`) on a diagonally-dominant
    * integer matrix (96², chunks 32): blocked LU + two wide triangular
    * solves (rhs = I spans 3 block columns, solved as concurrent
    * chains). Validated through the reconstruction invariant A·A⁻¹ = I:
    * recon roundoff ≪ 0.5 under the dominant diagonal, so rounding
    * recovers the exact identity — trivially SQL-expressible. The
    * inverse itself is tolerance-checked against Breeze in LinAlgSpec. */
  def inverseRecon(s: SparkSession, d: String): DataFrame = {
    val a = DMatrix.randInt(s, 96, 96, 32, 251L, mod = 10L) +
      (DMatrix.eye(s, 96, 32) * 960.0)
    val x = LinAlg.inverse(a)
    a.multiply(x).toCoords
      .select(col("i"), col("j"), round(col("v")).cast("long").as("v"))
  }

  /** Short-fat SVD (the `da.linalg.svd` shape with m < n — dask routes
    * it through the transpose, as does [[LinAlg.svdShortFat]]): same
    * exact invariants as a07 on the transposed problem — the
    * DISTRIBUTED right factor's Gram VᵀV rounds to the identity and
    * Σσᵢ² = ‖A‖²_F exactly. */
  def svdWideValues(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val a = DMatrix.randInt(s, 64, 2048, 128, 261L)
    val (_, sv, v) = LinAlg.svdShortFat(a)
    val frob = math.round(sv.toArray.map(x => x * x).sum)
    val vv = v.gramian.toCoords
      .select(col("i"), col("j"), round(col("v")).cast("long").as("v"))
    vv.union(Seq((-1L, -1L, frob)).toDF("i", "j", "v"))
  }

  /** 2-D rechunk (dask `da.rechunk`) as a first-class gate entry: the
    * shared 64×48 chunks-16 matrix re-tiled to chunks-24 — a RAGGED
    * target grid (64 = 24+24+16) crossing every source block boundary,
    * so every re-tiling case (split, merge, offset copy) executes. The
    * values must be exactly the source matrix (rechunk is data
    * movement, never arithmetic): the oracle is the shared LCG itself.
    * One narrow flatMap + one keyed shuffle whose volume equals the
    * matrix size — the same single-pass cost at any scale. */
  def rechunkEntry(s: SparkSession, d: String): DataFrame = {
    val r = matA(s).rechunk(24)
    require(r.blockSize == 24, s"rechunk did not re-tile: bs=${r.blockSize}")
    r.toCoords
  }

  /** Column covariance (dask `da.cov(x, rowvar=False)`) in the exact
    * integer domain: emits n²·cov_pop[j,k] = n·Σᵢxᵢⱼxᵢₖ − (Σᵢxᵢⱼ)(Σᵢxᵢₖ)
    * — every term an exact integer ≪ 2⁵³, so the 48×48 covariance
    * structure is hash-matched cross-engine with no float division
    * anywhere (callers divide by n² or n(n−1) locally). Plan: one
    * distributed Gram (AᵀA — the a03 machinery) plus the per-column sum
    * vector joined back on both coordinates; only nb-sized partials
    * shuffle, never cells. */
  def covEntry(s: SparkSession, d: String): DataFrame = {
    val a = matA(s)                                    // 64×48, integer LCG
    val g = a.gramian.toCoords                         // G[j,k] = Σ_i x_ij·x_ik
    val cs = a.sumAxis0                                // (j, col_sum)
    g.join(cs.select(col("j").as("i"), col("col_sum").as("si")), "i")
      .join(cs.select(col("j"), col("col_sum").as("sj")), "j")
      .select(col("i"), col("j"),
              (lit(64L) * col("v") - col("si") * col("sj"))
                .cast("long").as("cov_n"))
  }

  /** Correlation matrix (dask `da.corrcoef(x, rowvar=False)`): a35's
    * exact-integer n²·cov matrix normalized by its diagonal —
    * corr[j,k] = cov_n[j,k] / sqrt(cov_n[j,j]·cov_n[k,k]) (the n²
    * factors cancel, so no extra scaling). All inputs to the float tail
    * are exact integers, the multiply/sqrt/divide sequence is identical
    * IEEE ops in both engines, and round(·,6) pins the printable value.
    * Plan: the a35 Gram + column-sum pipeline, then the 48-row diagonal
    * joined back twice — broadcast-sized at any matrix width that has a
    * computable dense correlation matrix. */
  def corrcoefEntry(s: SparkSession, d: String): DataFrame = GraftContext.scoped(s) { ctx =>
    val covn = ctx.pin(covEntry(s, d))
    val diag = covn.filter(col("i") === col("j"))
      .select(col("i").as("dj"), col("cov_n").as("dv"))
    covn
      // bounded: one diagonal row per matrix column, √ of covn's rows
      .join(broadcast(diag.select(col("dj").as("i"), col("dv").as("di"))), "i")
      .join(broadcast(diag.select(col("dj").as("j"), col("dv").as("djj"))), "j")
      .select(col("i"), col("j"),
              round(col("cov_n").cast("double") /
                    sqrt(col("di").cast("double") * col("djj").cast("double")), 6)
                .as("corr"))
      .localCheckpoint(true)
  }

  /** Circular shift + row reversal (dask `da.roll` / `da.flipud`) on a
    * RAGGED 53×21 grid (bs 16): the roll's wrap seam and the flip's
    * mirrored tail both land mid-block, so the piece-split paths (not
    * just whole-block re-keys) are what the oracle checks. Pure data
    * movement — the oracle is the shared LCG evaluated at the inverse
    * index map. One narrow flatMap + one keyed assemble each. */
  def rollFlipEntry(s: SparkSession, d: String): DataFrame = {
    val a = DMatrix.randInt(s, 53, 21, 16, 31L)
    a.rollRows(17).toCoords
      .select(lit("roll").as("op"), col("i"), col("j"), col("v"))
      .unionByName(a.flipRows.toCoords
        .select(lit("flip").as("op"), col("i"), col("j"), col("v")))
  }

  /** Mixed-chunk GEMM — the reference's own matmul example multiplies a
    * chunks-1000 matrix by a chunks-2000 one
    * (`/root/reference/README.md:265-270`; dask rechunks to a common
    * grid before the block algebra, and so do we): B re-tiles 24 → 16
    * via the narrow piece shuffle, then the standard blocked multiply.
    * Ragged shapes (96×64 · 64×80, bs 16 vs 24) make the re-tiling do
    * real boundary work. The oracle is the direct triple-sum over the
    * two LCG matrices — exact integers throughout. */
  def gemmRechunkEntry(s: SparkSession, d: String): DataFrame = {
    val a = DMatrix.randInt(s, 96, 64, 16, 41L)
    val b = DMatrix.randInt(s, 64, 80, 24, 43L).rechunk(16)
    a.multiply(b).toCoords
  }

  /** Rectangular slice (dask basic slicing `x[10:43, 5:29]`) — offsets
    * chosen to start and end mid-block on both axes, so the crop path
    * (not just whole-block passthrough) is what the oracle checks. The
    * oracle is the shared LCG evaluated at the SHIFTED indices. */
  def sliceEntry(s: SparkSession, d: String): DataFrame =
    matA(s).slice(10, 43, 5, 29).toCoords

  /** a57: strided + boolean-mask indexing (dask basic indexing
    * `x[3:64:2, 1:48:3]` and fancy indexing `x[x[:,0] % 3 == 0]`).
    * The stride starts and steps off the block grid so strided gather
    * (not whole-block passthrough) is exercised; the mask is COMPUTED
    * from the matrix itself (first-column divisibility), selected rows
    * compact upward in source order via the per-block-row prefix scan.
    * Oracles: the stride is the LCG at `(3+2i, 1+3j)`; the mask rows
    * are the LCG at the surviving source rows, renumbered by
    * row_number over the same predicate. */
  def stridedMaskEntry(s: SparkSession, d: String): DataFrame = {
    val a = matA(s)
    val st = a.sliceStep(3, 64, 2, 1, 48, 3).toCoords
      .select(lit("stride").as("op"), col("i"), col("j"), col("v"))
    val mask = a.slice(0, 64, 0, 1).mapElements(v => if (v % 3.0 == 0.0) 1.0 else 0.0)
    val mk = a.selectRows(mask).toCoords
      .select(lit("mask").as("op"), col("i"), col("j"), col("v"))
    st.unionByName(mk)
  }

  /** a63: integer fancy indexing `x[idx]` / `da.take(x, idx, axis=0)` —
    * the dask surface a57's mask can't express: the 90-long index
    * REORDERS (affine (37o+11) mod 64 scramble) and REPEATS rows
    * (90 > 64 source rows, so ≥26 duplicates), with output longer than
    * input. The shuffle scales with the OUTPUT volume. Oracle: the LCG
    * at the scrambled row index, in closed form. */
  def takeRowsEntry(s: SparkSession, d: String): DataFrame = {
    val idx = Array.tabulate(90)(o => ((o * 37 + 11) % 64).toLong)
    matA(s).takeRows(idx).toCoords
  }

  /** a64: 2-D tensordot / einsum contraction over a chosen axis pair
    * (`da.tensordot(x, y, axes=(0,0))` and `axes=(1,1)` — the two cases
    * that are NOT plain matmul, each needing a transposed layout).
    * Transpose is a narrow block map, so both plans cost exactly one
    * blocked GEMM. Integer operands keep every dot product exact
    * (≤ 64·999² < 2^53). Oracle: the contraction as a relational join
    * on the shared LCG CTEs. */
  def tensordotEntry(s: SparkSession, d: String): DataFrame = {
    val a = matA(s); val e = matE(s)
    val t00 = a.tensordot(e, 0, 0).toCoords
      .select(lit("td00").as("op"), col("i"), col("j"), col("v"))
    val t11 = a.tensordot(e, 1, 1).toCoords
      .select(lit("td11").as("op"), col("i"), col("j"), col("v"))
    t00.unionByName(t11)
  }

  /** Flagship-scale entry names: Bench runs these once per pass (not
    * REPS×), and PlanAuditSpec's join sweep skips them — their compute is
    * RDD block algebra (no Catalyst joins anywhere) and the returned
    * DataFrame is a one-row checksum LocalTableScan (a17: a 128-row
    * solution vector). */
  val flagship: Set[String] =
    Set("a13_gemm_10k", "a14_tsqr_262k", "a15_svd_200k", "a16_rsvd_10k",
        "a17_lstsq_262k", "a18_cholesky_2k")

  private def lcgSql(iExpr: String, jExpr: String, nCols: Int, seed: Int, mod: Int) =
    s"CAST(((($iExpr*$nCols+$jExpr)*1103515245+$seed)%2147483647)%$mod AS DOUBLE)"

  private def matSql(alias: String, m: Int, n: Int, seed: Int, mod: Int = 1000) =
    s"""$alias AS (SELECT ri.range AS i, rj.range AS j,
        ${lcgSql("ri.range", "rj.range", n, seed, mod)} AS v
        FROM range($m) ri, range($n) rj)"""

  /** The cooGen generator as a DuckDB CTE: one range scan, hash-gated
    * presence, hash-derived value — mirrors cooGen token for token. */
  private def cooSql(alias: String, m: Int, n: Int, seed: Int) =
    s"""$alias AS (SELECT range//$n AS i, range%$n AS j,
        CAST((range*1103515245+$seed)%2147483647%100+1 AS DOUBLE) AS v
        FROM range(${m.toLong * n})
        WHERE (range*1103515245+$seed)%2147483647%5 = 0)"""

  /** a40: Kronecker product C = A(24×16, chunks 8) ⊗ B(8×8) — the
    * dask `da.kron` pattern-expansion shape. B is broadcast once and
    * every A block expands IN PLACE to one 64×64 C tile: a pure narrow
    * map with zero shuffle (`DMatrix.kron`), so the plan cost is
    * exactly the |A|·|B| multiply FLOPs at any scale. Integer-valued
    * operands make all 24,576 C cells exact — the oracle recomputes
    * them from the shared LCG closed form by a range cross join. */
  def kronEntry(s: SparkSession, d: String): DataFrame =
    DMatrix.randInt(s, 24, 16, 8, 23L)
      .kron(DMatrix.randInt(s, 8, 8, 8, 29L))
      .toCoords

  /** a41: `da.digitize` against variable-width boundaries
    * [100, 250, 500, 900] on a 192×160 integer LCG matrix — per-bucket
    * count + exact value sum, partials bounded by |boundaries|+1 per
    * partition (the a25 histogram discipline with irregular bins; a
    * boundary-hit cell lands RIGHT per numpy right=False). */
  def digitizeEntry(s: SparkSession, d: String): DataFrame =
    DMatrix.randInt(s, 192, 160, 64, 77L)
      .digitize(Array(100.0, 250.0, 500.0, 900.0))
      .orderBy("bucket")

  /** a42: NaN-aware row reductions (`da.nansum/nanmean(axis=1)`) on a
    * 96×80 integer LCG matrix with NaNs PLANTED where v ≡ 3 (mod 7) —
    * the deterministic gap pattern the oracle mirrors as NULLs. Valid
    * counts and sums are exact integers; nanmean adds one mirrored
    * float division. The reduction shuffles two small vectors per
    * block (the sumAxis1 discipline), never cells. */
  def nanStatsEntry(s: SparkSession, d: String): DataFrame =
    DMatrix.randInt(s, 96, 80, 32, 57L)
      .mapElements(v => if (v.toLong % 7 == 3) Double.NaN else v)
      .nanRowStats
      .select(col("i"), col("n_valid"),
        col("nan_sum").cast("long").as("sum_v"),
        when(col("n_valid") > 0,
          round(col("nan_sum") / col("n_valid").cast("double"), 6)).as("nan_mean"))
      .orderBy("i")

  /** a43: matrix POWER A⁴ by repeated squaring — the composition shape
    * iterative algorithms (Markov chains, graph reachability) drive:
    * TWO multiplies instead of three, each the standard blocked GEMM.
    * A is 48² integer mod 10, so A⁴ entries (≤ ~7·10⁸) stay exact in
    * doubles and the full result hash-matches the oracle's three-join
    * closed form. */
  def matrixPowerEntry(s: SparkSession, d: String): DataFrame = {
    val a = DMatrix.randInt(s, 48, 48, 16, 67L, mod = 10L)
    val a2 = a.multiply(a)
    a2.multiply(a2).toCoords
  }

  /** a44: banded extraction (j − i ∈ [−3, 5]) of a 64² matrix — the
    * offset tril/triu family (`da.tril(A, k)`): off-band BLOCKS are
    * pruned before any cell is read, straddlers mask in place, so cost
    * follows the band volume. The oracle mirrors both the cell mask AND
    * the block-pruning row set (pruned blocks emit nothing, masked
    * cells emit zero — same contract as a04). */
  def bandEntry(s: SparkSession, d: String): DataFrame =
    DMatrix.randInt(s, 64, 64, BS, 83L).band(3, 5).toCoords

  /** a47: constant pad (`da.pad(x, ((3,13),(5,3)), mode='constant',
    * constant_values=7)`) of a 40×28 LCG matrix on a bs-16 grid — the
    * pad widths straddle block boundaries on every side (3 ragged-top,
    * 13 = blockSize-less-3 tail, 5/3 on columns), so both the offset
    * interior shuffle AND all four synthesized border strip shapes are
    * exercised. The oracle is the index-shifted LCG closed form with the
    * constant outside the interior window. */
  def padEntry(s: SparkSession, d: String): DataFrame =
    DMatrix.randInt(s, 40, 28, BS, 91L).pad(3, 13, 5, 3, 7.0).toCoords

  /** a48: row sort (`np.sort(x, axis=1)` via dask's rechunk-then-
    * map_blocks) on a 48×40 LCG matrix spanning 3 column blocks — the
    * stripe gather does real multi-block assembly. The oracle restates
    * "position j holds the j-th smallest" as a per-row row_number over
    * (v, j): with ties the VALUE at each rank is unique even though the
    * source index is not, and values are all the compare hashes. */
  def rowSortEntry(s: SparkSession, d: String): DataFrame =
    DMatrix.randInt(s, 48, 40, BS, 97L).sortAxis1

  /** a49: `da.where(cond, x, y)` composed with `da.clip` — the masked
    * conditional select numpy pipelines use for outlier capping. A pure
    * elementwise [[DMatrix.zip]]: block-aligned co-map, zero shuffle,
    * cost = one pass over the cells at any scale. Integer LCG operands
    * keep every branch exact. */
  def whereClipEntry(s: SparkSession, d: String): DataFrame = {
    val a = DMatrix.randInt(s, 64, 48, BS, 107L)
    val b = DMatrix.randInt(s, 64, 48, BS, 109L)
    a.zip(b)((av, bv) =>
      if (av > 500) math.min(math.max(bv, 100.0), 900.0) else -av).toCoords
  }

  /** a50: `da.diff(x, axis=0)` on a ragged 37×29 grid — both slices
    * start/end mid-block, so the crop path does real work. The oracle
    * is the LCG difference closed form at adjacent row indices. */
  def diffEntry(s: SparkSession, d: String): DataFrame =
    DMatrix.randInt(s, 37, 29, BS, 113L).diffAxis0.toCoords

  /** a51: `da.coarsen(np.sum, x, {0: 2, 1: 2})` — 64×48 bs-16 down to
    * 32×24 bs-8, a pure narrow map. Oracle: group the LCG cells by
    * (i÷2, j÷2) and sum. */
  def coarsenEntry(s: SparkSession, d: String): DataFrame =
    DMatrix.randInt(s, 64, 48, BS, 127L).coarsenSum(2).toCoords

  /** a52: weighted BINCOUNT (`da.bincount(x, weights=w)`) — the
    * value-frequency + weighted-mass table behind class-balance audits.
    * Bins from a mod-48 LCG, weights a second integer LCG: one
    * co-partitioned block join, per-partition bin accumulators, a
    * ≤ 48-partial shuffle ([[DMatrix.bincount]]). Integer weights keep
    * the mass sums exact; wsum is emitted as BIGINT. */
  def bincountEntry(s: SparkSession, d: String): DataFrame = {
    val x = DMatrix.randInt(s, 96, 80, BS, 131L, 48L)
    val w = DMatrix.randInt(s, 96, 80, BS, 137L)
    x.bincount(w)
      .select(col("bin"), col("n"), col("wsum").cast("long").as("wsum"))
      .orderBy("bin")
  }

  /** a53: per-row exact MEDIAN (`da.median(axis=1)`) — the row-wise
    * order statistic dask computes by rechunking each row into one
    * block. Same layout argument here: ONE exchange on the row key
    * gathers each row's cells, per-key state is bounded by the matrix
    * WIDTH (the fixed schema axis; rows are the axis that scales), so
    * the sorted-gather never grows with N. Emitted as med2 = the exact
    * integer sum of the two middle order statistics (= 2·median for
    * even width, avoiding the .5 float; equals twice the middle for odd
    * width) — engine-exact against the LCG closed form. */
  def rowMedianEntry(s: SparkSession, d: String): DataFrame =
    DMatrix.randInt(s, 96, 80, BS, 139L).toCoords
      .groupBy(col("i"))
      .agg(sort_array(collect_list(col("v"))).as("sv"),
           count(lit(1)).as("n"))
      .select(col("i"), col("n"),
        expr("""cast(element_at(sv, cast((n + 1) div 2 as int))
                   + element_at(sv, cast(n div 2 + 1 as int)) as bigint)""")
          .as("med2"))

  /** a54: 2-D HISTOGRAM (`da.histogram2d(x, y)`) — the joint
    * distribution grid behind feature-pair audits, composed from two
    * existing primitives: [[DMatrix.zip]] fuses the co-chunked x/y
    * cells into one encoded bin id (narrow, zero shuffle) and
    * [[DMatrix.bincount]] reduces it (≤ 100 bin partials per map
    * partition cross the wire — never cells). x bins on its high
    * digit, y on its MIDDLE digits — two same-multiplier LCG streams
    * are affinely related, so high-vs-high binning would collapse to a
    * diagonal band; the digit split decorrelates them and the grid
    * stays a fully-populated 10×10 at any N. */
  def histogram2dEntry(s: SparkSession, d: String): DataFrame = {
    val x = DMatrix.randInt(s, 96, 80, BS, 149L)
    val y = DMatrix.randInt(s, 96, 80, BS, 151L)
    x.zip(y)((a, b) => math.floor(a / 100.0) * 10 + math.floor(b % 100.0 / 10.0))
      .bincount(DMatrix.ones(s, 96, 80, BS))
      .select(expr("bin div 10").as("xb"), (col("bin") % 10).as("yb"), col("n"))
  }

  /** a55: per-row ARG-TOP-K (`da.argtopk(x, k=3, axis=1)`) — the top
    * three values AND their column indices per row, the row-wise
    * selection behind per-query shortlists. Same gather discipline as
    * a53: ONE exchange on the row key, per-key state bounded by matrix
    * WIDTH; the (v desc, j asc) tie-break is encoded by sorting
    * (−v, j) structs ascending, then slice + posexplode emit the three
    * ranked hits map-side. */
  def argTopkEntry(s: SparkSession, d: String): DataFrame =
    DMatrix.randInt(s, 96, 80, BS, 157L).toCoords
      .groupBy(col("i"))
      .agg(expr("slice(sort_array(collect_list(struct(-v AS nv, j))), 1, 3)")
        .as("top"))
      .select(col("i"), posexplode(col("top")))
      .select(col("i"), (col("pos") + 1).cast("long").as("rank"),
              col("col.j").as("j"), (-col("col.nv")).cast("long").as("v"))

  /** a56: concatenate along axis 1 (`da.concatenate([a, e], axis=1)`) —
    * the [[vstackConcat]] mirror: a pure narrow block-column re-index,
    * no data movement at any N. */
  def hstackConcat(s: SparkSession, d: String): DataFrame =
    matA(s).hstack(matE(s)).toCoords

  val queries: Map[String, Q] = Map(
    "a56_hstack"         -> (hstackConcat _),
    "a55_argtopk"        -> (argTopkEntry _),
    "a54_histogram2d"    -> (histogram2dEntry _),
    "a53_row_median"     -> (rowMedianEntry _),
    "a52_bincount"       -> (bincountEntry _),
    "a51_coarsen"        -> (coarsenEntry _),
    "a50_diff"           -> (diffEntry _),
    "a49_where_clip"     -> (whereClipEntry _),
    "a48_row_sort"       -> (rowSortEntry _),
    "a47_pad"            -> (padEntry _),
    "a44_band"           -> (bandEntry _),
    "a43_matrix_power"   -> (matrixPowerEntry _),
    "a42_nan_stats"      -> (nanStatsEntry _),
    "a41_digitize"       -> (digitizeEntry _),
    "a40_kron"           -> (kronEntry _),
    "a01_matmul"         -> (matmul _),
    "a02_axis_stats"     -> (axisStats _),
    "a03_gram"           -> (gram _),
    "a04_tril"           -> (tril _),
    "a05_elementwise"    -> (elementwise _),
    "a06_tsqr_gram"      -> (tsqrGram _),
    "a07_svd_values"     -> (svdValues _),
    "a08_cholesky_recon" -> (choleskyRecon _),
    "a09_svd_compressed" -> (svdCompressedValues _),
    "a10_gemm_bench"     -> (gemmBench _),
    "a11_axis_broadcast" -> (axisBroadcast _),
    "a12_sparse_matmul"  -> (sparseMatmul _),
    "a13_gemm_10k"       -> (gemm10k _),
    "a14_tsqr_262k"      -> (tsqr262k _),
    "a15_svd_200k"       -> (svd200k _),
    "a16_rsvd_10k"       -> (rsvd10k _),
    "a17_lstsq_262k"     -> (lstsq262k _),
    "a18_cholesky_2k"    -> (cholesky2k _),
    "a19_qr_square"      -> (qrSquare _),
    "a20_tri_solve"      -> (triSolve2k _),
    "a21_spd_solve"      -> (spdSolve1k _),
    "a22_map_overlap"    -> (mapOverlap _),
    "a23_axis_cumsum"    -> (axisCumsum _),
    "a24_lu_recon"       -> (luRecon _),
    "a25_histogram"      -> (histogram _),
    "a45_unique"         -> (uniqueCounts _),
    "a46_percentile"     -> (percentileEntry _),
    "a26_vstack"         -> (vstackConcat _),
    "a27_global_topk"    -> (globalTopk _),
    "a28_argmax_rows"    -> (argmaxRows _),
    "a29_diag_trace"     -> (diagTrace _),
    "a30_norms"          -> (normsEntry _),
    "a31_axis_cumprod"   -> (axisCumprod _),
    "a32_inverse"        -> (inverseRecon _),
    "a33_svd_wide"       -> (svdWideValues _),
    "a34_rechunk"        -> (rechunkEntry _),
    "a35_cov"            -> (covEntry _),
    "a36_slice"          -> (sliceEntry _),
    "a57_strided_mask"   -> (stridedMaskEntry _),
    "a58_sparse_ewise"   -> (sparseEwise _),
    "a59_sparse_reduce"  -> (sparseReduce _),
    "a60_spdm"           -> (sparseDenseGemm _),
    "a61_clip_where_isin" -> (clipWhereIsin _),
    "a62_cum_extrema"    -> (cumExtrema _),
    "a63_take_fancy"     -> (takeRowsEntry _),
    "a64_tensordot"      -> (tensordotEntry _),
    "a37_corrcoef"       -> (corrcoefEntry _),
    "a38_roll_flip"      -> (rollFlipEntry _),
    "a39_gemm_rechunk"   -> (gemmRechunkEntry _),
  )

  val oracles: Map[String, String] = Map(
    // adjacent-row LCG difference, indices shifted to the diff origin
    "a50_diff" ->
      s"""SELECT ri.range AS i, rj.range AS j,
                 ${lcgSql("(ri.range+1)", "rj.range", 29, 113, 1000)}
                 - ${lcgSql("ri.range", "rj.range", 29, 113, 1000)} AS v
          FROM range(36) ri, range(29) rj""",
    // 2×2 tile sums of the LCG grid
    "a51_coarsen" ->
      s"""WITH ${matSql("a", 64, 48, 127)}
          SELECT i // 2 AS i, j // 2 AS j, sum(v) AS v
          FROM a GROUP BY 1, 2""",
    // the a26 mirror: right grid's columns shift by the left width
    "a56_hstack" ->
      s"""WITH ${matSql("a", 64, 48, 7)}, ${matSql("e", 64, 48, 19)}
          SELECT i, j, v FROM a
          UNION ALL SELECT i, j + 48 AS j, v FROM e""",
    // same (v desc, j asc) per-row top-3 off the LCG closed form
    "a55_argtopk" ->
      s"""WITH ${matSql("a", 96, 80, 157)},
          r AS (SELECT i, j, v,
                       CAST(row_number() OVER (PARTITION BY i
                              ORDER BY v DESC, j) AS BIGINT) AS rank
                FROM a)
          SELECT i, rank, j, CAST(v AS BIGINT) AS v
          FROM r WHERE rank <= 3""",
    // x high digit × y middle digits off the two LCG closed forms
    // joined on the cell index (see the Scala side on decorrelation)
    "a54_histogram2d" ->
      s"""WITH ${matSql("x", 96, 80, 149)}, ${matSql("y", 96, 80, 151)}
          SELECT CAST(x.v AS BIGINT) // 100 AS xb,
                 CAST(y.v AS BIGINT) % 100 // 10 AS yb, count(*) AS n
          FROM x JOIN y ON x.i = y.i AND x.j = y.j
          GROUP BY 1, 2""",
    // same sorted-row order statistics off the LCG closed form
    "a53_row_median" ->
      s"""WITH ${matSql("a", 96, 80, 139)},
          g AS (SELECT i, list_sort(list(v)) AS sv, count(*) AS n
                FROM a GROUP BY 1)
          SELECT i, n, CAST(sv[CAST((n + 1) // 2 AS INT)]
                          + sv[CAST(n // 2 + 1 AS INT)] AS BIGINT) AS med2
          FROM g""",
    // bin/weight LCG pair joined on the cell index; integer mass sums
    "a52_bincount" ->
      s"""WITH ${matSql("x", 96, 80, 131, 48)}, ${matSql("w", 96, 80, 137)}
          SELECT CAST(x.v AS BIGINT) AS bin, count(*) AS n,
                 CAST(sum(CAST(w.v AS BIGINT)) AS BIGINT) AS wsum
          FROM x JOIN w ON x.i = w.i AND x.j = w.j
          GROUP BY 1""",
    // same mask + clip branches on the two LCG closed forms
    "a49_where_clip" ->
      s"""WITH ${matSql("a", 64, 48, 107)}, ${matSql("e", 64, 48, 109)}
          SELECT a.i AS i, a.j AS j,
                 CASE WHEN a.v > 500 THEN least(greatest(e.v, 100.0), 900.0)
                      ELSE -a.v END AS v
          FROM a JOIN e ON a.i = e.i AND a.j = e.j""",
    // interior = the LCG at the un-shifted indices; border = the constant
    "a47_pad" ->
      s"""SELECT ri.range AS i, rj.range AS j,
                 CASE WHEN ri.range BETWEEN 3 AND 42 AND rj.range BETWEEN 5 AND 32
                      THEN ${lcgSql("(ri.range-3)", "(rj.range-5)", 28, 91, 1000)}
                      ELSE 7.0 END AS v
          FROM range(56) ri, range(36) rj""",
    // value at sort position j = j-th smallest of the row
    "a48_row_sort" ->
      s"""WITH ${matSql("a", 48, 40, 97)}
          SELECT i, CAST(row_number() OVER (PARTITION BY i ORDER BY v, j) - 1
                         AS BIGINT) AS j, v
          FROM a""",
    // same cell mask + the same block-level pruning row set
    "a44_band" ->
      s"""WITH ${matSql("s", 64, 64, 83)}
          SELECT i, j,
                 CASE WHEN j - i BETWEEN -3 AND 5 THEN v ELSE 0.0 END AS v
          FROM s
          WHERE ((j//16)*16 + 15) - (i//16)*16 >= -3
            AND (j//16)*16 - ((i//16)*16 + 15) <= 5""",
    // A⁴ as the associative three-join closed form (A²·A²)
    "a43_matrix_power" ->
      s"""WITH ${matSql("a", 48, 48, 67, mod = 10)},
          a2 AS (SELECT x.i AS i, y.j AS j, sum(x.v * y.v) AS v
                 FROM a x JOIN a y ON x.j = y.i GROUP BY 1, 2)
          SELECT x.i AS i, y.j AS j, sum(x.v * y.v) AS v
          FROM a2 x JOIN a2 y ON x.j = y.i GROUP BY 1, 2""",
    // the planted-NaN rule becomes a NULL gate; count/sum skip NULLs in
    // both engines, the mean is the same single float division
    "a42_nan_stats" ->
      s"""WITH ${matSql("a", 96, 80, 57)},
          g AS (SELECT i, CASE WHEN CAST(v AS BIGINT) % 7 = 3 THEN NULL
                               ELSE v END AS v
                FROM a)
          SELECT i, count(v) AS n_valid,
                 CAST(coalesce(sum(v), 0) AS BIGINT) AS sum_v,
                 CASE WHEN count(v) > 0
                      THEN round(sum(v) / CAST(count(v) AS DOUBLE), 6) END AS nan_mean
          FROM g GROUP BY i ORDER BY i""",
    // bucket = #{boundaries <= v}, restated as a sum of indicators
    "a41_digitize" ->
      s"""WITH ${matSql("a", 192, 160, 77)}
          SELECT CAST(CASE WHEN v >= 100 THEN 1 ELSE 0 END
                    + CASE WHEN v >= 250 THEN 1 ELSE 0 END
                    + CASE WHEN v >= 500 THEN 1 ELSE 0 END
                    + CASE WHEN v >= 900 THEN 1 ELSE 0 END AS BIGINT) AS bucket,
                 count(*) AS n, sum(v) AS sum_v
          FROM a GROUP BY 1 ORDER BY 1""",
    // C[i1·8+i2, j1·8+j2] = A[i1,j1]·B[i2,j2] — the kron index map as a
    // plain cross join over the two LCG closed forms
    "a40_kron" ->
      s"""WITH ${matSql("a", 24, 16, 23)}, ${matSql("b", 8, 8, 29)}
          SELECT a.i*8 + b.i AS i, a.j*8 + b.j AS j, a.v * b.v AS v
          FROM a, b""",
    "a01_matmul" ->
      s"""WITH ${matSql("a", 64, 48, 7)}, ${matSql("b", 48, 32, 11)}
          SELECT a.i AS i, b.j AS j, sum(a.v * b.v) AS v
          FROM a JOIN b ON a.j = b.i GROUP BY 1, 2""",
    "a02_axis_stats" ->
      s"""WITH ${matSql("a", 64, 48, 7)}
          SELECT i, sum(v) AS row_sum, sum(v) / 48.0 AS row_mean
          FROM a GROUP BY i""",
    "a03_gram" ->
      s"""WITH ${matSql("a", 64, 48, 7)}
          SELECT a1.j AS i, a2.j AS j, sum(a1.v * a2.v) AS v
          FROM a a1 JOIN a a2 ON a1.i = a2.i GROUP BY 1, 2""",
    "a04_tril" ->
      s"""WITH ${matSql("s", 32, 32, 13)}
          SELECT i, j, CASE WHEN j <= i THEN v ELSE 0.0 END AS v
          FROM s WHERE (j // 16) <= (i // 16)""",
    "a05_elementwise" ->
      s"""WITH ${matSql("a", 64, 48, 7)}, ${matSql("e", 64, 48, 19)}
          SELECT a.i AS i, a.j AS j, a.v * e.v + 2 * a.v AS v
          FROM a JOIN e ON a.i = e.i AND a.j = e.j""",
    "a06_tsqr_gram" ->
      s"""WITH ${matSql("a", 4096, 64, 23)}
          SELECT a1.j AS i, a2.j AS j, CAST(round(sum(a1.v * a2.v)) AS BIGINT) AS v
          FROM a a1 JOIN a a2 ON a1.i = a2.i GROUP BY 1, 2""",
    "a07_svd_values" ->
      s"""WITH fr AS (SELECT CAST(-1 AS BIGINT) AS i, CAST(-1 AS BIGINT) AS j,
                 CAST(sum(v*v) AS BIGINT) AS v
            FROM (SELECT ((ri.range*64+rj.range)*1103515245+29)%2147483647%1000 AS v
                  FROM range(2048) ri, range(64) rj) t)
          SELECT ri.range AS i, rj.range AS j,
                 CAST(CASE WHEN ri.range = rj.range THEN 1 ELSE 0 END AS BIGINT) AS v
          FROM range(64) ri, range(64) rj
          UNION ALL SELECT * FROM fr""",
    "a09_svd_compressed" ->
      s"""WITH x AS (SELECT i.range AS i, k.range AS k,
                 ((i.range*15+k.range)*1103515245+101)%2147483647%10 AS v
               FROM range(512) i, range(15) k),
          y AS (SELECT k.range AS k, j.range AS j,
                 ((k.range*512+j.range)*1103515245+103)%2147483647%10 AS v
               FROM range(15) k, range(512) j)
          SELECT x.i AS i, y.j AS j, CAST(sum(x.v * y.v) AS BIGINT) AS v
          FROM x JOIN y ON x.k = y.k GROUP BY 1, 2""",
    "a08_cholesky_recon" ->
      s"""WITH ${matSql("b", 96, 96, 37, 10)}
          SELECT b1.j AS i, b2.j AS j,
                 CAST(round(sum(b1.v * b2.v)) + (CASE WHEN b1.j = b2.j THEN 960 ELSE 0 END) AS BIGINT) AS v
          FROM b b1 JOIN b b2 ON b1.i = b2.i GROUP BY 1, 2""",
    "a19_qr_square" ->
      s"""WITH ${matSql("a", 128, 128, 47)}
          SELECT i, j, CAST(v AS BIGINT) AS v FROM a""",
    "a11_axis_broadcast" ->
      s"""WITH ${matSql("a", 64, 48, 7)},
          rm AS (SELECT i, sum(v) / 48.0 AS rmean FROM a GROUP BY i),
          cm AS (SELECT j, sum(v) / 64.0 AS cmean FROM a GROUP BY j)
          SELECT a.i AS i, a.j AS j, (a.v - rm.rmean) + cm.cmean AS v
          FROM a JOIN rm ON a.i = rm.i JOIN cm ON a.j = cm.j""",
    // sum(A·B) = Σ_k colsumA(k)·rowsumB(k): every partial is an exact
    // integer below 2^53, so the distributed treeAggregate checksum is
    // order-independent and equals this closed form bit-for-bit.
    "a10_gemm_bench" ->
      """WITH ac AS (SELECT j.range AS k,
                sum(CAST(((i.range*1024+j.range)*1103515245+41)%2147483647%100 AS DOUBLE)) AS s
              FROM range(1024) i, range(1024) j GROUP BY 1),
            br AS (SELECT i.range AS k,
                sum(CAST(((i.range*1024+j.range)*1103515245+43)%2147483647%100 AS DOUBLE)) AS s
              FROM range(1024) i, range(1024) j GROUP BY 1)
         SELECT CAST(sum(ac.s * br.s) AS DOUBLE) AS checksum
         FROM ac JOIN br ON ac.k = br.k""",
    "a12_sparse_matmul" ->
      s"""WITH ${matSql("a", 64, 48, 7)}, ${matSql("b", 48, 32, 11)},
          sa AS (SELECT * FROM a WHERE v % 5 = 0),
          sb AS (SELECT * FROM b WHERE v % 5 = 0)
          SELECT sa.i AS i, sb.j AS j, sum(sa.v * sb.v) AS v
          FROM sa JOIN sb ON sa.j = sb.i GROUP BY 1, 2""",
    // sum(A·B) = Σ_k colsum_A(k)·rowsum_B(k): the flagship GEMM checksum
    // without the oracle doing the 10k³ matmul itself.
    "a13_gemm_10k" ->
      """WITH ac AS (SELECT j.range AS k,
                sum(((i.range*10000+j.range)*1103515245+51)%2147483647%100) AS s
              FROM range(10000) i, range(10000) j GROUP BY 1),
            br AS (SELECT i.range AS k,
                sum(((i.range*10000+j.range)*1103515245+53)%2147483647%100) AS s
              FROM range(10000) i, range(10000) j GROUP BY 1)
         SELECT CAST(sum(ac.s * br.s) AS BIGINT) AS checksum
         FROM ac JOIN br ON ac.k = br.k""",
    // sum over entries of AᵀA = Σ_i rowsum(i)² — exact integers < 2^53.
    "a14_tsqr_262k" ->
      """WITH rs AS (SELECT i.range AS i,
                sum(((i.range*128+j.range)*1103515245+61)%2147483647%1000) AS s
              FROM range(262144) i, range(128) j GROUP BY 1)
         SELECT CAST(sum(s * s) AS BIGINT) AS checksum FROM rs""",
    // Σσᵢ² = ‖A‖²_F — exact integer sum of squares of the mod-10 cells.
    "a15_svd_200k" ->
      """SELECT CAST(sum(v * v) AS BIGINT) AS checksum
         FROM (SELECT ((i.range*1000+j.range)*1103515245+71)%2147483647%10 AS v
               FROM range(200000) i, range(1000) j) t""",
    // sum(X·Y) = Σ_k colsum_X(k)·rowsum_Y(k) over the exact rank-5 input.
    "a16_rsvd_10k" ->
      """WITH xc AS (SELECT k.range AS k,
                sum(((i.range*5+k.range)*1103515245+81)%2147483647%10) AS s
              FROM range(10000) i, range(5) k GROUP BY 1),
            yr AS (SELECT k.range AS k,
                sum(((k.range*10000+j.range)*1103515245+83)%2147483647%10) AS s
              FROM range(5) k, range(10000) j GROUP BY 1)
         SELECT CAST(sum(xc.s * yr.s) AS BIGINT) AS checksum
         FROM xc JOIN yr ON xc.k = yr.k""",
    // Σ round(L·Lᵀ) = sum(A) = sum(BᵀB) + 10n·n = Σ_k rowsum_B(k)² + 10n²
    // — the oracle never factorizes anything.
    "a18_cholesky_2k" ->
      """WITH rs AS (SELECT i.range AS i,
                sum(((i.range*2048+j.range)*1103515245+97)%2147483647%10) AS s
              FROM range(2048) i, range(2048) j GROUP BY 1)
         SELECT CAST(sum(s * s) + 20480 * 2048 AS BIGINT) AS checksum FROM rs""",
    // consistent systems: the solution IS the planted x0, in closed form
    "a20_tri_solve" ->
      """SELECT i.range AS i,
                CAST(((8765*2048 + i.range)*1103515245 + 95) % 2147483647 % 100 AS BIGINT) AS x
         FROM range(2048) i""",
    "a21_spd_solve" ->
      """SELECT i.range AS i,
                CAST(((7654*1024 + i.range)*1103515245 + 89) % 2147483647 % 100 AS BIGINT) AS x
         FROM range(1024) i""",
    "a22_map_overlap" ->
      """WITH x AS (SELECT i.range AS i,
              CAST(((i.range*1+0)*1103515245+201)%2147483647%1000 AS BIGINT) AS v
            FROM range(10000) i)
         SELECT i, COALESCE(lag(v) OVER w, 0) + 2*v + COALESCE(lead(v) OVER w, 0) AS y
         FROM x WINDOW w AS (ORDER BY i)""",
    "a23_axis_cumsum" ->
      s"""WITH ${matSql("a", 64, 48, 7)}
          SELECT i, j, sum(v) OVER (PARTITION BY j ORDER BY i) AS v FROM a""",
    "a24_lu_recon" ->
      s"""WITH ${matSql("b", 96, 96, 211, 10)}
          SELECT i, j,
                 CAST(v + (CASE WHEN i = j THEN 960 ELSE 0 END) AS BIGINT) AS v
          FROM b""",
    "a25_histogram" ->
      s"""WITH ${matSql("a", 256, 256, 221)}
          SELECT CAST(floor(v/100) AS BIGINT) AS bin,
                 floor(v/100)*100.0 AS bin_lo, count(*) AS n
          FROM a GROUP BY 1, 2 ORDER BY 1""",
    // same discovered value set, same multiplicities, same order
    "a45_unique" ->
      s"""WITH ${matSql("a", 256, 256, 241)}
          SELECT CAST(v AS BIGINT) AS v, count(*) AS n
          FROM a GROUP BY 1 ORDER BY 1""",
    // same interpolated quartiles as q30's spelling, single stratum
    "a46_percentile" ->
      s"""WITH ${matSql("a", 256, 256, 241)}
          SELECT 'all' AS k,
                 round(quantile_cont(CAST(v AS BIGINT), 0.25), 4) AS p25,
                 round(quantile_cont(CAST(v AS BIGINT), 0.5), 4) AS p50,
                 round(quantile_cont(CAST(v AS BIGINT), 0.75), 4) AS p75
          FROM a""",
    "a26_vstack" ->
      s"""WITH ${matSql("a", 64, 48, 7)}, ${matSql("e", 64, 48, 19)}
          SELECT i, j, v FROM a
          UNION ALL SELECT i + 64 AS i, j, v FROM e""",
    "a27_global_topk" ->
      s"""WITH ${matSql("a", 256, 256, 231)}
          SELECT i, j, v FROM a ORDER BY v DESC, i, j LIMIT 10""",
    "a28_argmax_rows" ->
      s"""WITH ${matSql("a", 64, 48, 7)},
          mx AS (SELECT i, max(v) AS max_v FROM a GROUP BY i)
          SELECT a.i AS i, min(a.j) AS argmax_j, mx.max_v AS max_v
          FROM a JOIN mx ON a.i = mx.i AND a.v = mx.max_v
          GROUP BY a.i, mx.max_v""",
    "a29_diag_trace" ->
      s"""WITH ${matSql("s", 32, 32, 13)}
          SELECT i, CAST(v AS BIGINT) AS v FROM s WHERE i = j
          UNION ALL
          SELECT CAST(-1 AS BIGINT) AS i, CAST(sum(v) AS BIGINT) AS v
          FROM s WHERE i = j""",
    "a30_norms" ->
      s"""WITH ${matSql("a", 64, 48, 7)}
          SELECT CAST(sum(v*v) AS BIGINT) AS fro_sq,
                 CAST((SELECT max(s) FROM (SELECT sum(abs(v)) AS s FROM a GROUP BY j) t1) AS BIGINT) AS norm1,
                 CAST((SELECT max(s) FROM (SELECT sum(abs(v)) AS s FROM a GROUP BY i) t2) AS BIGINT) AS norm_inf
          FROM a""",
    "a31_axis_cumprod" ->
      """WITH a AS (SELECT ri.range AS i, rj.range AS j,
              ((((ri.range*48+rj.range)*1103515245+241)%2147483647)%2)*2-1 AS v
            FROM range(64) ri, range(48) rj)
         SELECT i, j, CAST(product(v) OVER (PARTITION BY j ORDER BY i) AS BIGINT) AS v
         FROM a""",
    "a32_inverse" ->
      """SELECT ri.range AS i, rj.range AS j,
                CAST(CASE WHEN ri.range = rj.range THEN 1 ELSE 0 END AS BIGINT) AS v
         FROM range(96) ri, range(96) rj""",
    "a33_svd_wide" ->
      s"""WITH fr AS (SELECT CAST(-1 AS BIGINT) AS i, CAST(-1 AS BIGINT) AS j,
                 CAST(sum(v*v) AS BIGINT) AS v
            FROM (SELECT ((ri.range*2048+rj.range)*1103515245+261)%2147483647%1000 AS v
                  FROM range(64) ri, range(2048) rj) t)
          SELECT ri.range AS i, rj.range AS j,
                 CAST(CASE WHEN ri.range = rj.range THEN 1 ELSE 0 END AS BIGINT) AS v
          FROM range(64) ri, range(64) rj
          UNION ALL SELECT * FROM fr""",
    // rechunk moves data, never values: the oracle is the LCG matrix itself
    "a34_rechunk" ->
      s"""WITH ${matSql("a", 64, 48, 7)}
          SELECT i, j, v FROM a""",
    "a35_cov" ->
      s"""WITH ${matSql("a", 64, 48, 7)},
          g AS (SELECT x.j AS i, y.j AS j, sum(x.v * y.v) AS g
                FROM a x JOIN a y ON x.i = y.i GROUP BY 1, 2),
          s AS (SELECT j, sum(v) AS s FROM a GROUP BY 1)
          SELECT g.i, g.j,
                 CAST(64*g.g - si.s*sj.s AS BIGINT) AS cov_n
          FROM g JOIN s si ON si.j = g.i JOIN s sj ON sj.j = g.j""",
    // a35's cov_n CTE normalized by its own diagonal — identical float
    // op sequence (cast, multiply, sqrt, divide, round 6)
    "a37_corrcoef" ->
      s"""WITH ${matSql("a", 64, 48, 7)},
          g AS (SELECT x.j AS i, y.j AS j, sum(x.v * y.v) AS g
                FROM a x JOIN a y ON x.i = y.i GROUP BY 1, 2),
          s AS (SELECT j, sum(v) AS s FROM a GROUP BY 1),
          covn AS (SELECT g.i, g.j,
                          CAST(64*g.g - si.s*sj.s AS BIGINT) AS cov_n
                   FROM g JOIN s si ON si.j = g.i JOIN s sj ON sj.j = g.j),
          diag AS (SELECT i AS dj, cov_n AS dv FROM covn WHERE i = j)
          SELECT c.i, c.j,
                 round(CAST(c.cov_n AS DOUBLE) /
                       sqrt(CAST(di.dv AS DOUBLE) * CAST(dj2.dv AS DOUBLE)), 6) AS corr
          FROM covn c JOIN diag di ON di.dj = c.i JOIN diag dj2 ON dj2.dj = c.j""",
    // pure index remaps of the LCG: roll out(i,j) = a((i−17) mod 53, j),
    // flip out(i,j) = a(52−i, j)
    "a38_roll_flip" ->
      s"""SELECT 'roll' AS op, ri.range AS i, rj.range AS j,
                 ${lcgSql("((ri.range+36)%53)", "rj.range", 21, 31, 1000)} AS v
          FROM range(53) ri, range(21) rj
          UNION ALL
          SELECT 'flip', ri.range, rj.range,
                 ${lcgSql("(52-ri.range)", "rj.range", 21, 31, 1000)}
          FROM range(53) ri, range(21) rj""",
    // the rechunk moves data, never values: the oracle is the plain
    // triple-sum product of the two LCG matrices
    "a39_gemm_rechunk" ->
      s"""WITH ${matSql("a", 96, 64, 41)}, ${matSql("b", 64, 80, 43)}
          SELECT a.i AS i, b.j AS j, sum(a.v * b.v) AS v
          FROM a JOIN b ON a.j = b.i GROUP BY 1, 2""",
    // LEAST/GREATEST clamp, CASE on parity, and IN membership over the
    // shared LCG
    "a61_clip_where_isin" ->
      s"""WITH ${matSql("a", 64, 48, 7)}
          SELECT 'clip' AS op, i, j, LEAST(GREATEST(v, 200), 700) AS v FROM a
          UNION ALL
          SELECT 'where', i, j, CASE WHEN v % 2 <> 0 THEN v ELSE -v END FROM a
          UNION ALL
          SELECT 'isin', i, j,
                 CASE WHEN v IN (7, 42, 123, 999) THEN CAST(1 AS DOUBLE)
                      ELSE CAST(0 AS DOUBLE) END FROM a""",
    // cumulative per-column window extrema over the same LCG
    "a62_cum_extrema" ->
      s"""WITH ${matSql("a", 64, 48, 7)}
          SELECT 'cummax' AS op, i, j,
                 max(v) OVER (PARTITION BY j ORDER BY i) AS v FROM a
          UNION ALL
          SELECT 'cummin', i, j,
                 min(v) OVER (PARTITION BY j ORDER BY i) FROM a""",
    // the same hash-gated COO generators in closed form (present iff
    // hash%5=0, value hash%100+1); add = union-support sum, mul =
    // intersection product, build = the doubled input summed
    "a58_sparse_ewise" ->
      s"""WITH ${cooSql("ca", 40, 32, 201)}, ${cooSql("cb", 40, 32, 203)}
          SELECT 'add' AS op, i, j, CAST(sum(v) AS DOUBLE) AS v
          FROM (SELECT * FROM ca UNION ALL SELECT * FROM cb) GROUP BY 2, 3
          UNION ALL
          SELECT 'mul', ca.i, ca.j, ca.v * cb.v
          FROM ca JOIN cb ON ca.i = cb.i AND ca.j = cb.j
          UNION ALL
          SELECT 'build', i, j, 2 * v FROM ca""",
    "a59_sparse_reduce" ->
      s"""WITH ${cooSql("ca", 40, 32, 201)}
          SELECT 'rowsum' AS op, i AS k, CAST(sum(v) AS DOUBLE) AS v FROM ca GROUP BY 2
          UNION ALL
          SELECT 'colsum', j, CAST(sum(v) AS DOUBLE) FROM ca GROUP BY 2
          UNION ALL
          SELECT 'rownnz', i, CAST(count(*) AS DOUBLE) FROM ca GROUP BY 2
          UNION ALL
          SELECT 'total', -1, CAST(sum(v) AS DOUBLE) FROM ca""",
    // triple-sum over the sparse support joined to the dense closed
    // form; dense values are %999+1 (never zero), so the join support
    // equals the Spark side's nonzero filter
    "a60_spdm" ->
      s"""WITH ${cooSql("ca", 40, 32, 201)},
          d AS (SELECT ri.range AS i, rj.range AS j,
                       CAST(((ri.range*24+rj.range)*1103515245+205)%2147483647%999+1 AS DOUBLE) AS v
                FROM range(32) ri, range(24) rj)
          SELECT ca.i AS i, d.j AS j, CAST(sum(ca.v * d.v) AS DOUBLE) AS v
          FROM ca JOIN d ON d.i = ca.j
          GROUP BY 1, 2""",
    // stride: the LCG at (3+2i, 1+3j); mask: surviving source rows
    // (first-column LCG divisible by 3) renumbered by row_number over
    // the same predicate — both in closed form
    "a57_strided_mask" ->
      s"""SELECT 'stride' AS op, ri.range AS i, rj.range AS j,
                 ${lcgSql("(3+2*ri.range)", "(1+3*rj.range)", 48, 7, 1000)} AS v
          FROM range(31) ri, range(16) rj
          UNION ALL
          SELECT 'mask', s.oi, rj.range,
                 ${lcgSql("s.si", "rj.range", 48, 7, 1000)}
          FROM (SELECT ri.range AS si,
                       row_number() OVER (ORDER BY ri.range) - 1 AS oi
                FROM range(64) ri
                WHERE ${lcgSql("ri.range", "0", 48, 7, 1000)} % 3 = 0) s,
               range(48) rj""",
    // fancy index: out(o,j) = lcg((37o+11) mod 64, j) — reorder + repeats
    "a63_take_fancy" ->
      s"""SELECT o.range AS i, rj.range AS j,
                 ${lcgSql("((o.range*37+11)%64)", "rj.range", 48, 7, 1000)} AS v
          FROM range(90) o, range(48) rj""",
    // both contractions as joins over the shared LCG CTEs: axes=(0,0)
    // sums over shared rows, axes=(1,1) over shared columns
    "a64_tensordot" ->
      s"""WITH ${matSql("ma", 64, 48, 7)}, ${matSql("me", 64, 48, 19)}
          SELECT 'td00' AS op, a.j AS i, b.j AS j, sum(a.v * b.v) AS v
          FROM ma a JOIN me b ON a.i = b.i GROUP BY 2, 3
          UNION ALL
          SELECT 'td11', a.i, b.i, sum(a.v * b.v)
          FROM ma a JOIN me b ON a.j = b.j GROUP BY 2, 3""",
    // the slice in source coordinates: out(i,j) = lcg(i+10, j+5)
    "a36_slice" ->
      s"""SELECT ri.range AS i, rj.range AS j,
          ${lcgSql("(ri.range+10)", "(rj.range+5)", 48, 7, 1000)} AS v
          FROM range(33) ri, range(24) rj""",
    // consistent system: the minimizer IS the planted x0, in closed form
    "a17_lstsq_262k" ->
      """SELECT j.range AS j,
                CAST(((9876*128 + j.range)*1103515245 + 93) % 2147483647 % 100 AS BIGINT) AS x
         FROM range(128) j""",
  )
}
