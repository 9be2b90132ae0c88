package graft.array

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sparse matrix payloads (reference ships scipy.sparse protocol handlers
  * — SS/wukong/protocol/sparse.py, tests/test_collections.py:179).
  *
  * The Spark-native sparse representation is the COO `(i, j, v)`
  * DataFrame, not a port of CSR blocks: shuffles then move only present
  * cells, the sparse kernels ARE relational operators (equi-join on the
  * contracted index + hash aggregation), and Catalyst prunes columns /
  * pushes filters into the scan like any other plan. Cost is O(aligned
  * nnz pairs) — nothing ever densifies, so a 100 TB sparse corpus flows
  * through the same plan shape as the sf fixtures.
  */
object Sparse {

  /** Sparse×sparse matmul over COO frames: join A's column index to B's
    * row index, hash-agg partial products per output cell (map-side
    * combine). Output contains only cells with ≥1 contributing pair —
    * true sparse semantics. */
  def spmm(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("i").as("ai"), col("j").as("k"), col("v").as("av"))
      .join(b.select(col("i").as("bk"), col("j").as("bj"), col("v").as("bv")),
            col("k") === col("bk"))
      .groupBy(col("ai").as("i"), col("bj").as("j"))
      .agg(sum(col("av") * col("bv")).as("v"))

  /** Sparse matrix × sparse vector: `x` is a COO vector frame (i, v).
    * The vector side is typically small → Catalyst broadcasts it and the
    * kernel is a map-side hash join + one aggregation. */
  def spmv(a: DataFrame, x: DataFrame): DataFrame =
    a.join(x.select(col("i").as("k"), col("v").as("xv")), col("j") === col("k"))
      .groupBy(col("i")).agg(sum(col("v") * col("xv")).as("v"))

  /** Sparse transpose / scalar scale — trivial projections, listed for
    * surface completeness. */
  def transpose(a: DataFrame): DataFrame =
    a.select(col("j").as("i"), col("i").as("j"), col("v"))
  def scale(a: DataFrame, s: Double): DataFrame =
    a.select(col("i"), col("j"), (col("v") * s).as("v"))

  /** COO build with duplicate-summing (scipy `coo_matrix` semantics:
    * repeated (i,j) entries ADD on construction — the accumulate-then-
    * build pattern gradient and co-occurrence pipelines rely on). One
    * hash aggregation with map-side combine; nothing densifies. */
  def fromCoo(cells: DataFrame): DataFrame =
    cells.groupBy(col("i"), col("j")).agg(sum(col("v")).as("v"))

  /** Elementwise add `A + B`: present cells are the UNION of supports —
    * union-all + hash-agg, O(nnz_A + nnz_B), map-side combined. */
  def add(a: DataFrame, b: DataFrame): DataFrame =
    fromCoo(a.select(col("i"), col("j"), col("v"))
      .unionByName(b.select(col("i"), col("j"), col("v"))))

  /** Elementwise (Hadamard) multiply `A.multiply(B)` (scipy): present
    * cells are the INTERSECTION of supports — an equi-join on (i,j),
    * shuffling only present cells of each side. */
  def multiply(a: DataFrame, b: DataFrame): DataFrame = {
    val bb = b.select(col("i").as("_bi"), col("j").as("_bj"), col("v").as("_bv"))
    a.join(bb, col("i") === col("_bi") && col("j") === col("_bj"))
      .select(col("i"), col("j"), (col("v") * col("_bv")).as("v"))
  }

  /** Axis reductions over the support — each a single hash aggregation
    * (partial before the shuffle), never materializing absent cells. */
  def rowSums(a: DataFrame): DataFrame = a.groupBy(col("i")).agg(sum(col("v")).as("v"))
  def colSums(a: DataFrame): DataFrame = a.groupBy(col("j")).agg(sum(col("v")).as("v"))
  def rowNnz(a: DataFrame): DataFrame =
    a.groupBy(col("i")).agg(count(lit(1)).cast("double").as("v"))

  /** Sparse × dense GEMM: COO A (m×k) times blocked dense B (k×n) → a
    * blocked dense [[DMatrix]] (sparse·dense is dense in general).
    *
    * Shape: cells key by their INNER block index and cogroup with B's
    * block row — each (cell-stripe, B-block) pair scales one dense block
    * row by the cell value into a local per-output-block accumulator, so
    * the work and shuffle volume are O(nnz · n / bs · bs) partial
    * blocks, map-side combined by `reduceByKey(addInto)` exactly like
    * the dense GEMM's partial-product reduction. A's cell values never
    * fan out per output COLUMN (the naive join-on-k shape would ship
    * nnz·n rows); only block-sized partials move. Block rows of the
    * output with no sparse cells are absent (zero) — the shallow-grid
    * convention the dense ops already follow. */
  def spdm(a: DataFrame, b: DMatrix, m: Long): DMatrix = {
    val spark = a.sparkSession
    import spark.implicits._
    val bs = b.blockSize
    val nOut = b.nCols
    val cells = a
      .select(col("i").cast("long"), col("j").cast("long"), col("v").cast("double"))
      .as[(Long, Long, Double)].rdd
      .map { case (i, k, v) => ((k / bs).toInt, (i, k, v)) }
    val bBlocks = b.rdd.map(bl => (bl.bi, bl))
    val partials = cells.cogroup(bBlocks).flatMap { case (bk, (cs, bls)) =>
      val cellArr = cs.toArray
      if (cellArr.isEmpty) Iterator.empty
      else bls.iterator.flatMap { bl =>
        val acc = scala.collection.mutable.Map[Int, Array[Double]]()
        cellArr.foreach { case (i, k, v) =>
          val biOut = (i / bs).toInt
          val rows = DMatrix.blockDim(m, bs, biOut)
          val arr = acc.getOrElseUpdate(biOut, new Array[Double](rows * bl.cols))
          val r = (i - biOut.toLong * bs).toInt
          val kk = (k - bk.toLong * bs).toInt
          var c = 0
          while (c < bl.cols) { arr(r + c * rows) += v * bl.data(kk + c * bl.rows); c += 1 }
        }
        acc.iterator.map { case (biOut, arr) => ((biOut, bl.bj), arr) }
      }
    }
    val blocks = partials.reduceByKey(DMatrix.addInto).map { case ((bi, bj), data) =>
      Block(bi, bj, DMatrix.blockDim(m, bs, bi), DMatrix.blockDim(nOut, bs, bj), data)
    }
    new DMatrix(blocks, m, nOut, bs, spark)
  }

  /** COO → blocked dense [[DMatrix]] (the scipy `.toarray()` analog,
    * distributed): cells shuffle once on their block key and each block
    * materializes from its own group. Per-group state is bounded by
    * bs² cells, so the groupByKey holds one block's worth at a time. */
  def toDense(coords: DataFrame, m: Long, n: Long, bs: Int): DMatrix = {
    val spark = coords.sparkSession
    import spark.implicits._
    val blocks = coords
      .select(col("i").cast("long"), col("j").cast("long"), col("v").cast("double"))
      .as[(Long, Long, Double)].rdd
      .map { case (i, j, v) => (((i / bs).toInt, (j / bs).toInt), (i, j, v)) }
      .groupByKey()
      .map { case ((bi, bj), cells) =>
        val rows = DMatrix.blockDim(m, bs, bi)
        val cols = DMatrix.blockDim(n, bs, bj)
        val data = new Array[Double](rows * cols)
        cells.foreach { case (i, j, v) =>
          data(((i - bi.toLong * bs) + (j - bj.toLong * bs) * rows).toInt) = v
        }
        Block(bi, bj, rows, cols, data)
      }
    new DMatrix(blocks, m, n, bs, spark)
  }
}
