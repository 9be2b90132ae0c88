package graft.array

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel
import breeze.linalg.{DenseMatrix => BDM}

/** One block of a chunked matrix — the Spark analog of a dask.array chunk
  * (reference: `da.random.random((200000,1000), chunks=(10000,1000))`,
  * /root/reference/README.md:220). `data` is column-major (Breeze layout)
  * so per-block kernels wrap it with zero copy.
  */
case class Block(bi: Int, bj: Int, rows: Int, cols: Int, data: Array[Double]) {
  def toBreeze: BDM[Double] = new BDM(rows, cols, data)
}

/** Distributed block matrix: the rebuild of the reference's dask.array
  * surface (SURVEY.md §2.B3) as a `Dataset[Block]`.
  *
  * Scale design (the 100 TB stance):
  *  - every op is a distributed map / shuffle over blocks; nothing ever
  *    collects the matrix to the driver (only nb×nb-small factors like
  *    TSQR's R leave the cluster);
  *  - matmul joins on the inner block index and reduces partial products
  *    with `reduceByKey` (map-side combine), mirroring MLlib
  *    BlockMatrix.multiply semantics;
  *  - constructors are seeded per-cell so any block can be (re)built
  *    independently on any executor — the analog of dask's deterministic
  *    chunked RNG (`da.random` chunk semantics).
  */
class DMatrix(
    val blocks: Dataset[Block],
    val nRows: Long,
    val nCols: Long,
    val blockSize: Int) extends Serializable {

  import DMatrix.addInto

  private def spark: SparkSession = blocks.sparkSession
  def nbRows: Int = DMatrix.nBlocks(nRows, blockSize)
  def nbCols: Int = DMatrix.nBlocks(nCols, blockSize)

  /** Elementwise unary map (dask `x * 2`, `x - c`, `abs(x)`, …). */
  def mapElements(f: Double => Double): DMatrix = {
    import blocks.sparkSession.implicits._
    new DMatrix(blocks.map { b =>
      val out = new Array[Double](b.data.length)
      var i = 0
      while (i < out.length) { out(i) = f(b.data(i)); i += 1 }
      b.copy(data = out)
    }, nRows, nCols, blockSize)
  }

  def *(s: Double): DMatrix = mapElements(_ * s)
  def +(s: Double): DMatrix = mapElements(_ + s)

  /** numpy/dask `da.clip(x, lo, hi)` — narrow map, no data movement. */
  def clip(lo: Double, hi: Double): DMatrix =
    mapElements(v => math.min(hi, math.max(lo, v)))

  /** numpy/dask `da.isin(x, values)` → 0/1 indicator matrix. The value
    * set broadcasts inside the map closure (it is membership metadata,
    * sized like a dimension table, never like the matrix). */
  def isin(values: Set[Double]): DMatrix = {
    val s = values
    mapElements(v => if (s.contains(v)) 1.0 else 0.0)
  }

  /** Running extrema down the rows (dask `da.maximum.accumulate` /
    * `np.fmax.accumulate(x, axis=0)`): the generic two-pass prefix
    * scan with the max/min monoid — same no-global-sort shape as
    * cumsum. */
  def cummaxAxis0: DMatrix = scanAxis0(math.max, Double.NegativeInfinity)
  def cumminAxis0: DMatrix = scanAxis0(math.min, Double.PositiveInfinity)

  /** Elementwise binary op with an identically-chunked matrix
    * (dask `x + y`, `x - y`): one co-partitioned join on block key. */
  def zip(other: DMatrix)(f: (Double, Double) => Double): DMatrix = {
    require(nRows == other.nRows && nCols == other.nCols &&
            blockSize == other.blockSize, "shape/chunk mismatch")
    import blocks.sparkSession.implicits._
    val joined = blocks.rdd.map(b => ((b.bi, b.bj), b))
      .join(other.blocks.rdd.map(b => ((b.bi, b.bj), b)))
      .map { case (_, (x, y)) =>
        val out = new Array[Double](x.data.length)
        var i = 0
        while (i < out.length) { out(i) = f(x.data(i), y.data(i)); i += 1 }
        x.copy(data = out)
      }
    new DMatrix(spark.createDataset(joined), nRows, nCols, blockSize)
  }

  def +(other: DMatrix): DMatrix = zip(other)(_ + _)
  def -(other: DMatrix): DMatrix = zip(other)(_ - _)
  def hadamard(other: DMatrix): DMatrix = zip(other)(_ * _)

  /** Transpose: pure narrow map — swap block indices, transpose data. */
  def transpose: DMatrix = {
    import blocks.sparkSession.implicits._
    new DMatrix(blocks.map { b =>
      val out = new Array[Double](b.data.length)
      var j = 0
      while (j < b.cols) {
        var i = 0
        while (i < b.rows) { out(j + i * b.cols) = b.data(i + j * b.rows); i += 1 }
        j += 1
      }
      Block(b.bj, b.bi, b.cols, b.rows, out)
    }, nCols, nRows, blockSize)
  }

  /** Re-block to a new chunk size (dask `x.rechunk(...)`): each source
    * block splits into the pieces that land in each target block (a
    * narrow flatMap), then one keyed shuffle assembles targets. Only
    * block-sized arrays move — the piece total equals the matrix size,
    * so the shuffle is a single pass over the data regardless of how the
    * grids intersect. Needed by QR/TSQR on multi-column-block layouts,
    * which (like dask's `da.linalg.qr`) require a single column block. */
  def rechunk(newBs: Int): DMatrix = {
    require(newBs > 0, s"rechunk to non-positive block size $newBs")
    if (newBs == blockSize) return this
    val (m, n, bs) = (nRows, nCols, blockSize)
    val pieces = blocks.rdd.flatMap { b =>
      val gr0 = b.bi.toLong * bs
      val gc0 = b.bj.toLong * bs
      for {
        tbi <- ((gr0 / newBs).toInt to ((gr0 + b.rows - 1) / newBs).toInt).iterator
        tbj <- ((gc0 / newBs).toInt to ((gc0 + b.cols - 1) / newBs).toInt).iterator
      } yield {
        val r0 = math.max(gr0, tbi.toLong * newBs)
        val r1 = math.min(gr0 + b.rows, (tbi + 1).toLong * newBs)
        val c0 = math.max(gc0, tbj.toLong * newBs)
        val c1 = math.min(gc0 + b.cols, (tbj + 1).toLong * newBs)
        val pr = (r1 - r0).toInt; val pc = (c1 - c0).toInt
        val piece = new Array[Double](pr * pc)
        var cc = 0
        while (cc < pc) {                     // column-major slice copy
          val srcOff = ((c0 - gc0).toInt + cc) * b.rows + (r0 - gr0).toInt
          System.arraycopy(b.data, srcOff, piece, cc * pr, pr)
          cc += 1
        }
        ((tbi, tbj),
         ((r0 - tbi.toLong * newBs).toInt, (c0 - tbj.toLong * newBs).toInt, pr, pc, piece))
      }
    }
    assemblePieces(pieces, m, n, newBs)
  }

  /** Assemble `((tbi,tbj), (rowOff, colOff, pr, pc, data))` pieces into
    * an (m × n, bs) grid — the shared tail of [[rechunk]] and [[slice]].
    * groupByKey is safe here: the per-key payload is exactly one target
    * block's worth of data (its pieces tile it disjointly). */
  private def assemblePieces(
      pieces: org.apache.spark.rdd.RDD[((Int, Int), (Int, Int, Int, Int, Array[Double]))],
      m: Long, n: Long, bs: Int): DMatrix = {
    val nParts = math.max(1, math.min(blocks.rdd.getNumPartitions,
      DMatrix.nBlocks(m, bs) * DMatrix.nBlocks(n, bs)))
    import blocks.sparkSession.implicits._
    val assembled = pieces.groupByKey(nParts).map { case ((tbi, tbj), ps) =>
      val rows = DMatrix.blockDim(m, bs, tbi)
      val cols = DMatrix.blockDim(n, bs, tbj)
      val data = new Array[Double](rows * cols)
      ps.foreach { case (ro, co, pr, pc, pd) =>
        var cc = 0
        while (cc < pc) {
          System.arraycopy(pd, cc * pr, data, (co + cc) * rows + ro, pr)
          cc += 1
        }
      }
      Block(tbi, tbj, rows, cols, data)
    }
    new DMatrix(blocks.sparkSession.createDataset(assembled), m, n, bs)
  }

  /** Circular row shift (dask `da.roll(x, k, axis=0)`): pure data
    * movement — source row g lands at (g + k) mod m. Each block splits
    * at the wrap seam into ≤ 2 spans whose destinations are contiguous,
    * each span then splits on destination block boundaries (the rechunk
    * pattern) — narrow column-major copies, one keyed assemble, volume
    * = matrix size in exactly one pass. */
  def rollRows(shift: Long): DMatrix = {
    val m = nRows; val n = nCols; val bs = blockSize
    val k = ((shift % m) + m) % m
    if (k == 0) return this
    val wrapSrc = m - k                       // source row whose dest is 0
    val pieces = blocks.rdd.flatMap { b =>
      val gr0 = b.bi.toLong * bs
      val spans = Seq((gr0, math.min(gr0 + b.rows, wrapSrc)),
                      (math.max(gr0, wrapSrc), gr0 + b.rows))
        .filter { case (s0, s1) => s0 < s1 }
      for {
        (s0, s1) <- spans.iterator
        d0 = (s0 + k) % m                     // contiguous dest start of the span
        tbi <- ((d0 / bs).toInt to ((d0 + (s1 - s0) - 1) / bs).toInt).iterator
      } yield {
        val dd0 = math.max(d0, tbi.toLong * bs)
        val dd1 = math.min(d0 + (s1 - s0), (tbi + 1).toLong * bs)
        val srcStart = (s0 + (dd0 - d0) - gr0).toInt
        val pr = (dd1 - dd0).toInt; val pc = b.cols
        val piece = new Array[Double](pr * pc)
        var cc = 0
        while (cc < pc) {                     // column-major span copy
          System.arraycopy(b.data, cc * b.rows + srcStart, piece, cc * pr, pr)
          cc += 1
        }
        ((tbi, b.bj), ((dd0 - tbi.toLong * bs).toInt, 0, pr, pc, piece))
      }
    }
    assemblePieces(pieces, m, n, bs)
  }

  /** Row reversal (dask `da.flipud` / `da.flip(x, 0)`): source row g
    * lands at m−1−g, so block [gr0, gr0+rows) mirrors to the contiguous
    * dest range [m−gr0−rows, m−gr0), split on destination block
    * boundaries exactly like [[rechunk]] (on a block-aligned grid each
    * block yields one piece; a ragged tail just splits in two). The
    * reversed copy happens during the narrow piece extraction — the
    * assemble shuffle moves each cell once. */
  def flipRows: DMatrix = {
    val m = nRows; val n = nCols; val bs = blockSize
    val pieces = blocks.rdd.flatMap { b =>
      val gr0 = b.bi.toLong * bs
      val d0 = m - gr0 - b.rows               // dest range [d0, d0 + rows)
      for (tbi <- ((d0 / bs).toInt to ((d0 + b.rows - 1) / bs).toInt).iterator) yield {
        val dd0 = math.max(d0, tbi.toLong * bs)
        val dd1 = math.min(d0 + b.rows, (tbi + 1).toLong * bs)
        val pr = (dd1 - dd0).toInt; val pc = b.cols
        val out = new Array[Double](pr * pc)
        var cc = 0
        while (cc < pc) {                     // dest row dd ← source row m−1−dd
          var r = 0
          while (r < pr) {
            out(cc * pr + r) = b.data(cc * b.rows + (m - 1 - (dd0 + r) - gr0).toInt)
            r += 1
          }
          cc += 1
        }
        ((tbi, b.bj), ((dd0 - tbi.toLong * bs).toInt, 0, pr, pc, out))
      }
    }
    assemblePieces(pieces, m, n, bs)
  }

  /** Rectangular slice `A[r0 until r1, c0 until c1]` (dask basic
    * slicing `x[a:b, c:d]`): blocks outside the window are FILTERED
    * before any data is touched (the block-grid analog of partition
    * pruning), each surviving block ships only its intersection, and
    * the result re-tiles on the same chunk size at a fresh origin — so
    * both the narrow crop and the keyed assemble scale with the SLICE
    * volume, not the source matrix. */
  def slice(r0: Long, r1: Long, c0: Long, c1: Long): DMatrix = {
    require(0 <= r0 && r0 < r1 && r1 <= nRows && 0 <= c0 && c0 < c1 && c1 <= nCols,
      s"bad slice [$r0,$r1)×[$c0,$c1) of ${nRows}×$nCols")
    val bs = blockSize
    val pieces = blocks.rdd.filter { b =>
      val gr0 = b.bi.toLong * bs; val gc0 = b.bj.toLong * bs
      gr0 < r1 && gr0 + b.rows > r0 && gc0 < c1 && gc0 + b.cols > c0
    }.flatMap { b =>
      val gr0 = b.bi.toLong * bs; val gc0 = b.bj.toLong * bs
      // source-block ∩ slice window, in OUTPUT coordinates (origin r0,c0)
      val sr0 = math.max(gr0, r0) - r0; val sr1 = math.min(gr0 + b.rows, r1) - r0
      val sc0 = math.max(gc0, c0) - c0; val sc1 = math.min(gc0 + b.cols, c1) - c0
      for {
        tbi <- ((sr0 / bs).toInt to ((sr1 - 1) / bs).toInt).iterator
        tbj <- ((sc0 / bs).toInt to ((sc1 - 1) / bs).toInt).iterator
      } yield {
        val or0 = math.max(sr0, tbi.toLong * bs); val or1 = math.min(sr1, (tbi + 1).toLong * bs)
        val oc0 = math.max(sc0, tbj.toLong * bs); val oc1 = math.min(sc1, (tbj + 1).toLong * bs)
        val pr = (or1 - or0).toInt; val pc = (oc1 - oc0).toInt
        val piece = new Array[Double](pr * pc)
        var cc = 0
        while (cc < pc) {                     // column-major crop copy
          val srcOff = ((oc0 + c0 - gc0).toInt + cc) * b.rows + (or0 + r0 - gr0).toInt
          System.arraycopy(b.data, srcOff, piece, cc * pr, pr)
          cc += 1
        }
        ((tbi, tbj),
         ((or0 - tbi.toLong * bs).toInt, (oc0 - tbj.toLong * bs).toInt, pr, pc, piece))
      }
    }
    assemblePieces(pieces, r1 - r0, c1 - c0, bs)
  }

  /** Strided slice `A[r0:r1:rStep, c0:c1:cStep]` (dask basic indexing
    * with steps — the every-other-row subsample `x[::2]`). Same scale
    * contract as [[slice]]: blocks outside the window are pruned before
    * any data moves, each surviving block gathers ONLY its selected
    * cells (a strided column-major copy — the selected rows of one
    * source block are contiguous in output space, so each source block
    * contributes one rectangular piece range), and the keyed assemble
    * scales with the OUTPUT volume (input/step², not input). Negative
    * steps compose as `flip` then a positive step, like dask's
    * normalization. */
  def sliceStep(r0: Long, r1: Long, rStep: Long,
                c0: Long, c1: Long, cStep: Long): DMatrix = {
    require(rStep >= 1 && cStep >= 1, s"steps must be >= 1 (got $rStep, $cStep); " +
      "compose flipRows/flipCols for negative steps")
    if (rStep == 1 && cStep == 1) return slice(r0, r1, c0, c1)
    require(0 <= r0 && r0 < r1 && r1 <= nRows && 0 <= c0 && c0 < c1 && c1 <= nCols,
      s"bad slice [$r0,$r1)×[$c0,$c1) of ${nRows}×$nCols")
    val bs = blockSize
    val mOut = (r1 - r0 + rStep - 1) / rStep
    val nOut = (c1 - c0 + cStep - 1) / cStep
    // first selected index >= lo for the arithmetic progression
    // {origin + k*step}; callers guarantee lo >= origin
    def firstSel(lo: Long, origin: Long, step: Long): Long =
      origin + (lo - origin + step - 1) / step * step
    val pieces = blocks.rdd.filter { b =>
      val gr0 = b.bi.toLong * bs; val gc0 = b.bj.toLong * bs
      gr0 < r1 && gr0 + b.rows > r0 && gc0 < c1 && gc0 + b.cols > c0
    }.flatMap { b =>
      val gr0 = b.bi.toLong * bs; val gc0 = b.bj.toLong * bs
      val gr = firstSel(math.max(gr0, r0), r0, rStep)
      val grEnd = math.min(gr0 + b.rows, r1)
      val gc = firstSel(math.max(gc0, c0), c0, cStep)
      val gcEnd = math.min(gc0 + b.cols, c1)
      if (gr >= grEnd || gc >= gcEnd) Iterator.empty
      else {
        // this block's selected cells form output rect [oi0,oi1)×[oj0,oj1)
        val oi0 = (gr - r0) / rStep; val oi1 = (grEnd - 1 - r0) / rStep + 1
        val oj0 = (gc - c0) / cStep; val oj1 = (gcEnd - 1 - c0) / cStep + 1
        for {
          tbi <- ((oi0 / bs).toInt to ((oi1 - 1) / bs).toInt).iterator
          tbj <- ((oj0 / bs).toInt to ((oj1 - 1) / bs).toInt).iterator
        } yield {
          val po0 = math.max(oi0, tbi.toLong * bs); val po1 = math.min(oi1, tbi.toLong * bs + blockDimOf(mOut, tbi))
          val qo0 = math.max(oj0, tbj.toLong * bs); val qo1 = math.min(oj1, tbj.toLong * bs + blockDimOf(nOut, tbj))
          val pr = (po1 - po0).toInt; val pc = (qo1 - qo0).toInt
          val piece = new Array[Double](pr * pc)
          var cc = 0
          while (cc < pc) {
            val srcCol = (c0 + (qo0 + cc) * cStep - gc0).toInt
            var rr = 0
            while (rr < pr) {
              val srcRow = (r0 + (po0 + rr) * rStep - gr0).toInt
              piece(cc * pr + rr) = b.data(srcCol * b.rows + srcRow)
              rr += 1
            }
            cc += 1
          }
          ((tbi, tbj),
           ((po0 - tbi.toLong * bs).toInt, (qo0 - tbj.toLong * bs).toInt, pr, pc, piece))
        }
      }
    }
    assemblePieces(pieces, mOut, nOut, bs)
  }

  private def blockDimOf(dim: Long, bIdx: Int): Int =
    DMatrix.blockDim(dim, blockSize, bIdx)

  /** Boolean-mask row selection `A[mask]` (dask/numpy fancy indexing
    * with a computed boolean vector — `x[x[:,0] % 3 == 0]`): `mask` is
    * an m×1 matrix, nonzero = keep; selected rows compact upward in
    * source order.
    *
    * Scale shape: output positions need a prefix sum of per-block-row
    * keep-counts — that scan collects ONE count per block row
    * (metadata, O(m/bs), the two-pass pattern the text prefix scans
    * use), never mask data. The mask VALUES ship to the data blocks by
    * broadcast when small (m doubles ≪ matrix volume), falling back to
    * a block-row-keyed join for huge masks; either way the selected
    * volume then makes exactly one keyed-assemble pass, like slice. */
  def selectRows(mask: DMatrix, broadcastLimit: Long = 1L << 24): DMatrix = {
    require(mask.nRows == nRows && mask.nCols == 1 && mask.blockSize == blockSize,
      s"mask must be ${nRows}×1 with blockSize $blockSize")
    val bs = blockSize
    // pass 1 (metadata): keep-count per block row → output row offsets
    val counts = mask.blocks.rdd
      .map(b => (b.bi, b.data.count(_ != 0.0).toLong)).collectAsMap()
    val nbR = nbRows
    val offsets = new Array[Long](nbR + 1)
    var bi = 0
    while (bi < nbR) { offsets(bi + 1) = offsets(bi) + counts.getOrElse(bi, 0L); bi += 1 }
    val mSel = offsets(nbR)
    require(mSel > 0, "mask selects no rows")
    val offsetsB = spark.sparkContext.broadcast(offsets)
    // pass 2 (data): each data block gathers its kept rows — already in
    // output order — and pieces assemble at the prefix-sum positions
    def piecesFrom(paired: RDD[(Block, Array[Double])]) = paired.flatMap { case (b, mv) =>
      val kept = Array.range(0, b.rows).filter(r => mv(r) != 0.0)
      if (kept.isEmpty) Iterator.empty
      else {
        val base = offsetsB.value(b.bi) // output row of this block's first kept row
        for {
          tbi <- ((base / bs).toInt to ((base + kept.length - 1) / bs).toInt).iterator
        } yield {
          val o0 = math.max(base, tbi.toLong * bs)
          val o1 = math.min(base + kept.length, tbi.toLong * bs + DMatrix.blockDim(mSel, bs, tbi))
          val pr = (o1 - o0).toInt
          val piece = new Array[Double](pr * b.cols)
          var cc = 0
          while (cc < b.cols) {
            var rr = 0
            while (rr < pr) {
              piece(cc * pr + rr) = b.data(cc * b.rows + kept((o0 - base).toInt + rr))
              rr += 1
            }
            cc += 1
          }
          ((tbi, b.bj), ((o0 - tbi.toLong * bs).toInt, 0, pr, b.cols, piece))
        }
      }
    }
    val pieces =
      if (nRows <= broadcastLimit) {
        val maskLocal = spark.sparkContext.broadcast(
          mask.blocks.rdd.map(b => (b.bi, b.data)).collectAsMap())
        piecesFrom(blocks.rdd.map(b => (b, maskLocal.value(b.bi))))
      } else {
        val maskByRow = mask.blocks.rdd.map(b => (b.bi, b.data))
        piecesFrom(blocks.rdd.map(b => (b.bi, b)).join(maskByRow).values)
      }
    assemblePieces(pieces, mSel, nCols, bs)
  }

  /** Integer fancy indexing `A[idx]` / `da.take(x, idx, axis=0)`:
    * output row o is source row idx(o) — arbitrary order, repeats
    * allowed (the dask fancy-indexing surface a boolean mask can't
    * express: reordering and duplication).
    *
    * Scale shape: the index array is metadata (one long per OUTPUT
    * row — dask materializes it on the client too), broadcast when
    * small; for huge indices it shuffles as keyed requests grouped by
    * source block row instead, so no executor ever holds more than its
    * own blocks' request slice. Either way each source block gathers
    * ONLY its referenced rows (repeats gathered once per reference) and
    * ships them keyed by target block — the shuffle is exactly the
    * OUTPUT volume, like [[sliceStep]]; a target block's pieces tile it
    * disjointly (every output row has exactly one source), so the
    * groupByKey assemble holds one block per key, like [[rechunk]]. */
  def takeRows(idx0: Array[Long], broadcastLimit: Long = 1L << 24): DMatrix = {
    require(idx0.nonEmpty, "empty index array")
    // numpy/dask negative-index convention: -1 is the last row
    val idx = idx0.map(i => if (i < 0) i + nRows else i)
    idx.foreach(i => require(0 <= i && i < nRows,
      s"index $i out of [-$nRows, $nRows)"))
    val bs = blockSize
    val mOut = idx.length.toLong
    val n = nCols
    // per (source block, target block row): the referenced rows, gathered
    // in one pass, with their scattered target-local positions
    type Piece = (Array[Int], Array[Double]) // target-local rows; pr × cols col-major
    def gather(b: Block, reqs: Seq[(Int, Int)] /* (tLocalRow, srcLocalRow) */): Piece = {
      val pr = reqs.length
      val tRows = new Array[Int](pr)
      val data = new Array[Double](pr * b.cols)
      var k = 0
      while (k < pr) {
        val (tr, sr) = reqs(k)
        tRows(k) = tr
        var c = 0
        while (c < b.cols) { data(c * pr + k) = b.data(c * b.rows + sr); c += 1 }
        k += 1
      }
      (tRows, data)
    }
    val pieces: RDD[((Int, Int), Piece)] =
      if (mOut <= broadcastLimit) {
        // pre-grouped by SOURCE block row on the driver: each block scans
        // only its own request slice — a full-index scan per block would
        // be O(nBlocks·|idx|) comparisons before any data moved
        val bySrc: Map[Int, Array[(Int, Int, Int)]] = idx.iterator.zipWithIndex
          .map { case (s, o) =>
            val tbi = o / bs
            ((s / bs).toInt, (tbi, (o - tbi.toLong * bs).toInt, (s - (s / bs) * bs).toInt))
          }
          .toArray.groupBy(_._1)
          .map { case (sbi, rs) => sbi -> rs.map(_._2) }
        val idxB = spark.sparkContext.broadcast(bySrc)
        blocks.rdd.flatMap { b =>
          idxB.value.get(b.bi) match {
            case None => Iterator.empty
            case Some(slice) =>
              val byT = scala.collection.mutable.LinkedHashMap[Int, scala.collection.mutable.ArrayBuffer[(Int, Int)]]()
              slice.foreach { case (tbi, tr, sr) =>
                byT.getOrElseUpdate(tbi, new scala.collection.mutable.ArrayBuffer[(Int, Int)]())
                  .append((tr, sr))
              }
              byT.iterator.map { case (tbi, reqs) => ((tbi, b.bj), gather(b, reqs.toSeq)) }
          }
        }
      } else {
        // huge index: ship requests through a shuffle instead of a
        // broadcast — grouped by SOURCE block row, so each data block
        // joins exactly its own request slice
        val reqParts = math.max(1, blocks.rdd.getNumPartitions)
        val requests = spark.sparkContext
          .parallelize(idx.toIndexedSeq.zipWithIndex, reqParts)
          .map { case (s, o) => ((s / bs).toInt, (o, (s - (s / bs) * bs).toInt)) }
          .groupByKey(reqParts)
        blocks.rdd.map(b => (b.bi, b)).join(requests).values.flatMap { case (b, rs) =>
          rs.groupBy(_._1 / bs).iterator.map { case (tbi, reqs) =>
            ((tbi, b.bj),
             gather(b, reqs.toSeq.map { case (o, sr) => ((o - tbi.toLong * bs).toInt, sr) }))
          }
        }
      }
    val nParts = math.max(1, math.min(blocks.rdd.getNumPartitions,
      DMatrix.nBlocks(mOut, bs) * DMatrix.nBlocks(n, bs)))
    import blocks.sparkSession.implicits._
    val assembled = pieces.groupByKey(nParts).map { case ((tbi, tbj), ps) =>
      val rows = DMatrix.blockDim(mOut, bs, tbi)
      val cols = DMatrix.blockDim(n, bs, tbj)
      val data = new Array[Double](rows * cols)
      ps.foreach { case (tRows, pd) =>
        val pr = tRows.length
        var k = 0
        while (k < pr) {
          var c = 0
          while (c < cols) { data(c * rows + tRows(k)) = pd(c * pr + k); c += 1 }
          k += 1
        }
      }
      Block(tbi, tbj, rows, cols, data)
    }
    new DMatrix(blocks.sparkSession.createDataset(assembled), mOut, n, bs)
  }

  /** Column-axis fancy indexing `da.take(x, idx, axis=1)`: two narrow
    * transposes around [[takeRows]] — the transposes are pure block
    * maps, so the cost IS the row take's output-volume shuffle. */
  def takeCols(idx: Array[Long], broadcastLimit: Long = 1L << 24): DMatrix =
    transpose.takeRows(idx, broadcastLimit).transpose

  /** Constant pad (numpy/dask `da.pad(x, ((rb,ra),(cb,ca)), mode=
    * 'constant', constant_values=v)` — the boundary-conditioning step
    * stencil and convolution pipelines run before an overlap map).
    * Interior cells ship exactly once through the [[rechunk]]-style piece
    * shuffle at a (+rb, +cb) offset; the pad border NEVER moves data —
    * each target block's pad region is emitted as ≤4 constant strips
    * generated directly on the executors from the block-grid range, so
    * the strips tile disjointly with the interior pieces and
    * [[assemblePieces]] overlays them without ordering concerns. Cost:
    * one pass over the matrix volume + O(border) synthesized cells, at
    * any scale. */
  def pad(rBefore: Long, rAfter: Long, cBefore: Long, cAfter: Long,
          value: Double): DMatrix = {
    require(rBefore >= 0 && rAfter >= 0 && cBefore >= 0 && cAfter >= 0,
      s"negative pad ($rBefore,$rAfter,$cBefore,$cAfter)")
    if (rBefore == 0 && rAfter == 0 && cBefore == 0 && cAfter == 0) return this
    val bs = blockSize
    val (srcM, srcN) = (nRows, nCols)
    val M = srcM + rBefore + rAfter
    val N = srcN + cBefore + cAfter
    // interior: each source block lands at a (+rBefore, +cBefore) offset,
    // split on target block boundaries (the rechunk pattern)
    val interior = blocks.rdd.flatMap { b =>
      val gr0 = b.bi.toLong * bs + rBefore
      val gc0 = b.bj.toLong * bs + cBefore
      for {
        tbi <- ((gr0 / bs).toInt to ((gr0 + b.rows - 1) / bs).toInt).iterator
        tbj <- ((gc0 / bs).toInt to ((gc0 + b.cols - 1) / bs).toInt).iterator
      } yield {
        val r0 = math.max(gr0, tbi.toLong * bs)
        val r1 = math.min(gr0 + b.rows, (tbi + 1).toLong * bs)
        val c0 = math.max(gc0, tbj.toLong * bs)
        val c1 = math.min(gc0 + b.cols, (tbj + 1).toLong * bs)
        val pr = (r1 - r0).toInt; val pc = (c1 - c0).toInt
        val piece = new Array[Double](pr * pc)
        var cc = 0
        while (cc < pc) {
          val srcOff = ((c0 - gc0).toInt + cc) * b.rows + (r0 - gr0).toInt
          System.arraycopy(b.data, srcOff, piece, cc * pr, pr)
          cc += 1
        }
        ((tbi, tbj),
         ((r0 - tbi.toLong * bs).toInt, (c0 - tbj.toLong * bs).toInt, pr, pc, piece))
      }
    }
    // border: per target block, the complement of the interior rect
    // [rBefore, rBefore+srcM) × [cBefore, cBefore+srcN) as ≤4 disjoint
    // strips (rows above / rows below / left / right of the middle band)
    val nbM = DMatrix.nBlocks(M, bs); val nbN = DMatrix.nBlocks(N, bs)
    val slices = math.max(1, math.min(nbM * nbN, blocks.rdd.getNumPartitions))
    val fills = blocks.sparkSession.sparkContext
      .range(0L, nbM.toLong * nbN, numSlices = slices)
      .flatMap { idx =>
        val tbi = (idx / nbN).toInt; val tbj = (idx % nbN).toInt
        val br0 = tbi.toLong * bs; val bc0 = tbj.toLong * bs
        val rows = DMatrix.blockDim(M, bs, tbi)
        val cols = DMatrix.blockDim(N, bs, tbj)
        // block ∩ interior, in block-local coordinates (empty ⇒ all pad)
        val ir0 = (math.max(br0, rBefore) - br0).toInt
        val ir1 = (math.min(br0 + rows, rBefore + srcM) - br0).toInt
        val ic0 = (math.max(bc0, cBefore) - bc0).toInt
        val ic1 = (math.min(bc0 + cols, cBefore + srcN) - bc0).toInt
        def strip(r0: Int, r1: Int, c0: Int, c1: Int) = {
          val pr = r1 - r0; val pc = c1 - c0
          ((tbi, tbj), (r0, c0, pr, pc, Array.fill(pr * pc)(value)))
        }
        if (ir0 >= ir1 || ic0 >= ic1) Iterator.single(strip(0, rows, 0, cols))
        else Iterator(
          strip(0, ir0, 0, cols),          // above the interior band
          strip(ir1, rows, 0, cols),       // below it
          strip(ir0, ir1, 0, ic0),         // left of it
          strip(ir0, ir1, ic1, cols)       // right of it
        ).filter { case (_, (_, _, pr, pc, _)) => pr > 0 && pc > 0 }
      }
    assemblePieces(interior.union(fills), M, N, bs)
  }

  /** First difference down the rows (dask spells `da.diff(x, axis=0)`
    * as exactly `x[1:] - x[:-1]`, and so do we): two [[slice]] views —
    * block-pruned, crop-only piece shuffles — re-tiled to a common
    * origin, then the block-aligned [[zip]] subtraction. Cost: two
    * linear passes + one co-keyed join; no halo state, and the
    * composition inherits slice's pruning at any scale. */
  def diffAxis0: DMatrix = {
    require(nRows >= 2, s"diff needs at least 2 rows, have $nRows")
    slice(1, nRows, 0, nCols).zip(slice(0, nRows - 1, 0, nCols))(_ - _)
  }

  /** Block-reduce downsample (dask `da.coarsen(np.sum, x, {0: f, 1: f})`)
    * — the multigrid/thumbnail reduction. Factor must divide the block
    * size (dask's own axis-divisibility rule, applied per block), so
    * every f×f tile lives inside ONE block and the whole op is a narrow
    * per-block map: the grid keeps its indices, the block size shrinks
    * to bs/f, zero shuffle at any scale. */
  def coarsenSum(f: Int): DMatrix = {
    require(f > 0 && blockSize % f == 0, s"factor $f must divide blockSize $blockSize")
    require(nRows % f == 0 && nCols % f == 0,
      s"coarsen factor $f must divide the ${nRows}×$nCols shape (dask's rule)")
    import blocks.sparkSession.implicits._
    val out = blocks.map { b =>
      val (pr, pc) = (b.rows / f, b.cols / f)
      val data = new Array[Double](pr * pc)
      var c = 0
      while (c < b.cols) {
        var r = 0
        while (r < b.rows) {
          data((c / f) * pr + (r / f)) += b.data(c * b.rows + r)
          r += 1
        }
        c += 1
      }
      Block(b.bi, b.bj, pr, pc, data)
    }
    new DMatrix(out, nRows / f, nCols / f, blockSize / f)
  }

  /** Sort each row ascending (dask `da.map_blocks(np.sort, axis=1)`
    * after `rechunk({1: -1})` — dask itself requires the sorted axis in
    * one chunk, and this op fuses that rechunk). Blocks gather into
    * per-stripe groups keyed by row-block index — the per-key payload is
    * one bs×nCols row stripe (the TSQR stripe-size discipline), so state
    * is bounded by the chunk geometry, not the matrix — and each row
    * sorts locally. Emits coordinates: a sorted row is a VALUE sequence
    * (position j = j-th smallest), the form the oracle checks. */
  def sortAxis1: DataFrame = {
    require(nCols <= Int.MaxValue, "row length must fit an array")
    import blocks.sparkSession.implicits._
    val bs = blockSize; val n = nCols.toInt
    val parts = math.max(1, math.min(nbRows, blocks.rdd.getNumPartitions))
    blocks.rdd.map(b => (b.bi, b)).groupByKey(parts).flatMap { case (bi, grp) =>
      val stripe = grp.toArray
      val rows = stripe.head.rows
      val gr0 = bi.toLong * bs
      Iterator.range(0, rows).map { r =>
        val row = new Array[Double](n)
        stripe.foreach { b =>
          var c = 0
          while (c < b.cols) {
            row(b.bj * bs + c) = b.data(c * b.rows + r)
            c += 1
          }
        }
        java.util.Arrays.sort(row)
        (gr0 + r, row)
      }
    }.flatMap { case (i, row) =>
      row.iterator.zipWithIndex.map { case (v, j) => (i, j.toLong, v) }
    }.toDF("i", "j", "v")
  }

  /** 2-D tensordot (`da.tensordot(x, y, axes=(axisA, axisB))`, the
    * 2-operand einsum contraction): contract this matrix's `axisA`
    * against `other`'s `axisB`; result axes are (this's remaining axis,
    * other's remaining axis), numpy's order. All four axis pairs reduce
    * to GEMM after at most two narrow transposes (transpose is a pure
    * block map — no shuffle), so the cost IS [[multiply]]'s blocked
    * join/stream at every scale; nothing new moves. */
  def tensordot(other: DMatrix, axisA: Int, axisB: Int): DMatrix = {
    require(axisA == 0 || axisA == 1, s"axisA must be 0 or 1, got $axisA")
    require(axisB == 0 || axisB == 1, s"axisB must be 0 or 1, got $axisB")
    val a = if (axisA == 1) this else this.transpose
    val b = if (axisB == 0) other else other.transpose
    a.multiply(b)
  }

  /** Blocked GEMM (reference flagship: `da.matmul`, 10k×10k blocks 1k —
    * README.md:265-270). Three physical regimes, dispatched by
    * [[DMatrix.multiplyPathFor]] (spec-pinned): broadcast-skinny when
    * one operand is a single block-column/row within the broadcast
    * budget (the big side never shuffles); otherwise an inner-index
    * join with map-side-combined partial reduction, or t×t-tiled SUMMA
    * streaming for shallow square grids.
    *
    * Deployment note (100 TB): a skinny factor that OUTGROWS the 64 MB
    * budget (m ≳ 5·10⁵ rows at l = 15) silently falls back to the join
    * path, which re-shuffles the fat side — at that scale raise
    * SPARK_GRAFT_BC_BYTES instead: TorrentBroadcast distributes
    * peer-to-peer in O(log P) rounds, so a few hundred MB broadcast to
    * 1,000 executors is far cheaper than one full pass of an 80 TB
    * operand through an exchange. The budget is
    * deliberately conservative for the single-JVM drive, where every
    * "executor" copy shares one heap. */
  def multiply(other: DMatrix): DMatrix = {
    require(nCols == other.nRows, s"dim mismatch: $nCols vs ${other.nRows}")
    require(blockSize == other.blockSize, "chunk mismatch")
    import blocks.sparkSession.implicits._
    val parts = math.max(blocks.rdd.getNumPartitions, other.blocks.rdd.getNumPartitions)
    val m = nRows; val n = other.nCols; val bs = blockSize
    // Dispatch is a pure function of the shapes (MultiplyPathSpec pins
    // it): broadcast-skinny when one operand fits the broadcast budget
    // in a single block-column/row; otherwise the streamed shallow path
    // spawns one task per C block — for a huge outer grid with a tiny
    // inner dimension (outer-product-shaped, e.g. 1000×2·2×1000 → 1M C
    // blocks) that is scheduler abuse, so the join path runs there and
    // its nInner-keyed shuffle bounds the task count.
    val path = DMatrix.multiplyPathFor(
      nbRows, nbCols, 8L * nRows * nCols,
      other.nbRows, other.nbCols, 8L * other.nRows * other.nCols, parts)
    val summed: RDD[((Int, Int), Array[Double])] = path match {
      case "broadcast-right" =>
        // B is one skinny block-column within the broadcast budget (the
        // rSVD sketch regime: A·Ω, A·Q — VERDICT r14 finding #1). A's
        // blocks NEVER shuffle: B rides a broadcast keyed by its row
        // (= inner) block index, each A block dgemms map-side, and the
        // only exchange is the reduce of m×l block-row partials —
        // kilobytes per block against the operand's gigabytes. An inner
        // index absent from the broadcast contributes nothing (the
        // absent-means-zero convention of the join path).
        val bByInner = new Array[Array[Double]](nbCols)
        other.blocks.collect().foreach(b => bByInner(b.bi) = b.data)
        DMatrix.broadcastSkinny(blocks.rdd, spark.sparkContext.broadcast(bByInner),
          n.toInt, left = false, math.max(1, math.min(parts, nbRows)))
          .map { case (bi, data) => ((bi, 0), data) }
      case "broadcast-left" =>
        // Mirror case: A is one skinny block-row (the B = QᵀA shape —
        // qᵀ is l×m, ~1 MB at the flagship). A broadcasts keyed by its
        // column (= inner) block index; B's blocks never move; partials
        // reduce on B's column-block index.
        val aByInner = new Array[Array[Double]](other.nbRows)
        blocks.collect().foreach(b => aByInner(b.bj) = b.data)
        DMatrix.broadcastSkinny(other.blocks.rdd, spark.sparkContext.broadcast(aByInner),
          m.toInt, left = true, math.max(1, math.min(parts, other.nbCols)))
          .map { case (bj, data) => ((0, bj), data) }
      case "deep-join" =>
        // Deep inner dimension (the usual at-scale case: plenty of join
        // keys): join on the inner block index, per-pair GEMM, reduce
        // partial products with map-side combine — minimal replication.
        val aByInner = blocks.rdd.map(b => (b.bj, b))
        val bByInner = other.blocks.rdd.map(b => (b.bi, b))
        aByInner.join(bByInner, parts).map { case (_, (a, b)) =>
          // paneled dgemm: the JVM-fallback BLAS collapses ~8× on
          // monolithic >1024-dim calls (Gemm scaladoc) — big blocks are
          // the at-scale case here (grid-held SUMMA grows bs with n)
          ((a.bi, b.bj), Gemm.multiply(a.data, a.rows, a.cols, b.data, b.cols))
        }.reduceByKey(addInto _, parts)
      case _ => // "tiled-summa"
        // Shallow inner dimension (square flagship grids: e.g. 10k² at
        // chunks 1k² has only 10 inner keys): the inner join would cap
        // parallelism at nInner tasks and then shuffle every partial
        // product. Instead assign C blocks to t×t OUTPUT TILES (the
        // SUMMA/2.5D replication law): A row-stripes replicate onto the
        // ⌈nbc/t⌉ tile columns and B col-stripes onto the ⌈nbr/t⌉ tile
        // rows, so replication — and with it both shuffle bytes and the
        // receive-side deserialization garbage, the two GC drivers the
        // r13 metrics attribute ~28% of a13 task time to — falls as 1/t.
        // Thread utilization is wave-quantized (tasks / ⌈tasks/P⌉·P), so
        // t grows only while the tile grid still fills ≥¾ of one wave's
        // slots: the 10×10 flagship picks t=2 (25 tasks in one 78%-full
        // wave — the same utilization as t=1's 100 tasks in 3.1 waves,
        // at HALF the bytes); a 20×20 grid picks t=4 (replication ×5,
        // not ×20) — the grid-held deployment shape BENCH_NOTES
        // documents. Partial products never exist as allocations and
        // never touch the shuffle: each arriving block dgemm(β=1)s into
        // the tile's C accumulators against its already-arrived
        // k-partners, and a side's retained blocks are freed the moment
        // the opposite side's arrival count completes. (Buffering whole
        // groups instead — cogroup, or the shuffle sorter — held ~5 GB
        // live across 32 tasks and cost ~25 s of promotion GC per
        // flagship pass.) Fold order follows fetch order; exact for the
        // integer-domain oracle fixtures, and within normal float
        // roundoff variance otherwise (same contract as tsqr's tree
        // combine).
        val nbr = nbRows; val nbc = other.nbCols
        // The accumulator cap sizes against the driver/executor JVM's
        // own heap share per concurrent slot (local mode: this JVM; on a
        // cluster the executor running the task) — ¼ of the share, so
        // the retained stripe lists and shuffle buffers keep headroom.
        val tile = {
          val slots = math.max(1, spark.sparkContext.defaultParallelism)
          val accCap = Runtime.getRuntime.maxMemory / (4L * slots)
          DMatrix.summaTileFor(nbr, nbc, bs, parts, accCap)
        }
        val gr = (nbr + tile - 1) / tile
        val gc = (nbc + tile - 1) / tile
        val keyed = blocks.rdd
          .flatMap(b => (0 until gc).map(jt => ((b.bi / tile, jt, b.bj, 0), b))) ++
          other.blocks.rdd
            .flatMap(b => (0 until gr).map(it => ((it, b.bj / tile, b.bi, 1), b)))
        keyed
          .partitionBy(new StripePartitioner(gc, gr * gc))
          .mapPartitions { it0 =>
            if (it0.isEmpty) Iterator.empty
            else {
              // per-C-block accumulators for the tile (≤ t² buffers) and
              // per-k pairing slots; blocks retained only while partners
              // can still arrive
              val accs = new java.util.HashMap[Long, Array[Double]]()
              final class Slot {
                var as: List[Block] = Nil; var bs: List[Block] = Nil
                var nA = 0; var nB = 0
              }
              val slots = new java.util.HashMap[Int, Slot]()
              var tileRows = -1; var tileCols = -1
              def fold(a: Block, b: Block): Unit = {
                val key = (a.bi.toLong << 32) | b.bj.toLong
                var acc = accs.get(key)
                if (acc == null) {
                  acc = new Array[Double](a.rows * b.cols); accs.put(key, acc)
                }
                // paneled: monolithic >1024-dim JVM dgemm calls run ~8×
                // slower (Gemm scaladoc) — exactly the big-block regime
                // the grid-held flagship hits at n ≥ 20k (2000² blocks)
                Gemm.dgemm(a.rows, b.cols, a.cols, 1.0,
                  a.data, 0, a.rows, b.data, 0, b.rows, 1.0, acc, 0, a.rows)
              }
              it0.foreach { case ((itr, jtr, k, side), blk) =>
                if (tileRows < 0) {
                  tileRows = math.min(tile, nbr - itr * tile)
                  tileCols = math.min(tile, nbc - jtr * tile)
                }
                var slot = slots.get(k)
                if (slot == null) { slot = new Slot; slots.put(k, slot) }
                if (side == 0) {
                  slot.nA += 1
                  slot.bs.foreach(b => fold(blk, b))
                  if (slot.nB < tileCols) slot.as ::= blk
                  if (slot.nA == tileRows) slot.bs = Nil
                } else {
                  slot.nB += 1
                  slot.as.foreach(a => fold(a, blk))
                  if (slot.nA < tileRows) slot.bs ::= blk
                  if (slot.nB == tileCols) slot.as = Nil
                }
              }
              // Tiles where nothing paired (all arrivals one-sided —
              // possible on sparse block grids like tril/cholesky output,
              // where an absent block means zero) contribute no C blocks:
              // same absent-means-zero convention as the join path above.
              import scala.jdk.CollectionConverters._
              accs.entrySet().iterator().asScala.map { e =>
                val key: Long = e.getKey
                (((key >> 32).toInt, key.toInt), e.getValue)
              }
            }
          }
    }
    val out = summed.map { case ((bi, bj), data) =>
      val rows = DMatrix.blockDim(m, bs, bi)
      val cols = DMatrix.blockDim(n, bs, bj)
      Block(bi, bj, rows, cols, data)
    }
    new DMatrix(spark.createDataset(out), m, n, bs)
  }

  /** Gram product G = AᵀA — the SYRK shape (r15). The full
    * `transpose.multiply(this)` computes ALL nbc² output blocks and
    * replicates BOTH operand copies onto the full output-tile grid; but
    * G is symmetric, so only the nbc(nbc+1)/2 LOWER blocks carry
    * information. This kernel runs the tiled-SUMMA stream over the
    * lower output tiles only and mirrors (i,j)→(j,i) in a narrow
    * flatMap afterwards: roughly HALF the input replication (each source
    * block ships (it+1)+(gT−jt) ≈ gT+1 tile copies instead of 2·gT),
    * half the dgemm flops, half the output bytes — and on these paths
    * the result is exactly symmetric by construction (the mirror IS the
    * transpose of the computed block). The deep-fallback path below runs
    * the full `transpose.multiply(this)`, whose independently folded
    * (j,i) blocks match (i,j) only to roundoff (exactly for the
    * integer-domain fixtures). A single-block-column operand (the
    * tall-skinny QᵀQ / VᵀV shape) never shuffles at all: per-block local
    * syrk partials reduce into the one output block. Absent blocks mean
    * zero (same convention as [[multiply]]), so a triangular factor's
    * L·Lᵀ = (Lᵀ)ᵀ·(Lᵀ) runs as `l.transpose.gramian` with the transpose
    * staying a pure narrow map. Fold order follows fetch order — exact
    * for the integer-domain oracle fixtures, normal roundoff variance
    * otherwise (the [[multiply]] contract). */
  def gramian: DMatrix = gramian(None)

  /** As [[gramian]] with the broadcast budget pinned (tests sweep the
    * dispatch: budget 0 forces the tiled stream, ∞ the broadcast path). */
  def gramian(bcOverride: Option[Long]): DMatrix = {
    import blocks.sparkSession.implicits._
    val q = nbCols; val bs = blockSize; val g = nCols
    val parts = math.max(1, blocks.rdd.getNumPartitions)
    val slots = math.max(1, spark.sparkContext.defaultParallelism)
    val path = DMatrix.gramPathFor(q, 8L * nRows * nCols, slots,
      bcOverride.getOrElse(DMatrix.bcBytes))
    // Degenerate triangular grid (r15 ADVICE #1): very few block-columns
    // over a matrix too big to broadcast would funnel the whole product
    // through q(q+1)/2 ≪ slots serial stripe-streaming tasks; the deep
    // join gets `parts`-way parallelism instead. No benchmarked shape
    // hits this (their grids fill a wave or they broadcast).
    if (path == "deep-fallback") return transpose.multiply(this)
    def localT(b: Block): Block = {
      val out = new Array[Double](b.data.length)
      var j = 0
      while (j < b.cols) {
        var i = 0
        while (i < b.rows) { out(j + i * b.cols) = b.data(i + j * b.rows); i += 1 }
        j += 1
      }
      Block(b.bj, b.bi, b.cols, b.rows, out)
    }
    val lower: RDD[((Int, Int), Array[Double])] =
      if (q == 1) {
        // tall-skinny: G fits one block; map-side per-block syrk, one
        // single-partition reduce — zero data-sized shuffle.
        blocks.rdd.map { b =>
          val t = localT(b)
          ((0, 0), Gemm.multiply(t.data, t.rows, t.cols, b.data, b.cols))
        }.reduceByKey(DMatrix.addInto _, 1)
      } else if (path == "broadcast") {
        // Whole-operand broadcast (r16, guide §3.1 — the same budgeted
        // broadcast-join law as [[multiply]]'s skinny regimes and the
        // cholesky panel): a matrix within SPARK_GRAFT_BC_BYTES
        // ships ONCE to every executor and each lower output block
        // G_ij = Σ_k A(k,i)ᵀ·A(k,j) is computed map-side with ZERO
        // shuffle — at a18's recon the tiled path moved 151 MB through
        // an exchange for a 34 MB operand. The k-fold is ascending, so
        // the sum order is deterministic (integer-domain oracles are
        // exact either way — the GramSpec contract). Above the budget
        // the tiled stream below runs unchanged.
        val bcAll = spark.sparkContext.broadcast(
          blocks.rdd.collect().map(b => (b.bi, b.bj) -> b).toMap)
        val nbr = nbRows
        val pairsIdx = for { i <- 0 until q; j <- 0 to i } yield (i, j)
        spark.sparkContext
          .parallelize(pairsIdx, math.min(pairsIdx.size, slots))
          .flatMap { case (i, j) =>
            var acc: Array[Double] = null
            var k = 0
            while (k < nbr) {
              val a0 = bcAll.value.getOrElse((k, i), null)
              val b0 = bcAll.value.getOrElse((k, j), null)
              if (a0 != null && b0 != null) {
                val at = localT(a0)
                if (acc == null) acc = new Array[Double](at.rows * b0.cols)
                Gemm.dgemm(at.rows, b0.cols, at.cols, 1.0,
                  at.data, 0, at.rows, b0.data, 0, b0.rows, 1.0, acc, 0, at.rows)
              }
              k += 1
            }
            if (acc == null) Iterator.empty else Iterator(((i, j), acc))
          }
      } else {
        // Triangular tiled SUMMA: same stream-fold as multiply's tiled
        // path, restricted to lower output tiles (it ≥ jt). Tile width
        // follows the same ≥¾-wave + accumulator-cap rule, counted over
        // the TRIANGULAR grid.
        val tile = {
          val slots = math.max(1, spark.sparkContext.defaultParallelism)
          val accCap = Runtime.getRuntime.maxMemory / (4L * slots)
          DMatrix.gramTileFor(q, bs, parts, accCap)
        }
        val gT = (q + tile - 1) / tile
        val nPartsT = gT * (gT + 1) / 2
        // left = Aᵀ stripes (one narrow transpose per source block, the
        // serializer copies per target tile); right = A stripes.
        val keyed = blocks.rdd.map(localT).flatMap { at =>          // at = (i, k)
            val it = at.bi / tile
            (0 to it).iterator.map(jt => ((it, jt, at.bj, 0), at))
          } ++
          blocks.rdd.flatMap { b =>                                 // b = (k, j)
            val jt = b.bj / tile
            (jt until gT).iterator.map(it => ((it, jt, b.bi, 1), b))
          }
        keyed
          .partitionBy(new TriTilePartitioner(nPartsT))
          .mapPartitions { it0 =>
            if (it0.isEmpty) Iterator.empty
            else {
              val accs = new java.util.HashMap[Long, Array[Double]]()
              final class Slot {
                var as: List[Block] = Nil; var bs: List[Block] = Nil
                var nA = 0; var nB = 0
              }
              val slots = new java.util.HashMap[Int, Slot]()
              var tileRows = -1; var tileCols = -1
              def fold(a: Block, b: Block): Unit = {
                if (a.bi >= b.bj) {           // diagonal tiles: skip upper blocks
                  val key = (a.bi.toLong << 32) | b.bj.toLong
                  var acc = accs.get(key)
                  if (acc == null) {
                    acc = new Array[Double](a.rows * b.cols); accs.put(key, acc)
                  }
                  Gemm.dgemm(a.rows, b.cols, a.cols, 1.0,
                    a.data, 0, a.rows, b.data, 0, b.rows, 1.0, acc, 0, a.rows)
                }
              }
              it0.foreach { case ((itr, jtr, k, side), blk) =>
                if (tileRows < 0) {
                  tileRows = math.min(tile, q - itr * tile)
                  tileCols = math.min(tile, q - jtr * tile)
                }
                var slot = slots.get(k)
                if (slot == null) { slot = new Slot; slots.put(k, slot) }
                if (side == 0) {
                  slot.nA += 1
                  slot.bs.foreach(b => fold(blk, b))
                  if (slot.nB < tileCols) slot.as ::= blk
                  if (slot.nA == tileRows) slot.bs = Nil
                } else {
                  slot.nB += 1
                  slot.as.foreach(a => fold(a, blk))
                  if (slot.nA < tileRows) slot.bs ::= blk
                  if (slot.nB == tileCols) slot.as = Nil
                }
              }
              import scala.jdk.CollectionConverters._
              accs.entrySet().iterator().asScala.map { e =>
                val key: Long = e.getKey
                (((key >> 32).toInt, key.toInt), e.getValue)
              }
            }
          }
      }
    val full = lower.flatMap { case ((i, j), data) =>
      val rows = DMatrix.blockDim(g, bs, i)
      val cols = DMatrix.blockDim(g, bs, j)
      val blk = Block(i, j, rows, cols, data)
      if (i == j) Iterator(blk) else Iterator(blk, localT(blk))
    }
    new DMatrix(spark.createDataset(full), g, g, bs)
  }

  /** Lower-triangular mask (reference `da.tril(A)`, examples.rst:92):
    * blocks strictly above the diagonal are dropped entirely (no compute,
    * no shuffle); diagonal blocks are masked in place. */
  def tril: DMatrix = {
    import blocks.sparkSession.implicits._
    val bs = blockSize
    val kept = blocks.filter((b: Block) => b.bi >= b.bj).map { b =>
      if (b.bi > b.bj) b
      else {
        val out = b.data.clone()
        var j = 0
        while (j < b.cols) {
          var i = 0
          while (i < b.rows) {
            val gi = b.bi.toLong * bs + i; val gj = b.bj.toLong * bs + j
            if (gj > gi) out(i + j * b.rows) = 0.0
            i += 1
          }
          j += 1
        }
        b.copy(data = out)
      }
    }
    new DMatrix(kept, nRows, nCols, blockSize)
  }

  /** Banded extraction — the offset generalization of [[tril]] covering
    * dask's `da.tril(A, k)` / `da.triu(A, k)` family: keep a[i,j] where
    * j − i ∈ [−lower, upper]. Blocks lying entirely outside the band are
    * PRUNED before any cell is touched (the diagonal-overlap test on
    * block coordinates), so cost scales with the band volume, not the
    * matrix; straddling blocks mask in place. */
  def band(lower: Int, upper: Int): DMatrix = {
    require(lower >= 0 && upper >= 0, "band offsets are nonnegative widths")
    import blocks.sparkSession.implicits._
    val bs = blockSize
    val kept = blocks.filter { (b: Block) =>
      val minDiag = b.bj.toLong * bs - (b.bi.toLong * bs + b.rows - 1)
      val maxDiag = (b.bj.toLong * bs + b.cols - 1) - b.bi.toLong * bs
      maxDiag >= -lower.toLong && minDiag <= upper.toLong
    }.map { b =>
      val minDiag = b.bj.toLong * bs - (b.bi.toLong * bs + b.rows - 1)
      val maxDiag = (b.bj.toLong * bs + b.cols - 1) - b.bi.toLong * bs
      if (minDiag >= -lower.toLong && maxDiag <= upper.toLong) b // fully inside
      else {
        val out = b.data.clone()
        var j = 0
        while (j < b.cols) {
          val gj = b.bj.toLong * bs + j
          var i = 0
          while (i < b.rows) {
            val d = gj - (b.bi.toLong * bs + i)
            if (d < -lower || d > upper) out(i + j * b.rows) = 0.0
            i += 1
          }
          j += 1
        }
        b.copy(data = out)
      }
    }
    new DMatrix(kept, nRows, nCols, blockSize)
  }

  /** Row sums / col sums (dask `x.sum(axis=…)`): per-block partial vector,
    * reduceByKey on the block index — classic partial aggregation, the
    * shuffle carries nb small vectors, never the matrix. */
  def sumAxis1: DataFrame = { // per global row
    import blocks.sparkSession.implicits._
    val bs = blockSize
    blocks.rdd.map { b =>
      val partial = new Array[Double](b.rows)
      var j = 0
      while (j < b.cols) {
        var i = 0
        while (i < b.rows) { partial(i) += b.data(i + j * b.rows); i += 1 }
        j += 1
      }
      (b.bi, partial)
    }.reduceByKey(addInto _)
      .flatMap { case (bi, v) => v.iterator.zipWithIndex.map { case (x, i) => (bi.toLong * bs + i, x) } }
      .toDF("i", "row_sum")
  }

  def sumAxis0: DataFrame = { // per global column
    import blocks.sparkSession.implicits._
    val bs = blockSize
    blocks.rdd.map { b =>
      val partial = new Array[Double](b.cols)
      var j = 0
      while (j < b.cols) {
        var i = 0
        while (i < b.rows) { partial(j) += b.data(i + j * b.rows); i += 1 }
        j += 1
      }
      (b.bj, partial)
    }.reduceByKey(addInto _)
      .flatMap { case (bj, v) => v.iterator.zipWithIndex.map { case (x, j) => (bj.toLong * bs + j, x) } }
      .toDF("j", "col_sum")
  }

  /** Per-column standard deviation (dask `x.std(axis=0)`, used in the
    * reference's `x.dot(y).std(axis=0)` — tests/test_collections.py:93):
    * one pass of per-block (sum, sumsq) partials reduced on the
    * block-col index, std closed-form on the tiny reduced vectors. */
  def stdAxis0: DataFrame = {
    import blocks.sparkSession.implicits._
    val bs = blockSize
    val nr = nRows
    blocks.rdd.map { b =>
      val s = new Array[Double](b.cols)
      val s2 = new Array[Double](b.cols)
      var j = 0
      while (j < b.cols) {
        var i = 0
        while (i < b.rows) {
          val v = b.data(i + j * b.rows)
          s(j) += v; s2(j) += v * v
          i += 1
        }
        j += 1
      }
      (b.bj, (s, s2))
    }.reduceByKey((a, b) => (addInto(a._1, b._1), addInto(a._2, b._2)))
      .flatMap { case (bj, (s, s2)) =>
        s.indices.map { j =>
          val m = s(j) / nr
          (bj.toLong * bs + j, math.sqrt(math.max(0.0, s2(j) / nr - m * m)))
        }
      }
      .toDF("j", "col_std")
  }

  /** Per-block-row row means, keyed by block-row index — the joinable
    * form of `x.mean(axis=1)` feeding [[zipRowVec]]. Shuffles only nb
    * small vectors (reduceByKey with map-side combine), never blocks. */
  def rowMeanVec: RDD[(Int, Array[Double])] = {
    val nc = nCols
    blocks.rdd.map { b =>
      val partial = new Array[Double](b.rows)
      var j = 0
      while (j < b.cols) {
        var i = 0
        while (i < b.rows) { partial(i) += b.data(i + j * b.rows); i += 1 }
        j += 1
      }
      (b.bi, partial)
    }.reduceByKey(addInto _).mapValues(_.map(_ / nc.toDouble))
  }

  /** Per-block-col column means keyed by block-col index (`x.mean(axis=0)`
    * in joinable form, feeding [[zipColVec]]). */
  def colMeanVec: RDD[(Int, Array[Double])] = {
    val nr = nRows
    blocks.rdd.map { b =>
      val partial = new Array[Double](b.cols)
      var j = 0
      while (j < b.cols) {
        var i = 0
        while (i < b.rows) { partial(j) += b.data(i + j * b.rows); i += 1 }
        j += 1
      }
      (b.bj, partial)
    }.reduceByKey(addInto _).mapValues(_.map(_ / nr.toDouble))
  }

  /** Row-vector broadcast (dask `x op v[:, None]`, e.g.
    * `x - x.mean(axis=1)[:, None]` — reference
    * tests/test_collections.py:90-95): combine every element with a
    * per-row scalar. The vector arrives as per-block-row arrays keyed by
    * bi and JOINS blocks on bi — it is never collected to the driver, so
    * the shape survives a tall matrix whose row count alone outgrows
    * driver memory. */
  def zipRowVec(vec: RDD[(Int, Array[Double])])(f: (Double, Double) => Double): DMatrix = {
    import blocks.sparkSession.implicits._
    val joined = blocks.rdd.map(b => (b.bi, b)).join(vec).map { case (_, (b, v)) =>
      val out = new Array[Double](b.data.length)
      var j = 0
      while (j < b.cols) {
        var i = 0
        while (i < b.rows) { out(i + j * b.rows) = f(b.data(i + j * b.rows), v(i)); i += 1 }
        j += 1
      }
      b.copy(data = out)
    }
    new DMatrix(spark.createDataset(joined), nRows, nCols, blockSize)
  }

  /** Column-vector broadcast (dask `x op v[None, :]`): per-column scalar
    * joined on the block-col index. */
  def zipColVec(vec: RDD[(Int, Array[Double])])(f: (Double, Double) => Double): DMatrix = {
    import blocks.sparkSession.implicits._
    val joined = blocks.rdd.map(b => (b.bj, b)).join(vec).map { case (_, (b, v)) =>
      val out = new Array[Double](b.data.length)
      var j = 0
      while (j < b.cols) {
        var i = 0
        while (i < b.rows) { out(i + j * b.rows) = f(b.data(i + j * b.rows), v(j)); i += 1 }
        j += 1
      }
      b.copy(data = out)
    }
    new DMatrix(spark.createDataset(joined), nRows, nCols, blockSize)
  }

  /** 1-D stencil with halo exchange — dask `da.map_overlap(f, depth,
    * boundary=0)` on a chunked vector (reference surface: dask.array
    * overlapping computations; the reference executes them as ghost-cell
    * tasks between neighbor chunks). Spark-first shape: each block
    * flatMaps out its own payload plus `depth` boundary rows to each
    * neighbor block, and one keyed reduce assembles the padded block —
    * the shuffle carries ONLY the 2·depth halo rows per block boundary,
    * never the vector, so the exchange stays O(depth · nBlocks) at any
    * scale. Missing halos (the global edges) are zero-padded, so `f`
    * always sees exactly `depth` cells on each side of the center.
    *
    * `f(padded, center)` computes the output cell from the padded window
    * array; it must only read indices within ±depth of `center`. */
  def mapOverlapRows(depth: Int)(f: (Array[Double], Int) => Double): DMatrix = {
    require(nCols == 1, "mapOverlapRows is the 1-D (vector) overlap")
    require(depth > 0 && depth <= blockSize, s"depth $depth out of (0, $blockSize]")
    import blocks.sparkSession.implicits._
    val nb = nbRows
    // (targetBlock, (slot, rows)): slot 0 = pre-halo, 1 = self, 2 = post
    val frags = blocks.rdd.flatMap { b =>
      val out = scala.collection.mutable.ArrayBuffer[(Int, (Int, Array[Double]))]()
      out += ((b.bi, (1, b.data)))
      if (b.bi + 1 < nb)
        out += ((b.bi + 1, (0, b.data.takeRight(math.min(depth, b.rows)))))
      if (b.bi > 0)
        out += ((b.bi - 1, (2, b.data.take(math.min(depth, b.rows)))))
      out.iterator
    }
    val m = nRows; val bs = blockSize
    val stenciled = frags.groupByKey(math.max(1, math.min(nb, blocks.rdd.getNumPartitions)))
      .map { case (bi, parts) =>
        val rows = DMatrix.blockDim(m, bs, bi)
        val padded = new Array[Double](rows + 2 * depth)   // zero edges
        parts.foreach { case (slot, d) =>
          val off = slot match {
            case 0 => depth - d.length      // pre-halo ends at `depth`
            case 1 => depth
            case _ => depth + rows          // post-halo starts after self
          }
          System.arraycopy(d, 0, padded, off, d.length)
        }
        val out = new Array[Double](rows)
        var i = 0
        while (i < rows) { out(i) = f(padded, depth + i); i += 1 }
        Block(bi, 0, rows, 1, out)
      }
    new DMatrix(spark.createDataset(stenciled), nRows, 1, blockSize)
  }

  /** Column-wise running sum down the rows — dask `da.cumsum(axis=0)`.
    * Two-pass prefix scan, the same shape as the corpus packing scan
    * (TextOps) but over the block grid: pass 1 computes each block's
    * per-column totals (a 1×cols vector per block — the matrix itself
    * never re-shuffles); the totals are grouped per block COLUMN and
    * turned into exclusive prefix offsets (nbRows vectors per group —
    * bounded by the grid, not the data); pass 2 joins the offsets back
    * and adds them to each block's local column cumsum. One narrow map,
    * one tiny shuffle of nb vectors, one co-keyed join — no global sort
    * point, so the scan survives a tall matrix at any row count. */
  def cumsumAxis0: DMatrix = scanAxis0(_ + _, 0.0)

  /** Multiplicative twin — dask `da.cumprod(axis=0)`. */
  def cumprodAxis0: DMatrix = scanAxis0(_ * _, 1.0)

  /** Generalized column-wise prefix scan down the rows for ANY
    * associative op with identity — the algebraic form shared by
    * cumsum/cumprod (and the same two-pass shape as the corpus packing
    * scan in TextOps). Pass 1 folds each block's columns to a 1×cols
    * total vector; the totals group per block COLUMN into exclusive
    * prefix offsets (nbRows vectors per group — bounded by the grid,
    * not the data); pass 2 joins offsets back and completes the local
    * scan. One narrow map, one tiny shuffle of nb vectors, one co-keyed
    * join — no global sort point at any row count. */
  def scanAxis0(op: (Double, Double) => Double, identity: Double): DMatrix = {
    import blocks.sparkSession.implicits._
    val colTotals = blocks.rdd.map { b =>
      val t = Array.fill(b.cols)(identity)
      var j = 0
      while (j < b.cols) {
        var i = 0
        while (i < b.rows) { t(j) = op(t(j), b.data(i + j * b.rows)); i += 1 }
        j += 1
      }
      (b.bj, (b.bi, t))
    }
    // exclusive prefix per block column: offsets((bi,bj)) = fold_{r<bi} totals(r,bj)
    val offsets = colTotals.groupByKey(math.max(1, nbCols)).flatMap { case (bj, it) =>
      val sorted = it.toArray.sortBy(_._1)
      var acc: Array[Double] = null
      sorted.iterator.map { case (bi, t) =>
        val off = if (acc == null) Array.fill(t.length)(identity) else acc.clone()
        acc = if (acc == null) t.clone()
              else { var j = 0; while (j < t.length) { acc(j) = op(acc(j), t(j)); j += 1 }; acc }
        ((bi, bj), off)
      }
    }
    val scanned = blocks.rdd.map(b => ((b.bi, b.bj), b)).join(offsets)
      .map { case (_, (b, off)) =>
        val out = new Array[Double](b.data.length)
        var j = 0
        while (j < b.cols) {
          var run = off(j)
          var i = 0
          while (i < b.rows) {
            run = op(run, b.data(i + j * b.rows))
            out(i + j * b.rows) = run
            i += 1
          }
          j += 1
        }
        b.copy(data = out)
      }
    new DMatrix(spark.createDataset(scanned), nRows, nCols, blockSize)
  }

  /** Matrix norms — dask `da.linalg.norm(x, ord)`: 'fro' (returned as
    * the exact squared sum), 1 (max column abs-sum), inf (max row
    * abs-sum). One pass of per-block partial vectors reduced on the
    * block index; only nb small vectors shuffle. */
  def norms: (Double, Double, Double) = {
    val froSq = blocks.rdd.treeAggregate(0.0)(
      seqOp = { (acc, b) =>
        var s = acc; var i = 0
        while (i < b.data.length) { val v = b.data(i); s += v * v; i += 1 }
        s
      }, combOp = _ + _)
    val colAbs = blocks.rdd.map { b =>
      val t = new Array[Double](b.cols)
      var j = 0
      while (j < b.cols) {
        var i = 0
        while (i < b.rows) { t(j) += math.abs(b.data(i + j * b.rows)); i += 1 }
        j += 1
      }
      (b.bj, t)
    }.reduceByKey(addInto _).map(_._2.max).reduce(math.max)
    val rowAbs = blocks.rdd.map { b =>
      val t = new Array[Double](b.rows)
      var j = 0
      while (j < b.cols) {
        var i = 0
        while (i < b.rows) { t(i) += math.abs(b.data(i + j * b.rows)); i += 1 }
        j += 1
      }
      (b.bi, t)
    }.reduceByKey(addInto _).map(_._2.max).reduce(math.max)
    (froSq, colAbs, rowAbs)
  }

  /** Fixed-range histogram — dask `da.histogram(x, bins, range)`.
    * Per-block local bincount, then reduceByKey on the bin index: the
    * shuffle carries at most `bins` longs per map partition (map-side
    * combine), never cells. Out-of-range values are dropped, matching
    * numpy; the upper edge is inclusive in the last bin. */
  def histogram(lo: Double, hi: Double, bins: Int): DataFrame = {
    require(bins > 0 && hi > lo, "need bins > 0 and hi > lo")
    import blocks.sparkSession.implicits._
    val w = (hi - lo) / bins
    blocks.rdd.mapPartitions { it =>
      val counts = new Array[Long](bins)
      it.foreach { b =>
        var i = 0
        while (i < b.data.length) {
          val v = b.data(i)
          if (v >= lo && v <= hi) {
            val bin = math.min(bins - 1, ((v - lo) / w).toInt)
            counts(bin) += 1
          }
          i += 1
        }
      }
      counts.iterator.zipWithIndex.collect { case (c, bIdx) if c > 0 => (bIdx, c) }
    }.reduceByKey(_ + _)
      .map { case (bIdx, c) => (bIdx.toLong, lo + bIdx * w, c) }
      .toDF("bin", "bin_lo", "n")
  }

  /** NaN-aware per-row reductions — dask `da.nansum/nanmean(axis=1)`:
    * the skipna semantics every real (gappy) dataset needs, where plain
    * sums would poison whole rows with one NaN. Per block, each row
    * contributes (valid count, valid sum); partials reduce on the block-
    * row key exactly like [[sumAxis1]] — the shuffle carries two small
    * vectors per block, never cells. An all-NaN row reports n_valid = 0
    * with sum 0 (numpy nansum of empty = 0). */
  def nanRowStats: DataFrame = {
    import blocks.sparkSession.implicits._
    val bs = blockSize
    blocks.rdd.map { b =>
      val cnt = new Array[Long](b.rows)
      val sm = new Array[Double](b.rows)
      var j = 0
      while (j < b.cols) {
        var i = 0
        while (i < b.rows) {
          val v = b.data(i + j * b.rows)
          if (!v.isNaN) { cnt(i) += 1; sm(i) += v }
          i += 1
        }
        j += 1
      }
      (b.bi, (cnt, sm))
    }.reduceByKey { (a: (Array[Long], Array[Double]), b: (Array[Long], Array[Double])) =>
      val (c1, s1) = a; val (c2, s2) = b
      var i = 0
      while (i < c1.length) { c1(i) += c2(i); s1(i) += s2(i); i += 1 }
      (c1, s1)
    }.flatMap { case (bi, (cnt, sm)) =>
      cnt.indices.iterator.map(i => (bi.toLong * bs + i, cnt(i), sm(i)))
    }.toDF("i", "n_valid", "nan_sum")
  }

  /** numpy/dask `digitize`: per-cell bucket index against an arbitrary
    * strictly-increasing boundary vector (np.digitize right=False:
    * idx = #{boundaries ≤ v}), reduced to per-bucket count + value sum.
    * Boundaries ride the task closure (tiny by definition); each
    * partition emits ≤ |boundaries|+1 partials — the a25 histogram
    * discipline generalized to variable-width bins. Value sums are
    * order-independent when cells are integer-valued (exact doubles);
    * float corpora would tree-sum within 1 ulp·log n. */
  def digitize(boundaries: Array[Double]): DataFrame = {
    require(boundaries.nonEmpty &&
      boundaries.iterator.sliding(2).withPartial(false).forall(p => p(0) < p(1)),
      "boundaries must be strictly increasing")
    import blocks.sparkSession.implicits._
    val nb = boundaries.length
    blocks.rdd.mapPartitions { it =>
      val counts = new Array[Long](nb + 1)
      val sums = new Array[Double](nb + 1)
      it.foreach { b =>
        var i = 0
        while (i < b.data.length) {
          val v = b.data(i)
          val hit = java.util.Arrays.binarySearch(boundaries, v)
          val idx = if (hit >= 0) hit + 1 else -(hit + 1) // #{bounds <= v}
          counts(idx) += 1
          sums(idx) += v
          i += 1
        }
      }
      (0 to nb).iterator.filter(counts(_) > 0)
        .map(k => (k, (counts(k), sums(k))))
    }.reduceByKey((a, b) => (a._1 + b._1, a._2 + b._2))
      .map { case (k, (c, sm)) => (k.toLong, c, sm) }
      .toDF("bucket", "n", "sum_v")
  }

  /** numpy/dask `bincount(x, weights=w)`: per non-negative integer value
    * of `this`, the occurrence count and the weighted sum from an
    * identically-chunked weight matrix. One co-partitioned block join
    * (narrow when both sides share a partitioner, exactly [[zip]]'s
    * shape), then per-partition open-address accumulation keyed by the
    * bin value — the shuffle carries ≤ |bins| (count, wsum) partials per
    * map partition, never cells (the [[digitize]] discipline with a
    * data-defined bin domain). Integer-valued weights keep the double
    * sums exact and order-independent. */
  def bincount(weights: DMatrix): DataFrame = {
    require(nRows == weights.nRows && nCols == weights.nCols &&
            blockSize == weights.blockSize, "shape/chunk mismatch")
    import blocks.sparkSession.implicits._
    blocks.rdd.map(b => ((b.bi, b.bj), b))
      .join(weights.blocks.rdd.map(b => ((b.bi, b.bj), b)))
      .mapPartitions { it =>
        val acc = scala.collection.mutable.HashMap.empty[Long, (Long, Double)]
        it.foreach { case (_, (x, w)) =>
          var i = 0
          while (i < x.data.length) {
            val bin = x.data(i).toLong
            require(bin >= 0 && bin.toDouble == x.data(i),
              s"bincount needs non-negative integer values, got ${x.data(i)}")
            val (c, s) = acc.getOrElse(bin, (0L, 0.0))
            acc.update(bin, (c + 1L, s + w.data(i)))
            i += 1
          }
        }
        acc.iterator
      }
      .reduceByKey((a, b) => (a._1 + b._1, a._2 + b._2))
      .map { case (bin, (c, s)) => (bin, c, s) }
      .toDF("bin", "n", "wsum")
  }

  /** Per-row argmax — dask `da.argmax(axis=1)` (+ the max itself).
    * Per-block partial (max, argj) per row, reduceByKey on the block-row
    * index: the shuffle carries one small pair-vector per block, never
    * cells. Ties resolve to the smallest column index (numpy argmax). */
  def argmaxAxis1: DataFrame = {
    import blocks.sparkSession.implicits._
    val bs = blockSize
    blocks.rdd.map { b =>
      val mx = Array.fill(b.rows)(Double.NegativeInfinity)
      val aj = new Array[Long](b.rows)
      var j = 0
      while (j < b.cols) {
        val gj = b.bj.toLong * bs + j
        var i = 0
        while (i < b.rows) {
          val v = b.data(i + j * b.rows)
          if (v > mx(i)) { mx(i) = v; aj(i) = gj }   // within a block, j ascends
          i += 1
        }
        j += 1
      }
      (b.bi, (mx, aj))
    }.reduceByKey { (x, y) =>
      val (m1, j1) = x; val (m2, j2) = y
      var i = 0
      while (i < m1.length) {
        if (m2(i) > m1(i) || (m2(i) == m1(i) && j2(i) < j1(i))) {
          m1(i) = m2(i); j1(i) = j2(i)
        }
        i += 1
      }
      (m1, j1)
    }.flatMap { case (bi, (m, j)) =>
      m.indices.iterator.map(r => (bi.toLong * bs + r, j(r), m(r)))
    }.toDF("i", "argmax_j", "max_v")
  }

  /** Main diagonal as (i, v) rows — dask `da.diag(x)`. A partition-local
    * filter touching only the nb diagonal blocks; everything else is
    * pruned before any work. */
  def diagVec: DataFrame = {
    import blocks.sparkSession.implicits._
    val bs = blockSize
    blocks.filter((b: Block) => b.bi == b.bj).flatMap { b =>
      (0 until math.min(b.rows, b.cols)).iterator
        .map(k => (b.bi.toLong * bs + k, b.data(k + k * b.rows)))
    }.toDF("i", "v")
  }

  /** Trace — dask `da.trace(x)`: diagonal-blocks-only treeAggregate. */
  def trace: Double =
    blocks.rdd.filter(b => b.bi == b.bj).treeAggregate(0.0)(
      seqOp = { (acc, b) =>
        var s = acc
        var k = 0
        val n = math.min(b.rows, b.cols)
        while (k < n) { s += b.data(k + k * b.rows); k += 1 }
        s
      },
      combOp = _ + _)

  /** Stack below — dask `da.concatenate([a, b], axis=0)`. A pure narrow
    * map re-indexing the bottom matrix's block rows; no data moves. Needs
    * this matrix's row count to be block-aligned so the bottom blocks
    * land on grid boundaries (dask's rechunk-on-concat otherwise —
    * compose with [[rechunk]] for the unaligned case). */
  def vstack(other: DMatrix): DMatrix = {
    require(nCols == other.nCols && blockSize == other.blockSize,
      "vstack needs matching widths and chunks")
    require(nRows % blockSize == 0,
      s"top matrix rows $nRows not aligned to chunk $blockSize: rechunk first")
    import blocks.sparkSession.implicits._
    val shift = nbRows
    val shifted = other.blocks.map(b => b.copy(bi = b.bi + shift))
    new DMatrix(blocks.union(shifted), nRows + other.nRows, nCols, blockSize)
  }

  /** Concatenate along axis 1 (`da.concatenate([a, b], axis=1)`) — the
    * [[vstack]] mirror: the right grid's block-COLUMN indices shift by
    * the left grid's width, a pure narrow re-index with zero data
    * movement. */
  def hstack(other: DMatrix): DMatrix = {
    require(nRows == other.nRows && blockSize == other.blockSize,
      "hstack needs matching heights and chunks")
    require(nCols % blockSize == 0,
      s"left matrix cols $nCols not aligned to chunk $blockSize: rechunk first")
    import blocks.sparkSession.implicits._
    val shift = nbCols
    val shifted = other.blocks.map(b => b.copy(bj = b.bj + shift))
    new DMatrix(blocks.union(shifted), nRows, nCols + other.nCols, blockSize)
  }

  /** Full reductions (dask `x.sum()`, `x.mean()`, `x.std()`):
    * single treeAggregate pass over blocks. */
  def stats: (Long, Double, Double, Double, Double) = {
    val (n, s, s2, mn, mx) = blocks.rdd.treeAggregate((0L, 0.0, 0.0, Double.MaxValue, Double.MinValue))(
      seqOp = { case ((n, s, s2, mn, mx), b) =>
        var i = 0; var ls = 0.0; var ls2 = 0.0; var lmn = mn; var lmx = mx
        while (i < b.data.length) {
          val v = b.data(i); ls += v; ls2 += v * v
          if (v < lmn) lmn = v; if (v > lmx) lmx = v
          i += 1
        }
        (n + b.data.length, s + ls, s2 + ls2, lmn, lmx)
      },
      combOp = { case ((n1, s1, q1, m1, x1), (n2, s2, q2, m2, x2)) =>
        (n1 + n2, s1 + s2, q1 + q2, math.min(m1, m2), math.max(x1, x2))
      })
    (n, s, s2, mn, mx)
  }

  def sum: Double = stats._2
  def mean: Double = { val st = stats; st._2 / st._1 }
  def std: Double = { val st = stats; math.sqrt(st._3 / st._1 - math.pow(st._2 / st._1, 2)) }

  /** Exploded (i, j, v) coordinates — the oracle-comparable form. */
  def toCoords: DataFrame = {
    import blocks.sparkSession.implicits._
    val bs = blockSize
    blocks.flatMap { b =>
      for {
        j <- 0 until b.cols
        i <- 0 until b.rows
      } yield (b.bi.toLong * bs + i, b.bj.toLong * bs + j, b.data(i + j * b.rows))
    }.toDF("i", "j", "v")
  }

  /** Collect to a local Breeze matrix — TEST/ORACLE USE ONLY (the analog
    * of dask's `compute(scheduler="sync")` single-node oracle). */
  def toLocal: BDM[Double] = {
    require(nRows * nCols <= 4_000_000L, "toLocal is for tests only")
    val out = BDM.zeros[Double](nRows.toInt, nCols.toInt)
    val bs = blockSize
    blocks.collect().foreach { b =>
      var j = 0
      while (j < b.cols) {
        var i = 0
        while (i < b.rows) {
          out(b.bi * bs + i, b.bj * bs + j) = b.data(i + j * b.rows)
          i += 1
        }
        j += 1
      }
    }
    out
  }

  /** Kronecker product A ⊗ B (dask `da.kron` surface) with a SMALL,
    * SQUARE right operand — the stencil/pattern-expansion shape the op
    * is used for in practice. B is collected once (explicitly bounded)
    * and broadcast; every A block then expands IN PLACE to one
    * (rows·p × cols·p) output tile, so the whole product is a pure
    * narrow map over A's blocks — zero shuffle, C's grid = A's grid
    * with blockSize·p tiles, and cost scales with |A|·|B| FLOPs only.
    * (A large B would instead tile as a blockwise cross join; the
    * square-B broadcast form keeps the 100 TB path shuffle-free.) */
  def kron(other: DMatrix): DMatrix = {
    require(other.nRows == other.nCols,
      "kron keeps a consistent square block grid; rechunk B square first")
    require(other.nRows * other.nCols <= 65536L,
      "kron broadcasts the right operand; swap operands for a large B")
    val p = other.nRows.toInt
    val bLoc = other.toLocal
    val bc = spark.sparkContext.broadcast(
      (bLoc.rows, bLoc.cols, bLoc.toArray))
    import blocks.sparkSession.implicits._
    val out = blocks.map { blk =>
      val (bp, bq, bdat) = bc.value
      val rows = blk.rows * bp
      val cols = blk.cols * bq
      val res = new Array[Double](rows * cols)
      var j1 = 0
      while (j1 < blk.cols) {
        var i1 = 0
        while (i1 < blk.rows) {
          val a = blk.data(i1 + j1 * blk.rows)
          var j2 = 0
          while (j2 < bq) {
            val cBase = (j1 * bq + j2) * rows + i1 * bp
            val bBase = j2 * bp
            var i2 = 0
            while (i2 < bp) {
              res(cBase + i2) = a * bdat(bBase + i2)
              i2 += 1
            }
            j2 += 1
          }
          i1 += 1
        }
        j1 += 1
      }
      Block(blk.bi, blk.bj, rows, cols, res)
    }
    new DMatrix(out, nRows * p, nCols * p, blockSize * p)
  }

  def persist(): DMatrix = { blocks.persist(StorageLevel.MEMORY_AND_DISK); this }
  def unpersist(): DMatrix = { blocks.unpersist(); this }
}

/** Routes every key of one C-block group — (bi, bj, k, side) — to the
  * partition owned by (bi, bj); with parts = nbr·nbc the mapping is
  * injective, so each task of [[DMatrix.multiply]]'s streamed shallow
  * path owns exactly one C block. */
private class StripePartitioner(nbc: Int, parts: Int)
    extends org.apache.spark.Partitioner {
  def numPartitions: Int = parts
  def getPartition(key: Any): Int = key match {
    case (i: Int, j: Int, _, _) => ((i.toLong * nbc + j) % parts).toInt
    case other => throw new IllegalArgumentException(s"unexpected key $other")
  }
}

/** One partition per LOWER output tile (it ≥ jt) for [[DMatrix.gramian]]:
  * triangular row-major index it(it+1)/2 + jt. */
private class TriTilePartitioner(parts: Int)
    extends org.apache.spark.Partitioner {
  def numPartitions: Int = parts
  def getPartition(key: Any): Int = key match {
    case (it: Int, jt: Int, _, _) => ((it.toLong * (it + 1) / 2 + jt) % parts).toInt
    case other => throw new IllegalArgumentException(s"unexpected key $other")
  }
}

object DMatrix {
  def nBlocks(dim: Long, bs: Int): Int = ((dim + bs - 1) / bs).toInt
  def blockDim(dim: Long, bs: Int, bIdx: Int): Int =
    math.min(bs.toLong, dim - bIdx.toLong * bs).toInt

  /** The one broadcast budget — mirrors the spirit of
    * `spark.sql.autoBroadcastJoinThreshold`: an operand at most this many
    * bytes ships to every executor instead of joining. It gates the
    * skinny-GEMM and gramian paths here and the Cholesky/LU panel steps
    * in [[LinAlg]]. `SPARK_GRAFT_BC_BYTES`, default 64 MB (the l-wide
    * skinny factors it guards are ~1 MB at the flagship). */
  private[graft] def bcBytes: Long =
    sys.env.get("SPARK_GRAFT_BC_BYTES").map(_.toLong).getOrElse(64L << 20)

  /** Which physical plan [[DMatrix.multiply]] takes, as a pure function
    * of the operand shapes (unit-testable — MultiplyPathSpec pins the
    * canonical shapes so a threshold tweak can't silently flip a13 or
    * a16 onto the wrong plan; VERDICT r14 directive #5).
    *
    *  - `broadcast-right` / `broadcast-left`: one operand is a single
    *    block-column (resp. block-row) within the broadcast budget —
    *    the rSVD regime (A 800 MB × Ω 1.2 MB). The big side NEVER
    *    shuffles: the skinny side broadcasts, each big-side block
    *    dgemms map-side, and only the skinny m×l (resp. l×n) partials
    *    cross an exchange (map-side combined). This is the
    *    broadcast-join law applied to GEMM — at 100× the fat matrix is
    *    80 GB+ and re-shipping it per multiply was the engine's one
    *    weak plan shape (a16, VERDICT r14 finding #1).
    *  - `deep-join`: plenty of inner block keys (or an outer-product
    *    grid too large to stream) — join on the inner index, reduce
    *    partial products map-side.
    *  - `tiled-summa`: shallow inner dimension, square-ish grid (the
    *    a13 flagship) — t×t output tiles bound replication (see
    *    [[DMatrix.multiply]]).
    */
  private[graft] def multiplyPathFor(
      aNbRows: Int, aNbCols: Int, aBytes: Long,
      bNbRows: Int, bNbCols: Int, bBytes: Long,
      parts: Int, bcLimit: Long = bcBytes): String =
    if (bNbCols == 1 && bBytes <= bcLimit) "broadcast-right"
    else if (aNbRows == 1 && aBytes <= bcLimit) "broadcast-left"
    else {
      val shallowGridOk = aNbRows.toLong * bNbCols <= 64L * parts
      if (aNbCols >= parts || !shallowGridOk) "deep-join" else "tiled-summa"
    }

  /** Output-tile width for the SUMMA path: the largest t whose tile grid
    * still fills ≥¾ of one wave's task slots AND whose per-task C
    * accumulators (t² blocks of bs² doubles) fit the accumulator-memory
    * cap. The cap (ADVICE r14): without it, a large grid with big blocks
    * (40×40 at bs=2000 picks t=8 → 2 GB of accumulators per task × a
    * full wave of concurrent tasks) exhausts the heap where the
    * one-block-per-task path stayed flat; replication still falls as
    * 1/t at whatever t the cap admits. */
  private[graft] def summaTileFor(nbr: Int, nbc: Int, bs: Int, parts: Int,
                                  accCapBytes: Long): Int = {
    val minTasks = math.max(1, (parts * 3) / 4)
    Seq(8, 4, 2, 1).find { t =>
      ((nbr + t - 1) / t).toLong * ((nbc + t - 1) / t) >= minTasks &&
        t.toLong * t * bs * bs * 8 <= accCapBytes
    }.getOrElse(1)
  }

  /** Which physical plan [[DMatrix.gramian]] takes, as a pure function of
    * the operand shape (unit-testable — GramSpec pins the canonical
    * shapes, the [[multiplyPathFor]] discipline):
    *  - `single-column`: q = 1 — per-block map-side syrk partials reduce
    *    into the one output block, zero data-sized shuffle;
    *  - `broadcast`: the whole operand fits the broadcast budget
    *    (`SPARK_GRAFT_BC_BYTES`, dense upper bound) — ships once,
    *    every lower block computes map-side, zero shuffle;
    *  - `tri-summa`: the triangular tiled stream (one partition per
    *    lower tile);
    *  - `deep-fallback`: too big to broadcast AND too few block-columns
    *    for the triangular grid to fill ¾ of a wave even at t = 1 — run
    *    `transpose.multiply` (deep join, `parts`-way parallel) instead
    *    of ≤q(q+1)/2 serial stripe streams (r15 ADVICE #1). */
  private[graft] def gramPathFor(q: Int, denseBytes: Long, slots: Int,
                                 bcLimit: Long = bcBytes): String =
    if (q == 1) "single-column"
    else if (denseBytes <= bcLimit) "broadcast"
    else if (q.toLong * (q + 1) / 2 >= math.max(1, (slots * 3) / 4)) "tri-summa"
    else "deep-fallback"

  /** Tile width for [[DMatrix.gramian]]'s triangular SUMMA: the same
    * ≥¾-wave + accumulator-cap rule as [[summaTileFor]], with the task
    * count taken over the TRIANGULAR grid (gT(gT+1)/2 tiles). */
  private[graft] def gramTileFor(q: Int, bs: Int, parts: Int,
                                 accCapBytes: Long): Int = {
    val minTasks = math.max(1, (parts * 3) / 4)
    Seq(8, 4, 2, 1).find { t =>
      val gT = ((q + t - 1) / t).toLong
      gT * (gT + 1) / 2 >= minTasks &&
        t.toLong * t * bs * bs * 8 <= accCapBytes
    }.getOrElse(1)
  }

  /** The map-side broadcast product behind [[DMatrix.multiply]]'s
    * broadcast-skinny paths and `LinAlg.svdCompressed`'s passes over A.
    * `slices(s)` is the skinny operand's part for inner block index s,
    * column-major and `w` wide: cols(X)×w on the right of a resident block
    * X (`left` false: X·S, keyed on X's block row) or w×rows(X) on its
    * left (`left` true: S·X, keyed on X's block column). The resident
    * blocks never move; only the w-wide partials reduce, map-side
    * combined, into `outParts` partitions. A null slice is an absent
    * inner block and contributes nothing (absent means zero). */
  private[array] def broadcastSkinny(resident: RDD[Block],
                                     slices: Broadcast[Array[Array[Double]]], w: Int,
                                     left: Boolean, outParts: Int): RDD[(Int, Array[Double])] =
    resident.flatMap { x =>
      val s = slices.value(if (left) x.bi else x.bj)
      if (s == null) None
      else if (left) Some((x.bj, Gemm.multiply(s, w, x.rows, x.data, x.cols)))
      else Some((x.bi, Gemm.multiply(x.data, x.rows, x.cols, s, w)))
    }.reduceByKey(addInto _, outParts)

  private[array] def addInto(x: Array[Double], y: Array[Double]): Array[Double] = {
    var i = 0
    while (i < x.length) { x(i) += y(i); i += 1 }
    x
  }

  /** Deterministic per-cell LCG shared with the DuckDB oracle:
    * `((idx*1103515245 + seed) % 2147483647)` with `idx = i*nCols + j`.
    * Pure integer arithmetic → bit-identical in any engine. NOTE: linear
    * in idx, so it is only for exact-arithmetic oracle fixtures — numeric
    * workloads use [[mix64]] (the LCG's linear structure makes large
    * "random" matrices nearly rank-deficient). */
  @inline def lcg(i: Long, j: Long, nCols: Long, seed: Long): Long =
    ((i * nCols + j) * 1103515245L + seed) % 2147483647L

  /** splitmix64 finalizer: well-mixed deterministic hash for numeric
    * random matrices (da.random analog with proper spectral behavior). */
  @inline def mix64(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  @inline def mixedUniform(i: Long, j: Long, nCols: Long, seed: Long): Double =
    (mix64(i * nCols + j + seed * 0x632BE59BD9B4E019L) >>> 11).toDouble / (1L << 53).toDouble

  /** Generic seeded constructor: one Spark task per block, each block
    * built independently from (bi, bj) — the dask chunked-RNG analog. */
  def tabulate(spark: SparkSession, m: Long, n: Long, bs: Int)
              (f: (Long, Long) => Double): DMatrix = {
    import spark.implicits._
    val nbi = nBlocks(m, bs); val nbj = nBlocks(n, bs)
    val ds = spark.range(nbi.toLong * nbj).map { k =>
      val bi = (k / nbj).toInt; val bj = (k % nbj).toInt
      val rows = blockDim(m, bs, bi); val cols = blockDim(n, bs, bj)
      val data = new Array[Double](rows * cols)
      var j = 0
      while (j < cols) {
        var i = 0
        while (i < rows) {
          data(i + j * rows) = f(bi.toLong * bs + i, bj.toLong * bs + j)
          i += 1
        }
        j += 1
      }
      Block(bi, bj, rows, cols, data)
    }
    new DMatrix(ds, m, n, bs)
  }

  /** Integer-valued uniform in [0, mod): exactly SQL-expressible, so
    * matmul/reduction results are exact integers in doubles (order-
    * independent sums → safe for hash-compared oracles). */
  def randInt(spark: SparkSession, m: Long, n: Long, bs: Int, seed: Long,
              mod: Long = 1000L): DMatrix =
    tabulate(spark, m, n, bs)((i, j) => (lcg(i, j, n, seed) % mod).toDouble)

  /** Uniform doubles in [0,1) — the `da.random.random` analog for the
    * numeric (tolerance-tested) linalg workloads. Uses the mixed hash:
    * proper full-rank spectral behavior, still deterministic per cell. */
  def rand(spark: SparkSession, m: Long, n: Long, bs: Int, seed: Long): DMatrix =
    tabulate(spark, m, n, bs)((i, j) => mixedUniform(i, j, n, seed))

  def ones(spark: SparkSession, m: Long, n: Long, bs: Int): DMatrix =
    tabulate(spark, m, n, bs)((_, _) => 1.0)

  def zeros(spark: SparkSession, m: Long, n: Long, bs: Int): DMatrix =
    tabulate(spark, m, n, bs)((_, _) => 0.0)

  def eye(spark: SparkSession, n: Long, bs: Int): DMatrix =
    tabulate(spark, n, n, bs)((i, j) => if (i == j) 1.0 else 0.0)

  /** In-memory local matrix → distributed (the `da.asarray` analog). The
    * driver slices the matrix into its blocks and each task receives only
    * the blocks of its own partition (a closure over `local` would ship
    * the whole matrix to every task). Partition count matches
    * [[tabulate]]'s. */
  def fromLocal(spark: SparkSession, local: BDM[Double], bs: Int): DMatrix = {
    import spark.implicits._
    val m = local.rows; val n = local.cols
    val blocks = for (bi <- 0 until nBlocks(m, bs); bj <- 0 until nBlocks(n, bs)) yield {
      val rows = blockDim(m, bs, bi); val cols = blockDim(n, bs, bj)
      val data = new Array[Double](rows * cols)
      var j = 0
      while (j < cols) {
        var i = 0
        while (i < rows) { data(i + j * rows) = local(bi * bs + i, bj * bs + j); i += 1 }
        j += 1
      }
      Block(bi, bj, rows, cols, data)
    }
    val rdd = spark.sparkContext.parallelize(blocks, spark.sparkContext.defaultParallelism)
    new DMatrix(spark.createDataset(rdd), m, n, bs)
  }

  /** Ternary select `da.where(cond, a, b)` over three identically-
    * chunked matrices: ONE co-partitioned 3-way join on the block key
    * (cond nonzero picks a, else b) — cell volume moves once, no
    * densified intermediate. */
  def where(cond: DMatrix, a: DMatrix, b: DMatrix): DMatrix = {
    require(cond.nRows == a.nRows && cond.nCols == a.nCols &&
            cond.nRows == b.nRows && cond.nCols == b.nCols &&
            cond.blockSize == a.blockSize && cond.blockSize == b.blockSize,
      "where: shape/chunk mismatch")
    import cond.blocks.sparkSession.implicits._
    def keyed(m: DMatrix) = m.blocks.rdd.map(bl => ((bl.bi, bl.bj), bl))
    val out = keyed(cond).join(keyed(a)).join(keyed(b)).map {
      case (_, ((c, x), y)) =>
        val data = new Array[Double](c.data.length)
        var i = 0
        while (i < data.length) {
          data(i) = if (c.data(i) != 0.0) x.data(i) else y.data(i); i += 1
        }
        c.copy(data = data)
    }
    new DMatrix(cond.blocks.sparkSession.createDataset(out),
      cond.nRows, cond.nCols, cond.blockSize)
  }

  /** HDF5 shard ingestion (the reference's h5py payload surface,
    * `SS/wukong/protocol/h5py.py`): a directory of `.h5` files, each a
    * self-describing horizontal stripe — a rank-2 row-major `dataset`
    * plus a 1-element `row0` dataset carrying the stripe's global start
    * row — becomes one DMatrix on the standard bs-grid via
    * [[fromStripes]] (see there for the scale shape). */
  def fromHdf5(spark: SparkSession, dir: String, dataset: String, bs: Int): DMatrix =
    fromStripes(spark, dir, "*.h5", bs)(meta = { bytes =>
      // header-only: dims probe + the 1-element row0 payload (8 bytes) —
      // the metadata pass never decodes the stripe data
      val dims = graft.sources.Hdf5Lite.readDims(bytes, dataset)
      require(dims.length == 2, s"'$dataset' must be rank 2, got rank ${dims.length}")
      val r0 = graft.sources.Hdf5Lite.readDataset(bytes, "row0").data(0).toLong
      (r0, dims(0), dims(1))
    }) { bytes =>
      val d = graft.sources.Hdf5Lite.readDataset(bytes, dataset)
      val r0 = graft.sources.Hdf5Lite.readDataset(bytes, "row0").data(0).toLong
      (r0, d.dims(0), d.dims(1), d.data)
    }

  /** NetCDF classic shard ingestion (the reference's netCDF4 payload
    * surface, `SS/wukong/protocol/netcdf4.py`): same self-describing
    * stripe contract as [[fromHdf5]] — a rank-2 `variable` plus a
    * 1-element `row0` variable — through the same binaryFile decode +
    * piece-assemble path. */
  def fromNetcdf(spark: SparkSession, dir: String, variable: String, bs: Int): DMatrix =
    fromStripes(spark, dir, "*.nc", bs)(meta = { bytes =>
      val dims = graft.sources.NetcdfLite.readDims(bytes, variable)
      require(dims.length == 2, s"'$variable' must be rank 2, got rank ${dims.length}")
      val r0 = graft.sources.NetcdfLite.readVariable(bytes, "row0").data(0).toLong
      (r0, dims(0), dims(1))
    }) { bytes =>
      val d = graft.sources.NetcdfLite.readVariable(bytes, variable)
      val r0 = graft.sources.NetcdfLite.readVariable(bytes, "row0").data(0).toLong
      (r0, d.dims(0), d.dims(1), d.data)
    }

  /** Shared shard-ingestion engine: a directory of self-describing
    * horizontal stripes — `decode` maps one file's bytes to
    * (startRow, rows, cols, row-major data) — becomes one DMatrix.
    * Files are the parallelism unit (one binaryFile task decodes one
    * shard, the mm01 pattern, so shard size bounds executor memory); a
    * driver metadata pass sizes the matrix through `meta` — a
    * HEADER-ONLY probe (both shard codecs parse headers in O(KB)), so
    * the corpus is decoded exactly once, in the data pass, not twice;
    * the collected metadata is validated for disjoint, gap-free row
    * coverage (overlaps would silently SUM into wrong cells via the
    * piece merge, gaps would yield silent zero rows);
    * stripes need not align to the block grid —
    * each decoded stripe narrowly flatMaps to per-(bi,bj) partial blocks
    * and one map-side-combined reduceByKey assembles them (only
    * boundary blocks receive two pieces), the same single-pass piece
    * shuffle as `rechunk`. */
  def fromStripes(spark: SparkSession, dir: String, glob: String, bs: Int)
                 (meta: Array[Byte] => (Long, Long, Long))
                 (decode: Array[Byte] => (Long, Long, Long, Array[Double])): DMatrix = {
    import spark.implicits._
    val files = spark.read.format("binaryFile")
      .option("pathGlobFilter", glob).load(dir)
      .select("content").as[Array[Byte]]
    val metas = files.map(meta).collect().sortBy(_._1)
    require(metas.nonEmpty, s"no $glob files under $dir")
    val n = metas.head._3
    require(metas.forall(_._3 == n), "inconsistent column counts across shards")
    require(metas.head._1 == 0L,
      s"stripe coverage must start at row 0, first stripe starts at ${metas.head._1}")
    metas.sliding(2).foreach {
      case Array((r0a, rowsA, _), (r0b, _, _)) =>
        require(r0a + rowsA == r0b,
          if (r0a + rowsA > r0b)
            s"overlapping stripes: [$r0a, ${r0a + rowsA}) and row0=$r0b — overlaps would sum into wrong cells"
          else s"gap in stripe coverage: rows [${r0a + rowsA}, $r0b) missing")
      case _ => ()
    }
    val m = metas.map(t => t._1 + t._2).max
    val pieces = files.rdd.flatMap { bytes =>
      val (r0, dRows, dCols, data) = decode(bytes)
      val p = dRows.toInt; val w = dCols.toInt
      val bi0 = (r0 / bs).toInt; val bi1 = ((r0 + p - 1) / bs).toInt
      for {
        bi <- bi0 to bi1
        bj <- 0 until nBlocks(n, bs)
      } yield {
        val rows = blockDim(m, bs, bi); val cols = blockDim(n, bs, bj)
        val out = new Array[Double](rows * cols)
        // stripe rows that land in block row bi, in global coordinates
        val gLo = math.max(r0, bi.toLong * bs)
        val gHi = math.min(r0 + p, bi.toLong * bs + rows)
        var g = gLo
        while (g < gHi) {
          val src = (g - r0).toInt * w + bj * bs // row-major stripe offset
          val li = (g - bi.toLong * bs).toInt
          var c = 0
          while (c < cols) { out(li + c * rows) = data(src + c); c += 1 }
          g += 1
        }
        ((bi, bj), out)
      }
    }
    val blocks = pieces.reduceByKey(addInto).map { case ((bi, bj), data) =>
      Block(bi, bj, blockDim(m, bs, bi), blockDim(n, bs, bj), data)
    }
    new DMatrix(spark.createDataset(blocks), m, n, bs)
  }
}
