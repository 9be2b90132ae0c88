package graft.array

import graft.SparkSpec
import breeze.linalg.{DenseMatrix => BDM, cholesky => bchol}
import org.apache.spark.storage.StorageLevel

/** DMatrix keeps its blocks in one `RDD[Block]`: block algebra never plans
  * a SQL query, persistence acts on that RDD, and `blocks` is a read-only
  * Dataset view of the same blocks. */
class BlockStoreSpec extends SparkSpec {

  /** Runs `body` and returns its result with the number of SQL executions
    * it started, as the listener's capture saw them end. */
  private def countSqlExecutions[T](body: => T): (T, Int) = {
    val (out, plans) = metrics.capture(body)
    (out, plans.size)
  }

  private def maxAbs(m: BDM[Double]): Double = breeze.linalg.max(breeze.numerics.abs(m))

  test("block algebra runs no SQL execution: constructors, multiply, transpose, gramian, cholesky") {
    val parts = spark.sparkContext.defaultParallelism
    val (_, executions) = countSqlExecutions {
      val a = DMatrix.randInt(spark, 64, 48, 16, 5L, mod = 10L)        // 4×3 blocks
      val skinny = DMatrix.randInt(spark, 48, 8, 16, 7L, mod = 10L)    // one block column
      val b = DMatrix.randInt(spark, 48, 64, 16, 9L, mod = 10L)        // 3×4 blocks
      assert(DMatrix.multiplyPathFor(4, 3, 8L * 64 * 48, 3, 1, 8L * 48 * 8, parts) ==
        "broadcast-right")
      assert(DMatrix.multiplyPathFor(4, 3, 8L * 64 * 48, 3, 4, 8L * 48 * 64, parts) ==
        "tiled-summa")
      val (aL, sL, bL) = (a.toLocal, skinny.toLocal, b.toLocal)
      assert(a.multiply(skinny).toLocal == aL * sL)
      val ab = a.multiply(b)
      val abL = aL * bL
      assert(ab.transpose.gramian.toLocal == abL * abL.t)
      val b0 = DMatrix.randInt(spark, 64, 64, 16, 11L, mod = 10L)
      val spd = b0.transpose.multiply(b0) + (DMatrix.eye(spark, 64, 16) * 640.0)
      val want = bchol(spd.toLocal)
      for (budget <- Seq(Long.MaxValue, 0L)) {
        val l = LinAlg.choleskyLower(spd, bcBudgetOverride = Some(budget)).toLocal
        assert(maxAbs(l - want) < 1e-6, s"budget $budget drifted from Breeze cholesky")
      }
    }
    assert(executions == 0, s"block algebra ran $executions SQL executions")
  }

  test("persist and unpersist act on the block RDD; the Dataset view reads the same blocks") {
    val m = DMatrix.randInt(spark, 40, 24, 8, 13L)                     // 5×3 blocks
    m.persist()
    assert(spark.sparkContext.getPersistentRDDs.contains(m.rdd.id))
    assert(m.rdd.getStorageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(m.rdd.count() == 15)
    m.unpersist()
    assert(!spark.sparkContext.getPersistentRDDs.contains(m.rdd.id),
      "unpersist left the block RDD registered")
    def byKey(bs: Array[Block]) = bs.map(b => (b.bi, b.bj) -> b.data.toSeq).toMap
    assert(byKey(m.blocks.collect()) == byKey(m.rdd.collect()))
    val diag = new DMatrix(m.blocks.filter(b => b.bi == b.bj), 40, 24, 8)
    assert(diag.rdd.collect().map(b => (b.bi, b.bj)).sorted.toSeq == Seq((0, 0), (1, 1), (2, 2)))
    val mL = m.toLocal
    assert(diag.toLocal == BDM.tabulate(40, 24)((i, j) => if (i / 8 == j / 8) mL(i, j) else 0.0))
  }
}
