package graft.delayed

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.Tables

/** Driver-gate entries for the delayed/futures surface (SURVEY.md §2.B5).
  * Semantics mirror reference workloads; results are exactly
  * SQL-expressible so they join the DuckDB hash gate.
  */
object DelayedQueries {
  type Q = (SparkSession, String) => DataFrame

  /** 1024-leaf pairwise tree reduction (reference README.md:180-201) —
    * the distributed form: leaves are deterministic values in a Dataset,
    * reduced with `treeReduce` (log-depth combiner tree, the Spark analog
    * of the delayed pairwise-add DAG; depth 5 ≈ the reference's tree). */
  def treeReduceSum(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val total = s.range(1024)
      .rdd.map(i => (i * 1103515245L + 5L) % 2147483647L % 100000L)
      .treeReduce(_ + _, depth = 5)
    s.createDataset(Seq(total)).toDF("total")
  }

  /** A delayed DAG whose nodes are Spark actions: two independent counts
    * run in parallel (the "invoke" fan-out), then a dependent combiner
    * (the "become" chain) — delayed(f)(g(), h()) over real jobs. */
  def delayedDag(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bigOrders = Delayed {
      Tables.orders(s, d).filter(org.apache.spark.sql.functions.col("o_totalprice") > 300000.0).count()
    }
    val customers = Delayed { Tables.customer(s, d).count() }
    val combined = bigOrders.zip(customers)((a, b) => a + 2 * b)
    s.createDataset(Seq(combined.compute())).toDF("combined")
  }

  /** d03: driver-side topo-evaluation at depth AND width — ~10,100 DAG
    * nodes: 100 independent linear chains of depth 100 (the reference's
    * linear_dag.py shape, scaled 3,300×) fanned into one pairwise
    * reduction tree (fan_in.py / tree_reduction.py shape). Every node is
    * a driver-local integer op, so the measured cost IS the scheduler
    * overhead: indexing the DAG, one dependency-counter decrement per
    * edge, each chain run by one thread that becomes its next step, and
    * the chains invoked in parallel on the pool. Chain k starts at k and adds a
    * seeded LCG step per level — the total is closed-form for the oracle. */
  def deepWideDag(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val chains = 100; val depth = 100
    def step(k: Int, i: Int): Long =
      ((k.toLong * depth + i) * 1103515245L + 5L) % 2147483647L % 1000L
    val chainResults = (0 until chains).map { k =>
      (0 until depth).foldLeft(Delayed.value(k.toLong))((acc, i) => acc.map(_ + step(k, i)))
    }
    val total = Delayed.treeReduce(chainResults)(_ + _).compute()
    s.createDataset(Seq(total)).toDF("total")
  }

  /** d04: the FUTURES surface under the gate — `Client.map` launches 16
    * genuinely CONCURRENT Spark jobs (one per key slice, the Wukong
    * submit/map fan-out; Spark's scheduler runs independent jobs from
    * one session in parallel), `gather` collects them, and the output is
    * keyed by slice so the nondeterministic completion order cannot leak
    * into the result. The source is persisted and materialized ONCE
    * before the fan-out — the 16 jobs read the cache, not 16 parquet
    * scans (the reference's scatter-then-compute discipline). */
  def futuresMap(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val client = new Client(s)
    val base = Tables.orders(s, d)
      .select(col("o_orderkey"),
              round(col("o_totalprice") * 100).cast("long").as("cents"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    base.count()
    val futures = client.map((0 until 16).toSeq) { t =>
      val r = base.filter(col("o_orderkey") % 16 === t)
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sc")).head()
      // an empty slice sums to NULL; emit (0, 0) and drop the row below
      // so the output matches the oracle's GROUP BY (which omits the
      // slice) instead of NPE-ing on a sparse-orderkey fixture
      if (r.getLong(0) == 0L) (t.toLong, 0L, 0L)
      else (t.toLong, r.getLong(0), r.getLong(1))
    }
    val rows = client.gather(futures).filter(_._2 > 0L)
    base.unpersist(false)
    s.createDataset(rows).toDF("slice", "n_orders", "sum_cents")
  }

  val queries: Map[String, Q] = Map(
    "d01_tree_reduce" -> (treeReduceSum _),
    "d02_delayed_dag" -> (delayedDag _),
    "d03_dag_deep_wide" -> (deepWideDag _),
    "d04_futures_map" -> (futuresMap _),
  )

  val oracles: Map[String, String] = Map(
    // the 16-way fan-out restated as one grouped aggregate
    "d04_futures_map" ->
      """SELECT o_orderkey % 16 AS slice, count(*) AS n_orders,
                CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS sum_cents
         FROM orders GROUP BY 1""",
    "d01_tree_reduce" ->
      """SELECT CAST(sum(((r.range*1103515245+5)%2147483647)%100000) AS BIGINT) AS total
         FROM range(1024) r""",
    "d02_delayed_dag" ->
      """SELECT (SELECT count(*) FROM orders WHERE o_totalprice > 300000.0)
              + 2 * (SELECT count(*) FROM customer) AS combined""",
    // 4950 = sum of the chain start values k (0..99)
    "d03_dag_deep_wide" ->
      """SELECT CAST(4950 + sum(
               ((k.range*100 + i.range)*1103515245 + 5) % 2147483647 % 1000)
             AS BIGINT) AS total
         FROM range(100) k, range(100) i""",
  )
}
