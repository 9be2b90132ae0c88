package graft.core

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

/** Iterative-session surface — SURVEY.md §3.3 / §2.B1.6-B1.7: the
  * rebuild of Wukong's persist/scatter/gather and Lambda-reuse iteration
  * semantics (reference: X.persist() examples.rst:46,58; client.scatter/
  * gather client.py:2072,1902; iteration counters + cached leaf reuse
  * TE/function.py:258-382, SS/wukong/scheduler.py:2794-2848).
  *
  * Spark executors are already long-lived, so "Lambda reuse" parity is
  * about the *semantics*: data pinned across jobs, values shipped once
  * (broadcast), and iteration loops whose lineage cannot grow
  * unboundedly (localCheckpoint every N steps — SURVEY §7.5 known-hard
  * #5). `stop()` is the explicit iteration-terminator
  * (`<key>---iteration = -1`).
  *
  * Pin scope (SURVEY A11: Wukong drops a cached result once all of its
  * dependents have run, TE/function.py:2365-2450). Every DataFrame an
  * operator reuses across branches or jobs is pinned through a context,
  * and the context owns the pin: [[GraftContext.scoped]] releases all of
  * them when its body returns or throws, and [[release]] drops one
  * earlier (a loop swapping its state frame). Pins are released when the
  * scope ends, so a DataFrame result that reads a pin must be detached
  * inside the scope (`localCheckpoint(true)`) or built from driver values.
  *
  * Job discipline: one Spark job round trip costs tens of ms of driver
  * time, the Spark analog of the invocation cost Wukong's "become"
  * avoids. So [[persist]] fills a cache with one pass over the pinned
  * frame (not `count()`, which is two jobs under AQE), and [[iterate]]
  * returns each step's statistics from that same job through
  * `Dataset.observe` instead of running an aggregate per step.
  */
final class GraftContext(val spark: SparkSession) {
  private val pinned = mutable.ListBuffer[DataFrame]()
  private val Observed = "graft.step"

  /** Pins `df` at the one storage level, MEMORY_AND_DISK, and starts no
    * job: the first action that reads it fills the cache. Returns the
    * same frame. */
  def pin(df: DataFrame): DataFrame = {
    df.persist(StorageLevel.MEMORY_AND_DISK)
    pinned += df
    df
  }

  /** Pins `df` and fills its cache now (Wukong persisted eagerly — the
    * flag forced executor-side writes), in one pass over the frame.
    * Returns the same frame. */
  def persist(df: DataFrame): DataFrame = {
    materialize(pin(df), Nil)
    df
  }

  /** Drops one pin before the scope ends. */
  def release(df: DataFrame): Unit = {
    df.unpersist(false)
    pinned -= df
  }

  /** Fills the cache of the pinned `df` in ONE job that also returns the
    * values of the `observe` aggregates over its rows (an empty Row when
    * none are asked for). The frame itself is persisted and its observed
    * view is executed, so the cache entry is keyed by `df`'s plan — the
    * plan the next reader of `df` looks up — while the view's
    * CollectMetrics node tallies the aggregates in the same tasks: no
    * exchange, no second action. Over an empty frame the aggregates take
    * their empty-input values (count 0, sum null).
    *
    * The view runs as one tracked SQL execution of its own plan, and the
    * metrics are read off that plan once the job returns (the driver
    * merges task accumulators before the job completes). Not through
    * `Observation`: that registers the session's ObservationManager,
    * which is not serializable, and spark.ml closures that capture the
    * session (LinearSVC's training summary) then fail to serialize. */
  private def materialize(df: DataFrame, observe: Seq[Column]): Row = {
    val viewed = if (observe.isEmpty) df else df.observe(Observed, observe.head, observe.tail: _*)
    val qe = viewed.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("materialize"))(qe.toRdd.foreach(_ => ()))
    if (observe.isEmpty) Row.empty else qe.observedMetrics(Observed)
  }

  /** scatter: ship a value to every executor once. */
  def scatter[T: scala.reflect.ClassTag](v: T): Broadcast[T] =
    spark.sparkContext.broadcast(v)

  /** gather: small final results back to the driver. */
  def gather(df: DataFrame): Array[Row] = df.collect()

  /** Iterative driver loop over a persisted frame — one Spark job per
    * step when the step's plan has no exchange (GraphX fuses each
    * superstep's update with its convergence test the same way). Every
    * frame, `init` included, is pinned and materialized together with
    * the `observe` aggregates over its rows; the step receives the
    * current frame, the current frame's observed values (a Row in
    * `observe` order) and the step index, so convergence tests and
    * running statistics cost no extra action. A step's predecessor is
    * released once the step is materialized, and lineage is truncated
    * every `checkpointEvery` steps so 1000-iteration sessions do not
    * accumulate a 1000-stage plan. Returns the final frame (pinned
    * until [[stop]]) and its observed values. */
  def iterate(init: DataFrame, observe: Seq[Column], steps: Int, checkpointEvery: Int = 8)
             (step: (DataFrame, Row, Int) => DataFrame): (DataFrame, Row) = {
    var cur = pin(init)
    var stats = materialize(cur, observe)
    for (i <- 0 until steps) {
      var next = step(cur, stats, i)
      if ((i + 1) % checkpointEvery == 0)
        next = next.localCheckpoint(false)
      stats = materialize(pin(next), observe)
      release(cur)
      cur = next
    }
    (cur, stats)
  }

  /** Explicit session stop: release every pin (the iteration-counter
    * `-1` terminator analog). */
  def stop(): Unit = {
    pinned.foreach(_.unpersist(false))
    pinned.clear()
  }
}

object GraftContext {
  /** Runs `body` with a fresh context and releases every pin it made when
    * `body` returns or throws. */
  def scoped[T](spark: SparkSession)(body: GraftContext => T): T = {
    val ctx = new GraftContext(spark)
    try body(ctx) finally ctx.stop()
  }
}

object IterativeQueries {
  import org.apache.spark.sql.functions._
  type Q = (SparkSession, String) => DataFrame

  /** i01: iterative outlier trimming — 3 rounds of "drop orders above
    * 1.5× the running average", entirely in the exact integer-cents
    * domain (2·cents·n > 3·sum ⇔ cents > 1.5·avg). Each round reuses the
    * previous round's *persisted* frame and the (n, Σ) observed while it
    * was cached: one scan of parquet total, then one job per cached
    * iteration — the Wukong iterative-session shape. */
  def iterativeTrim(s: SparkSession, d: String): DataFrame = {
    val init = Tables.orders(s, d)
      .select(round(col("o_totalprice") * 100).cast("long").as("cents"))
    // each materialization observes (n, Σ) of the frame it caches: step
    // i filters with its input's stats, and the final frame's stats are
    // the answer — no aggregate job of its own anywhere in the loop
    val (_, last) = GraftContext.scoped(s)(_.iterate(init,
        Seq(count(lit(1)).as("n"), sum(col("cents")).as("s")),
        steps = 3, checkpointEvery = 2) { (cur, stats, _) =>
      cur.filter(col("cents") * (2L * stats.getLong(0)) <= lit(3L * stats.getLong(1)))
    })
    import s.implicits._
    Seq((last.getLong(0), last.getLong(1))).toDF("n_orders", "sum_cents")
  }

  /** i02: PageRank over the customer↔supplier interaction graph — the
    * canonical iterative-dataflow workload (Page et al. 1999, public
    * algorithm) in the Wukong iterative-session shape (§A17: leaf
    * executors rerun a cached path per iteration): the edge list and
    * degree table are scanned/persisted ONCE, then every iteration is
    * one (edges ⋈ ranks) + groupBy over the cached frames — ranks stay
    * node-sized (broadcast-able), only rank rows move per round, and
    * lineage truncates via the ctx.iterate checkpoint cadence.
    *
    * Exact-oracle discipline: the update is pure integer arithmetic —
    * r₀ = 10000; rᵢ₊₁(v) = 1500 + Σ_{u→v} (85·rᵢ(u)) div (100·od(u)) —
    * (floor division on positives, identical in any engine), so three
    * unrolled iterations hash-match DuckDB bit-for-bit. Edges keep
    * lineitem multiplicity (each line is one interaction); suppliers
    * offset by 10⁷ into a disjoint node-id range. */
  def pagerank(s: SparkSession, d: String): DataFrame = GraftContext.scoped(s) { ctx =>
    val pairs = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
            col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust"),
              (col("l_suppkey") + 10000000L).as("supp"))
    // Both edge directions from ONE pass (r16, guide §2.4): a union of
    // two projections of `pairs` re-executed the source join per branch
    // AND per consumer — the r16 plan audit counted the orders⋈lineitem
    // join FOUR times in the withDeg build. explode emits the forward
    // and reverse edge from each joined row in the same task.
    val edges = pairs.select(explode(array(
        struct(col("cust").as("src"), col("supp").as("dst")),
        struct(col("supp").as("src"), col("cust").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    // The degree table is node-sized, so it grows with the graph and
    // carries no hint. Post-aggregation stats are blind here, so the
    // planner picks a SortMergeJoin; AQE turns it into a broadcast once
    // the degree stage is measured under the threshold, but the edge
    // side's exchange on src has run by then: at sf0.1 it writes 12.9 MB
    // of the entry's 13.6 MB of shuffle (BENCH_NOTES.md has the walls).
    // ONE pinned frame carries everything the loop reads (a separate
    // deg persist was MEASURED slower: it adds a driver-synchronous job,
    // and at this scale the family is job-count bound, not byte bound).
    val withDeg = ctx.persist(edges.join(
      edges.groupBy(col("src")).agg(count(lit(1)).as("od")), "src"))
    val init = withDeg.select(col("src").as("v")).distinct()
      .select(col("v"), lit(10000L).as("r"))
    val (result, _) = ctx.iterate(init, Nil, steps = 3, checkpointEvery = 2) { (cur, _, _) =>
      withDeg.join(cur, col("src") === cur("v"))
        .select(col("dst"), expr("(85 * r) div (100 * od)").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("acc"))
        .select(col("dst").as("v"), (lit(1500L) + col("acc")).as("r"))
    }
    result.localCheckpoint(true)   // node-sized
  }

  /** i03: TRIANGLE COUNTING over the supplier co-purchase graph (edge =
    * two suppliers sharing an order) — the clustering-coefficient /
    * community primitive of graph analytics, and the canonical
    * two-join distributed algorithm. Skew discipline: edges are
    * oriented LOW-DEGREE → HIGH-DEGREE (rank = (degree, id)), the
    * standard trick that bounds every node's out-list by O(√m) — a
    * celebrity hub never fans out its full neighborhood into the
    * wedge join, which is what keeps the wedge count (the quadratic
    * term) survivable at 100×. Both joins are equi-joins on node ids;
    * all arithmetic is integer counts. Output is the graph profile
    * (nodes/edges/max-degree/wedges/triangles) — global closure stats
    * every graph pipeline reports. */
  def triangles(s: SparkSession, d: String): DataFrame = GraftContext.scoped(s) { ctx =>
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
    val e0 = ctx.pin(li.select(col("l_orderkey"), col("l_suppkey").as("a"))
      .join(li.select(col("l_orderkey"), col("l_suppkey").as("b")), "l_orderkey")
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct())
    val deg = e0.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    // orient each edge from lower to higher (deg, id) rank
    val withDeg = e0
      .join(deg.withColumnRenamed("v", "a").withColumnRenamed("deg", "da"), "a")
      .join(deg.withColumnRenamed("v", "b").withColumnRenamed("deg", "db"), "b")
    val oriented = ctx.pin(withDeg.select(
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
             struct(col("a").as("u"), col("b").as("w")))
          .otherwise(struct(col("b").as("u"), col("a").as("w"))).as("e"))
      .select(col("e.u").as("u"), col("e.w").as("w")))
    // Wedges never materialize: the unordered wedge count is Σ_u C(c_u, 2)
    // straight off the out-degrees, and triangles come from the edge-local
    // identity  Δ = Σ_{(u,v)∈E⃗} |N⁺(u) ∩ N⁺(v)|  (orientation is a DAG, so
    // each triangle's unique lowest-rank vertex u contributes it exactly
    // once via its u→v edge). The earlier self-join materialized every
    // ordered wedge — Σ c_u(c_u−1) rows ≈ 3·10⁸ at sf0.1 on this dense
    // co-purchase graph — through a full shuffle before the closure probe
    // (40 s measured). Intersecting per-node out-adjacency arrays does the
    // same Σ c_u² work as tight in-row array scans with ZERO wedge shuffle:
    // bytes moved drop from O(Σc²) rows to |E⃗| rows carrying O(√m)-bounded
    // arrays (the orientation caps every out-list at O(√m)), which is the
    // same O(m^1.5) asymptotic the wedge join already paid — minus the
    // exchange, the sort, and the 3·10⁸-row semi-join build side.
    val adj = ctx.pin(oriented.groupBy(col("u"))
      .agg(sort_array(collect_list(col("w"))).as("nbrs"),
           count(lit(1)).as("c")))
    val wedgeCnt = adj.agg(expr("sum(c * (c - 1)) div 2").as("n_wedges"))
    // The attach-by-w exchange below is the ONE stage whose rows carry
    // the O(√m)-bounded out-lists — Σc² array elements in aggregate
    // (inherent: the wedge-join alternative ships the same volume as
    // rows, plus an exchange and a sort — measured 40 s, see above).
    // Its 16×-probe sort spill (34 GB, round 12) was attacked with both
    // named levers and MEASURED at x16 sf0.1 (round 13): explicit
    // repartition(volume-sized, w) → 64 s (AQE's skew rule only
    // rewrites ENSURE_REQUIREMENTS exchanges, so pinning the grain
    // trades spill for hub stragglers); volume-sized BASE
    // shuffle.partitions + AQE coalesce/skew-split → 131 s (every
    // stage over the cached frames inherits the grain — task-count
    // overhead swamps the savings on local[32]). The plain 32-partition
    // plan wins at 36 s: the "spill" lands on tmpfs scratch (RAM-speed,
    // see GraftSession.scratchDir), and at cluster shapes executor
    // memory scales with the graph while AQE handles the skew — so the
    // spill is inherent to the array payload on a single 24 GB JVM and
    // harmless, not a plan defect.
    val tri = oriented
      .join(adj.select(col("u"), col("nbrs").as("nu")), Seq("u"))
      .join(adj.select(col("u").as("w"), col("nbrs").as("nw")), Seq("w"))
      .select(size(array_intersect(col("nu"), col("nw"))).as("t"))
      .agg(sum(col("t")).cast("long").as("n_triangles"))
    e0.agg(count(lit(1)).as("n_edges")).crossJoin(
        deg.agg(count(lit(1)).as("n_nodes"), max(col("deg")).as("max_deg")))
      .crossJoin(wedgeCnt)
      .crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("max_deg"),
              col("n_wedges"), col("n_triangles"))
      .localCheckpoint(true)
  }

  /** i04: multi-source BFS hop distance — the frontier-relaxation
    * primitive under shortest paths / reachability / influence radius,
    * and the third classic graph kernel next to i02's fixed-point and
    * i03's enumeration. Same bipartite customer↔supplier graph as i02;
    * sources are every 10th supplier. Three relaxation rounds of
    * dist' = min(dist, min over in-edges of dist(src)+1) — the update is
    * monotone integer min, so edge multiplicity (kept from lineitem) is
    * harmless and the oracle unrolls exactly. Scale shape mirrors i02:
    * edges persisted ONCE, each round one equi-join + min-agg shuffling
    * only (node, dist) pairs — frontier state is node-sized no matter
    * how large the edge set, and lineage truncates via ctx.iterate.
    * Output: nodes per hop level (unreached nodes carry no row), the
    * reachability histogram a 100 TB graph job reports. */
  def bfsLayers(s: SparkSession, d: String): DataFrame = GraftContext.scoped(s) { ctx =>
    val pairs = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
            col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust"),
              (col("l_suppkey") + 10000000L).as("supp"))
    // both edge directions from ONE pass of the source join (r16 — a
    // union of two `pairs` projections re-executed the join per branch)
    val edges = ctx.persist(
      pairs.select(explode(array(
          struct(col("cust").as("src"), col("supp").as("dst")),
          struct(col("supp").as("src"), col("cust").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst")))
    val init = edges.select(col("src").as("v")).distinct()
      .filter(col("v") >= 10000000L && (col("v") - 10000000L) % 10 === 0)
      .select(col("v"), lit(0L).as("dist"))
    val (dists, _) = ctx.iterate(init, Nil, steps = 3, checkpointEvery = 2) { (cur, _, _) =>
      cur.unionByName(
          edges.join(cur, edges("src") === cur("v"))
            .select(edges("dst").as("v"), (col("dist") + 1L).as("dist")))
        .groupBy(col("v")).agg(min(col("dist")).as("dist"))
    }
    dists.groupBy(col("dist"))
      .agg(count(lit(1)).as("n_nodes")).localCheckpoint(true)
  }

  /** i05: WEIGHTED SSSP (k-round Bellman–Ford) — the weighted upgrade
    * of i04's BFS: edge weight = cheapest quantity on the cust↔supp
    * lane, dist relaxes by min(dist, dist_prev + w) for 3 rounds (=
    * cheapest ≤3-hop path, the bounded-round semantics a 100 TB graph
    * pass actually ships). Same frontier discipline as i04: only
    * (v, dist) pairs shuffle, the lineage is checkpoint-trimmed by
    * [[iterate]], and the output buckets distances (quantity sums are
    * domain-bounded ≤ 150) rather than dumping node vectors. */
  def ssspBuckets(s: SparkSession, d: String): DataFrame = GraftContext.scoped(s) { ctx =>
    val pairs = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(s, d)
              .select(col("l_orderkey"), col("l_suppkey"), col("l_quantity")),
            col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust"),
              (col("l_suppkey") + 10000000L).as("supp"),
              col("l_quantity").cast("long").as("w0"))
      .groupBy(col("cust"), col("supp")).agg(min(col("w0")).as("w"))
    // one pass of the join + lane aggregation instead of one per union
    // branch (r16 — the min-w groupBy is the expensive half here)
    val edges = ctx.persist(
      pairs.select(explode(array(
          struct(col("cust").as("src"), col("supp").as("dst"), col("w")),
          struct(col("supp").as("src"), col("cust").as("dst"), col("w")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.w").as("w")))
    val init = edges.select(col("src").as("v")).distinct()
      .filter(col("v") >= 10000000L && (col("v") - 10000000L) % 10 === 0)
      .select(col("v"), lit(0L).as("dist"))
    val (dists, _) = ctx.iterate(init, Nil, steps = 3, checkpointEvery = 2) { (cur, _, _) =>
      cur.unionByName(
          edges.join(cur, edges("src") === cur("v"))
            .select(edges("dst").as("v"), (col("dist") + col("w")).as("dist")))
        .groupBy(col("v")).agg(min(col("dist")).as("dist"))
    }
    dists.groupBy(col("dist"))
      .agg(count(lit(1)).as("n_nodes")).localCheckpoint(true)
  }

  /** i06: K-CORE PEELING — the degeneracy-ordering kernel under
    * community mining and graph sparsification, and the iterative
    * REMOVE-and-recompute shape (monotone shrinking state) next to
    * i02's fixed-point, i03's enumeration, i04/i05's relaxation. The
    * graph is a deterministic sparse LCG multigraph-made-simple
    * (600 hash-generated pairs over 200 nodes, ≈6 avg degree — the
    * fixture co-purchase graph is near-complete, so nothing would
    * peel there); three rounds drop nodes of degree < 4 and keep only
    * edges with both endpoints surviving.
    *
    * Scale shape: each round is one node-sized degree aggregation
    * (explode → partial-combined count) plus two semi-joins of the
    * edge set against the surviving-node set — edges shuffle by
    * endpoint, degrees are (v, deg) pairs, and the per-round profile
    * is checkpointed so lineage stays flat however many rounds run.
    * Oracle: the same three rounds unrolled as CTEs. */
  def kcorePeel(s: SparkSession, d: String): DataFrame = GraftContext.scoped(s) { ctx =>
    val k = 4
    val raw = s.range(600).select(
      ((col("id") * 2 * 1103515245L + 17L) % 2147483647L % 200L).as("u"),
      (((col("id") * 2 + 1) * 1103515245L + 17L) % 2147483647L % 200L).as("v"))
    var edges = ctx.pin(raw.filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b"))
      .distinct())
    val profiles = (1 to 3).map { r =>
      val deg = edges.select(explode(array(col("a"), col("b"))).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("deg"))
      val keep = ctx.pin(deg.filter(col("deg") >= k).select(col("v")))
      val next = ctx.pin(edges
        .join(keep.withColumnRenamed("v", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("v", "b"), Seq("b"), "left_semi")
        .select(col("a"), col("b")))
      val prof = keep.agg(count(lit(1)).as("n_nodes"))
        .crossJoin(next.agg(count(lit(1)).as("n_edges")))
        .select(lit(r.toLong).as("round"), col("n_nodes"), col("n_edges"))
        .localCheckpoint(true)
      ctx.release(edges); ctx.release(keep)
      edges = next
      prof
    }
    profiles.reduce(_ unionByName _)
  }

  val queries: Map[String, Q] = Map(
    "i06_kcore"          -> (kcorePeel _),
    "i05_sssp"           -> (ssspBuckets _),
    "i01_iterative_trim" -> (iterativeTrim _),
    "i02_pagerank"       -> (pagerank _),
    "i03_triangles"      -> (triangles _),
    "i04_bfs_layers"     -> (bfsLayers _),
  )

  /** The i04 oracle: the same min-relax rounds unrolled. */
  private def bfsOracle(iters: Int): String = {
    val base = """WITH e0 AS (
         SELECT o_custkey AS cust, l_suppkey + 10000000 AS supp
         FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       e AS (SELECT cust AS src, supp AS dst FROM e0
             UNION ALL SELECT supp AS src, cust AS dst FROM e0),
       d0 AS (SELECT DISTINCT src AS v, CAST(0 AS BIGINT) AS dist FROM e
              WHERE src >= 10000000 AND (src - 10000000) % 10 = 0)"""
    val steps = (1 to iters).map { i =>
      s""",
       d$i AS (SELECT v, min(dist) AS dist FROM (
                 SELECT v, dist FROM d${i - 1}
                 UNION ALL
                 SELECT e.dst AS v, d${i - 1}.dist + 1 AS dist
                 FROM e JOIN d${i - 1} ON d${i - 1}.v = e.src) u
               GROUP BY 1)"""
    }.mkString
    base + steps + s"\n       SELECT dist, count(*) AS n_nodes FROM d$iters GROUP BY 1"
  }

  /** The i02 oracle: the same integer update unrolled — generated so the
    * iteration count cannot drift between the Spark loop and the SQL. */
  private def pagerankOracle(iters: Int): String = {
    val base = """WITH e0 AS (
         SELECT o_custkey AS cust, l_suppkey + 10000000 AS supp
         FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       e AS (SELECT cust AS src, supp AS dst FROM e0
             UNION ALL SELECT supp AS src, cust AS dst FROM e0),
       deg AS (SELECT src, count(*) AS od FROM e GROUP BY 1),
       r0 AS (SELECT src AS v, CAST(10000 AS BIGINT) AS r FROM deg)"""
    val steps = (1 to iters).map { i =>
      s""",
       r$i AS (SELECT e.dst AS v,
                      CAST(1500 + sum((85 * r${i - 1}.r) // (100 * deg.od)) AS BIGINT) AS r
               FROM e JOIN r${i - 1} ON r${i - 1}.v = e.src
                      JOIN deg ON deg.src = e.src
               GROUP BY 1)"""
    }.mkString
    base + steps + s"\n       SELECT v, r FROM r$iters"
  }

  /** The i05 oracle: the same weighted min-relax rounds unrolled. */
  private def ssspOracle(iters: Int): String = {
    val base = """WITH e0 AS (
         SELECT o_custkey AS cust, l_suppkey + 10000000 AS supp,
                min(CAST(l_quantity AS BIGINT)) AS w
         FROM orders JOIN lineitem ON l_orderkey = o_orderkey
         GROUP BY 1, 2),
       e AS (SELECT cust AS src, supp AS dst, w FROM e0
             UNION ALL SELECT supp AS src, cust AS dst, w FROM e0),
       d0 AS (SELECT DISTINCT src AS v, CAST(0 AS BIGINT) AS dist FROM e
              WHERE src >= 10000000 AND (src - 10000000) % 10 = 0)"""
    val steps = (1 to iters).map { i =>
      s""",
       d$i AS (SELECT v, min(dist) AS dist FROM (
                 SELECT v, dist FROM d${i - 1}
                 UNION ALL
                 SELECT e.dst AS v, d${i - 1}.dist + e.w AS dist
                 FROM e JOIN d${i - 1} ON d${i - 1}.v = e.src) u
               GROUP BY 1)"""
    }.mkString
    base + steps + s"\n       SELECT dist, count(*) AS n_nodes FROM d$iters GROUP BY 1"
  }

  val oracles: Map[String, String] = Map(
    // the same three peel rounds unrolled over the same LCG edge list
    "i06_kcore" ->
      """WITH raw AS (SELECT (range*2*1103515245+17)%2147483647%200 AS u,
                             ((range*2+1)*1103515245+17)%2147483647%200 AS v
                      FROM range(600)),
         e0 AS (SELECT DISTINCT least(u,v) AS a, greatest(u,v) AS b
                FROM raw WHERE u <> v),
         d1 AS (SELECT v, count(*) AS deg FROM (
                  SELECT a AS v FROM e0 UNION ALL SELECT b FROM e0) GROUP BY 1),
         s1 AS (SELECT v FROM d1 WHERE deg >= 4),
         e1 AS (SELECT a, b FROM e0 WHERE a IN (SELECT v FROM s1)
                                      AND b IN (SELECT v FROM s1)),
         d2 AS (SELECT v, count(*) AS deg FROM (
                  SELECT a AS v FROM e1 UNION ALL SELECT b FROM e1) GROUP BY 1),
         s2 AS (SELECT v FROM d2 WHERE deg >= 4),
         e2 AS (SELECT a, b FROM e1 WHERE a IN (SELECT v FROM s2)
                                      AND b IN (SELECT v FROM s2)),
         d3 AS (SELECT v, count(*) AS deg FROM (
                  SELECT a AS v FROM e2 UNION ALL SELECT b FROM e2) GROUP BY 1),
         s3 AS (SELECT v FROM d3 WHERE deg >= 4),
         e3 AS (SELECT a, b FROM e2 WHERE a IN (SELECT v FROM s3)
                                      AND b IN (SELECT v FROM s3))
         SELECT CAST(1 AS BIGINT) AS round,
                (SELECT count(*) FROM s1) AS n_nodes,
                (SELECT count(*) FROM e1) AS n_edges
         UNION ALL
         SELECT 2, (SELECT count(*) FROM s2), (SELECT count(*) FROM e2)
         UNION ALL
         SELECT 3, (SELECT count(*) FROM s3), (SELECT count(*) FROM e3)""",
    "i02_pagerank" -> pagerankOracle(3),
    "i04_bfs_layers" -> bfsOracle(3),
    "i05_sssp" -> ssspOracle(3),
    // same distinct co-purchase edges, same (deg, id) orientation, same
    // ordered-wedge probe — all integer counts
    "i03_triangles" ->
      """WITH li AS (SELECT l_orderkey, l_suppkey FROM lineitem),
         e0 AS (SELECT DISTINCT a.l_suppkey AS a, b.l_suppkey AS b
                FROM li a JOIN li b
                ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey),
         deg AS (SELECT v, count(*) AS deg FROM (
                   SELECT a AS v FROM e0 UNION ALL SELECT b AS v FROM e0) un
                 GROUP BY 1),
         o AS (SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e0.a < e0.b)
                           THEN e0.a ELSE e0.b END AS u,
                      CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e0.a < e0.b)
                           THEN e0.b ELSE e0.a END AS w
               FROM e0 JOIN deg da ON da.v = e0.a JOIN deg db ON db.v = e0.b),
         wg AS (SELECT w1.u, w1.w AS v, w2.w AS x
                FROM o w1 JOIN o w2 ON w1.u = w2.u AND w1.w <> w2.w),
         cl AS (SELECT * FROM wg
                WHERE EXISTS (SELECT 1 FROM o WHERE o.u = wg.v AND o.w = wg.x))
         SELECT (SELECT count(*) FROM deg) AS n_nodes,
                (SELECT count(*) FROM e0) AS n_edges,
                (SELECT CAST(max(deg) AS BIGINT) FROM deg) AS max_deg,
                CAST((SELECT count(*) FROM wg) // 2 AS BIGINT) AS n_wedges,
                (SELECT count(*) FROM cl) AS n_triangles""",
    "i01_iterative_trim" ->
      """WITH o0 AS (SELECT CAST(round(o_totalprice*100) AS BIGINT) AS cents FROM orders),
         o1 AS (SELECT cents FROM o0
                WHERE cents * (2 * (SELECT count(*) FROM o0)) <= 3 * (SELECT sum(cents) FROM o0)),
         o2 AS (SELECT cents FROM o1
                WHERE cents * (2 * (SELECT count(*) FROM o1)) <= 3 * (SELECT sum(cents) FROM o1)),
         o3 AS (SELECT cents FROM o2
                WHERE cents * (2 * (SELECT count(*) FROM o2)) <= 3 * (SELECT sum(cents) FROM o2))
         SELECT count(*) AS n_orders, CAST(sum(cents) AS BIGINT) AS sum_cents FROM o3""",
  )
}
