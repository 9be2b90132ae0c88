package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables

/** Relational / dataframe operator inventory — SURVEY.md §2.B2.
  *
  * The reference (ds2-lab/Wukong) executes the dask.dataframe surface:
  * projection, assign, filter/range-predicate, distinct, full-table and
  * grouped aggregation, cumulative sums, rolling windows, set-index
  * (range repartition + sort), joins, sort/limit/top-k, set ops and
  * element-wise scalar expressions (reference evidence:
  * `Static Scheduler/wukong/tests/test_collections.py:40-177`,
  * `README.md:125-175`). Here each capability is one declarative
  * DataFrame pipeline over the TPC-H-ish testdata, DuckDB-oracle-checked.
  *
  * Scale notes (100 TB design stance):
  *  - Dimension tables (nation, region, supplier) are broadcast — no
  *    shuffle of the fact side for those joins.
  *  - Fact-fact joins (orders ⋈ lineitem) shuffle on the join key and
  *    rely on AQE for skew handling; no driver-side collection anywhere.
  *  - Window ops are always PARTITION BY a high-cardinality key so state
  *    per task stays bounded; nothing orders the whole table in one
  *    partition except final small outputs (post-aggregation).
  *  - Filters/projections stay at the head of the plan so Catalyst
  *    pushes them into the parquet scan (PushedFilters / ReadSchema).
  */
object Relational {
  type Q = (SparkSession, String) => DataFrame

  /** TPC-H Q1-style pricing summary: scan → filter → hash-agg (partial +
    * final, map-side combine for free). groupBy keys are tiny (RF×LS ≤ 9)
    * so the shuffle is negligible at any scale. */
  def pricingSummary(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("2000-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg(col("l_quantity")), 6).as("avg_qty"),
        round(avg(col("l_extendedprice")), 6).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Projection + predicate: both must reach the parquet scan (column
    * pruning + PushedFilters). */
  def projectFilter(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1997-01-01").cast("timestamp") &&
              col("l_discount") > 0.05)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))

  /** Flagship: scan → filter → join ⨝3 → agg → sort. nation is broadcast
    * (a few rows at any scale factor); customer⋈orders and orders⋈lineitem
    * are key-shuffled fact joins that AQE re-plans at runtime. */
  def revenueByNation(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1998-01-01").cast("timestamp"))
    val li = Tables.lineitem(s, d)
    val nat = Tables.nation(s, d)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      // bounded: the 25-row nation table
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** Top-k = orderBy + limit → Spark plans TakeOrderedAndProject (per-
    * partition heaps + driver merge of k rows — no global sort shuffle). */
  def topCustomers(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(round(sum(col("o_totalprice")), 2).as("total_spend"),
           count(lit(1)).as("n_orders"))
      .orderBy(col("total_spend").desc, col("o_custkey"))
      .limit(10)

  /** Distinct = hash-agg on the key pair (partial+final, tiny output). */
  def distinctFlags(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_linestatus"))
      .distinct()
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Full-table aggregation: single-pass partial aggregates, one final
    * reduce — the dask `df.x.mean()/.std()` shape. */
  def globalAgg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .agg(
        count(lit(1)).as("n_rows"),
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(avg(col("l_quantity")), 6).as("avg_qty"),
        round(min(col("l_quantity")), 2).as("min_qty"),
        round(max(col("l_quantity")), 2).as("max_qty"),
        round(stddev_samp(col("l_quantity")), 6).as("std_qty"))

  /** Cumulative sum (dask `df.x.cumsum()`): windowed running total
    * PARTITIONed BY customer so each task holds one customer's rows —
    * bounded state at 100 TB (never a single global ordering). */
  def cumsumPerCustomer(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, d)
      .withColumn("cum_spend", round(sum(col("o_totalprice")).over(w), 2))
      .select(col("o_custkey"), col("o_orderkey"), col("cum_spend"))
  }

  /** Rolling mean (dask `df.A.rolling(3).mean()` semantics, min_periods=1):
    * bounded ROWS frame per user. */
  def rollingAvgPerUser(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-2, Window.currentRow)
    Tables.events(s, d)
      .withColumn("rolling_avg", round(avg(col("value")).over(w), 6))
      .select(col("event_id"), col("user_id"), col("rolling_avg"))
  }

  /** Set op: UNION (distinct) of two filtered projections. */
  def unionSegments(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      .union(c.filter(col("c_mktsegment") === "MACHINERY").select(col("c_custkey")))
      .distinct()
      .orderBy(col("c_custkey"))
  }

  /** Set op: EXCEPT — customers that placed no orders. */
  def exceptNoOrders(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(col("c_custkey"))
      .except(Tables.orders(s, d).select(col("o_custkey").as("c_custkey")))
      .orderBy(col("c_custkey"))

  /** Anti join (NOT EXISTS): same semantics as except but as a join
    * operator — Spark plans a broadcast/shuffled hash anti join. */
  def antiJoinNoOrders(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))

  /** Semi join (EXISTS): customers with at least one high-value order. */
  def semiJoinBigSpenders(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d).filter(col("o_totalprice") > 400000.0),
            col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))

  /** Element-wise scalar expressions + CASE WHEN (dask `df.assign` /
    * delayed arithmetic README.md:149-160): pure codegen'd projection. */
  def caseWhenBuckets(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(
        col("o_orderkey"),
        round(col("o_totalprice") * 1.07, 2).as("price_with_tax"),
        when(col("o_totalprice") > 300000.0, "big")
          .when(col("o_totalprice") > 100000.0, "mid")
          .otherwise("small").as("bucket"))

  /** Ranking window: top-2 orders per customer by price (row_number). */
  def rankTopOrders(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .select(col("o_custkey"), col("o_orderkey"), col("rn"))
  }

  /** Group-by + HAVING (post-aggregation filter). */
  def havingPriorities(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
           round(avg(col("o_totalprice")), 4).as("avg_price"))
      .filter(col("n_orders") > 100)
      .orderBy(col("o_orderpriority"))

  /** Multi-way join with a mid-size dimension (part): revenue by brand.
    * At 100 TB `part` may exceed the broadcast threshold — leave the
    * strategy to Catalyst/AQE rather than forcing a hint. */
  def revenueByBrand(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
           count(lit(1)).as("n_items"))
      .orderBy(col("p_brand"))

  /** Time-bucketed aggregation (tumbling day) — the batch shape of the
    * streaming windowed count; date_trunc keeps it codegen'd. */
  def eventsPerDay(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("day"), col("event_type"))

  /** Semi-structured extraction: pull the integer out of the JSON-ish
    * props column, aggregate exactly (BIGINT — no FP rounding concerns). */
  def propsExtract(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"),
              // try_cast: a digit-free props row degrades to NULL instead of
              // failing the whole query under ANSI mode (oracle uses TRY_CAST)
              expr("try_cast(regexp_extract(props, '(\\\\d+)', 1) AS BIGINT)").as("k"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  /** set_index analog (SURVEY §2.B2 / known-hard #4): range repartition by
    * key + sort within partitions — ONE range shuffle + local sort, the
    * Spark analog of dask divisions (globally ordered across partitions,
    * sorted within each). No trailing global orderBy: it would be a second
    * full-table sort of identical ordering — pure waste at scale. The
    * emitted date is a formatted STRING: passing the raw timestamp
    * through made the output's parquet encoding track the session's
    * NTZ-inference setting (instant-typed under inferTimestampNTZ=false
    * → tz-aware render mismatch vs the oracle's naive read) — the
    * formatted day is identical under every encoding of the fixture. */
  def setIndexByDate(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      .repartitionByRange(col("o_orderdate"), col("o_orderkey"))
      .sortWithinPartitions(col("o_orderdate"), col("o_orderkey"))
      .select(col("o_orderkey"),
              date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_day"),
              col("o_totalprice"))

  /** Correlated-style aggregation join: each order vs its customer's
    * average order value (join back an aggregate — dask groupby+merge).
    * The predicate `price > avg(prices)` is evaluated in the exact
    * integer-cents domain (`cents * n > sum_cents`): double summation
    * order differs between engines/runs, so comparing against a floating
    * average is oracle- and replan-unstable for rows within an ulp of it. */
  def aboveCustomerAvg(s: SparkSession, d: String): DataFrame = {
    val ord = Tables.orders(s, d)
      .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
    val custAvg = ord.groupBy(col("o_custkey").as("ck"))
      .agg(sum(col("cents")).as("sum_cents"), count(lit(1)).as("n_ord"))
    ord.join(custAvg, col("o_custkey") === col("ck"))
      .filter(col("cents") * col("n_ord") > col("sum_cents"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
  }

  /** Time-based rolling window (the dd.rolling('1h') variant of q08):
    * per-user trailing-1-hour event count and sum via a RANGE frame over
    * epoch seconds — state bounded by the time span, partitioned by a
    * high-cardinality key. */
  def rangeWindowPerUser(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("epoch"))
      .rangeBetween(-3600L, 0L)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
              unix_timestamp(col("ts")).as("epoch"),
              round(col("value") * 100).cast("long").as("cents"))
      .withColumn("n_1h", count(lit(1)).over(w))
      .withColumn("sum_1h", sum(col("cents")).over(w))
      .select(col("event_id"), col("user_id"), col("n_1h"), col("sum_1h"))
  }

  /** Skew-safe two-stage aggregation (the salting pattern for hot keys):
    * events grouped by event_type — 5 values, so at warehouse scale a
    * plain groupBy funnels ~20% of the table through one reducer. Stage
    * one salts the key with `pmod(user_id, 16)` and combines per
    * (type, salt) across the cluster; stage two combines the ≤16 partial
    * rows per type. Exact in the integer-cents domain, so the result is
    * bit-identical to the direct single-stage oracle regardless of
    * combine order. AQE's skew handling covers joins; salted partial
    * aggregation is the matching discipline for low-cardinality groupBy. */
  def saltedAgg(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"), pmod(col("user_id"), lit(16)).as("salt"),
              round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("event_type"), col("salt"))
      .agg(count(lit(1)).as("n_part"), sum(col("cents")).as("c_part"))
      .groupBy(col("event_type"))
      .agg(sum(col("n_part")).as("n_events"), sum(col("c_part")).as("sum_cents"))

  /** As-of join (the time-series align operator Spark has no built-in
    * for): each event picks the latest order of the same customer at or
    * before the event time. Implemented the scale-correct way — tag both
    * sides, UNION, one window per key ordered by (time, side) carrying
    * the last seen order forward — so the whole join is ONE shuffle on
    * the key with bounded window state, never a per-key range join or
    * an inequality-join explosion. Orders are pre-collapsed to one row
    * per (key, time) (max order key) so the as-of winner is unambiguous
    * on both engines; `side` orders the match inclusively (an order at
    * exactly the event time is visible). Oracle: DuckDB's native
    * ASOF JOIN. */
  def asofJoin(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .groupBy(col("o_custkey").as("k"),
               unix_timestamp(col("o_orderdate")).as("t"))
      .agg(max(col("o_orderkey")).as("okey"))
      .select(col("k"), col("t"), col("okey"), lit(0).as("side"),
              lit(null).cast("long").as("event_id"))
    val e = Tables.events(s, d)
      .select(col("user_id").as("k"), unix_timestamp(col("ts")).as("t"),
              lit(null).cast("long").as("okey"), lit(1).as("side"),
              col("event_id"))
    val w = Window.partitionBy(col("k")).orderBy(col("t"), col("side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    o.unionByName(e)
      .withColumn("asof_orderkey", last(col("okey"), ignoreNulls = true).over(w))
      .filter(col("side") === 1 && col("asof_orderkey").isNotNull)
      .select(col("event_id"), col("k"), col("t"), col("asof_orderkey"))
  }

  /** Range join (interval join): every order of the same customer within
    * the 7 days before each event. A raw inequality join degenerates to
    * a per-key nested loop in Spark; the scale shape is TIME BANDING —
    * both sides bucket time by the window width, orders replicate into
    * their own and the following bucket (exploded from a 2-literal
    * array), the join becomes an equi-join on (key, bucket), and the
    * exact range predicate filters the ~2× candidates. Output aggregated
    * per event (count + latest order) so the result is deterministic.
    * Oracle: the plain inequality join, feasible at fixture scale. */
  /** lag/shift (dask `df.shift` / `diff`): per-user delta of consecutive
    * event values — one window per key with a total (ts, event_id)
    * order, integer-cents domain for exact cross-engine equality. */
  def lagDelta(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"),
              round(col("value") * 100).cast("long").as("cents"))
      .withColumn("prev_cents", lag(col("cents"), 1).over(w))
      .select(col("event_id"), col("user_id"),
              (col("cents") - coalesce(col("prev_cents"), lit(0L))).as("delta_cents"))
  }

  /** pivot_table: monthly event counts pivoted by type. Pivot values are
    * pinned (no extra distinct pass over the data to discover them —
    * the 100 TB form always enumerates); counts coalesced to 0 so a
    * month missing a type matches the oracle's FILTER counts. */
  def pivotCounts(s: SparkSession, d: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    Tables.events(s, d)
      .groupBy(date_format(col("ts"), "yyyy-MM").as("month"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .select(col("month") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
  }

  /** q64: pandas `pivot_table(aggfunc=['count','sum'])` — the MULTI-
    * AGGREGATE pivot: q29 widens one measure; real pivot tables carry
    * several per cell. Spark's `pivot(...).agg(count, sum)` plans ONE
    * hash-agg pair (every type×agg cell partial-combines map-side in
    * the same pass — not one pass per aggregate), keyed only on the
    * per-user grouping; sums stay in the exact integer-cents domain
    * and null cells coalesce to 0 to match the oracle's FILTER form.
    * Pinned pivot values, 100 TB discipline as q29. */
  def pivotTable(s: SparkSession, d: String): DataFrame = {
    val types = Seq("click", "purchase", "view")
    val cents = round(col("value") * 100).cast("long")
    val base = Tables.events(s, d)
      .filter(col("value").isNotNull && col("event_type").isin(types: _*))
      .select(col("user_id"), col("event_type"), cents.as("cents"))
    val wide = base.groupBy(col("user_id"))
      .pivot("event_type", types)
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
    wide.select(col("user_id") +: types.flatMap(t => Seq(
      coalesce(col(s"${t}_n"), lit(0L)).as(s"${t}_n"),
      coalesce(col(s"${t}_cents"), lit(0L)).as(s"${t}_cents"))): _*)
  }

  /** q65: exact grouped `nunique` — pandas `groupby(k).nunique()` over
    * TWO columns at once, the cardinality profile q32's approximate
    * path trades away. Spark plans multi-distinct via Expand (one
    * projection per distinct column): each (key, value) stream dedups
    * under partial aggregation BEFORE the final count, so the shuffle
    * carries distinct pairs, not rows — the exact-nunique scale shape.
    * The plain count rides the same pass. */
  def groupNunique(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"),
           countDistinct(col("l_partkey")).as("n_parts"),
           countDistinct(col("l_suppkey")).as("n_supps"))

  /** quantile (dask `df.quantile`): exact interpolated percentiles of
    * line-item cents per return flag. Rows collapse to a per-(flag,
    * value) frequency table (the only corpus-sized exchange), then the
    * quartiles come from [[quartilesByKey]]'s rank-arithmetic prefix
    * scan — never from a percentile aggregate whose per-key reducer map
    * would hold every distinct value (the bound that becomes an OOM at
    * warehouse row counts). Rounded to 4 decimals: both engines
    * interpolate linearly on the same exact integers, rounding absorbs
    * the final-operation ulp. */
  def percentiles(s: SparkSession, d: String): DataFrame =
    quartilesByKey(
      Tables.lineitem(s, d)
        .select(col("l_returnflag"),
                round(col("l_extendedprice") * 100).cast("long").as("cents"))
        .groupBy(col("l_returnflag"), col("cents")).agg(count(lit(1)).as("cnt")))
      .toDF("l_returnflag", "p25", "p50", "p75")

  /** q32: approximate group quantiles by deterministic hash sampling —
    * the at-scale companion to q30's exact path. q30 maps every row into
    * a per-(group, value) frequency table; at warehouse scale the cheap
    * variant quantiles a DETERMINISTIC ~5% row sample instead: rows
    * whose md5(row-key) lands under the rate (the t15 sampling
    * primitive — map-only, retry-idempotent, engine-independent), then
    * the exact weighted-percentile machinery on the 20×-smaller set.
    * Because the sample is decided by hash, not rand(), the estimate is
    * reproducible bit-for-bit and the oracle runs the identical query —
    * an approximate ALGORITHM with an exact correctness gate. */
  def approxQuantiles(s: SparkSession, d: String): DataFrame = {
    val h = conv(substring(md5(concat_ws("_", col("l_orderkey"),
      col("l_linenumber"))), 1, 15), 16, 10).cast("long")
    Tables.lineitem(s, d)
      .select(col("l_returnflag"),
              round(col("l_extendedprice") * 100).cast("long").as("cents"), h.as("h"))
      .filter(col("h") % 100L < 5L)
      .groupBy(col("l_returnflag"), col("cents")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("l_returnflag"))
      .agg(round(expr("percentile(cents, 0.25, cnt)"), 4).as("p25"),
           round(expr("percentile(cents, 0.5, cnt)"), 4).as("p50"),
           round(expr("percentile(cents, 0.75, cnt)"), 4).as("p75"),
           sum(col("cnt")).as("n_sampled"))
  }

  /** q33: semi-structured JSON extraction — `from_json` with an explicit
    * schema over the events `props` column (codegen'd parse, no UDF),
    * then the usual grouped aggregation on the extracted field. The
    * schema-on-read pattern every event pipeline needs: the parse fuses
    * into the scan stage, only (event_type, k) survives to the shuffle,
    * and malformed rows yield nulls instead of failing the job. */
  def jsonExtract(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"),
              from_json(col("props"),
                org.apache.spark.sql.types.StructType.fromDDL("k LONG"))
                .getField("k").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
           min(col("k")).as("min_k"), max(col("k")).as("max_k"))

  def rangeJoin(s: SparkSession, d: String): DataFrame = {
    val W = 604800L   // 7 days in seconds
    val o = Tables.orders(s, d)
      .select(col("o_custkey").as("k"),
              unix_timestamp(col("o_orderdate")).as("ot"), col("o_orderkey"))
      .withColumn("jb", explode(array(expr(s"ot div $W"), expr(s"ot div $W") + 1)))
    val e = Tables.events(s, d)
      .select(col("event_id"), col("user_id").as("k2"),
              unix_timestamp(col("ts")).as("et"))
      .withColumn("eb", expr(s"et div $W"))
    e.join(o, col("k2") === col("k") && col("eb") === col("jb") &&
              col("ot") <= col("et") && col("et") - col("ot") < W)
      .groupBy(col("event_id"))
      .agg(count(lit(1)).as("n_orders_7d"), max(col("o_orderkey")).as("last_okey"))
  }

  /** Set op: INTERSECT — customers in both segments' key ranges (the
    * remaining §2.B2.12 member; hash-agg + shuffle like except). */
  def intersectSegments(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    c.filter(col("c_mktsegment").isin("BUILDING", "MACHINERY")).select(col("c_custkey"))
      .intersect(c.filter(col("c_acctbal") > 0.0).select(col("c_custkey")))
  }

  /** Full outer join of two aggregates: per-customer order count vs
    * high-value order count — exercises null-completion on both sides. */
  def fullOuterCounts(s: SparkSession, d: String): DataFrame = {
    val ord = Tables.orders(s, d)
    val all = ord.groupBy(col("o_custkey").as("ck_all"))
      .agg(count(lit(1)).as("n_all"))
    val big = ord.filter(col("o_totalprice") > 250000.0)
      .groupBy(col("o_custkey").as("ck_big"))
      .agg(count(lit(1)).as("n_big"))
    all.join(big, col("ck_all") === col("ck_big"), "full_outer")
      .select(
        coalesce(col("ck_all"), col("ck_big")).as("o_custkey"),
        coalesce(col("n_all"), lit(0L)).as("n_all"),
        coalesce(col("n_big"), lit(0L)).as("n_big"))
  }

  /** Left outer join keeping customers without orders (null-extended),
    * aggregated — the classic left-join shape. */
  def leftJoinSpend(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_mktsegment"))
      .agg(count(col("o_orderkey")).as("n_orders"),
           count(lit(1)).as("n_rows"),
           sum(round(col("o_totalprice") * 100).cast("long")).as("sum_cents"))

  /** Grouping sets (ROLLUP): the (flag, status) pricing summary at
    * detail, per-flag subtotal, and grand-total levels in ONE pass —
    * Catalyst's Expand emits each row once per grouping set feeding a
    * single hash aggregate, vs three separate scans of a 100 TB fact
    * table. `grouping_id()` disambiguates levels (NULL-valued group
    * keys are coalesced to a sentinel so rolled-up rows compare
    * cross-engine without NULL-rendering skew); both engines put the
    * first rollup column in the high bit. Integer cents domain. */
  def rollupSummary(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().as("gid"),
           count(lit(1)).as("n_rows"),
           sum(round(col("l_quantity")).cast("long")).as("sum_qty"),
           sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_cents"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
              coalesce(col("l_linestatus"), lit("ALL")).as("status"),
              col("gid").cast("long").as("gid"),
              col("n_rows"), col("sum_qty"), col("sum_cents"))

  /** q34: CUBE over (returnflag, linestatus) — all four grouping sets
    * (both, each marginal, grand total) in ONE pass: Spark plans an
    * Expand (4 rows per input) into a single partial+final hash
    * aggregate, so the 100 TB fact table is scanned once and only
    * pre-combined per-set partials reach the exchange — vs four
    * separate scans/shuffles for the equivalent UNION ALL. Same
    * sentinel/grouping_id discipline as q31 (rollup). */
  def cubeSummary(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().as("gid"),
           count(lit(1)).as("n_rows"),
           sum(round(col("l_quantity")).cast("long")).as("sum_qty"),
           sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_cents"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
              coalesce(col("l_linestatus"), lit("ALL")).as("status"),
              col("gid").cast("long").as("gid"),
              col("n_rows"), col("sum_qty"), col("sum_cents"))

  /** q41: CUSTOM GROUPING SETS — the general form rollup (q31) and cube
    * (q34) are special cases of: exactly ((flag,status),(flag),(status)),
    * i.e. detail plus both one-dimensional marginals but NO grand total —
    * a set combination neither .rollup nor .cube can produce. Spark
    * plans the same single-scan Expand (3 rows per input) into one
    * partial+final hash aggregate, so at 100 TB the fact table is read
    * once for all three report levels instead of three times. Same
    * sentinel/grouping_id discipline as q31/q34. */
  def groupingSetsSummary(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().as("gid"),
           count(lit(1)).as("n_rows"),
           sum(round(col("l_quantity")).cast("long")).as("sum_qty"),
           sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_cents"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
              coalesce(col("l_linestatus"), lit("ALL")).as("status"),
              col("gid").cast("long").as("gid"),
              col("n_rows"), col("sum_qty"), col("sum_cents"))

  /** q42: SCD TYPE-2 MERGE — the warehouse dimension-versioning upsert
    * (Kimball's slowly-changing-dimension type 2): a change batch lands
    * against the current dimension snapshot and every key resolves to
    * one of four outcomes in ONE pass — unchanged (current row rides
    * through), changed (old version closed out + new current version
    * appended), untouched (no change row), inserted (new key). The
    * change batch is derived deterministically from the fixtures
    * (per-customer open-order balance from `orders`; keys with ≥ 3 open
    * orders also synthesize an insert at key+10⁷), and versions are
    * integer batch ids, so the full versioned output is exactly
    * SQL-expressible.
    *
    * Scale shape: ONE left join of dimension × aggregated changes (the
    * change batch is usually ≪ dim, so AQE broadcasts it; past the
    * threshold it degrades to a keyed shuffle join — either way a
    * single exchange of the dim side at most), then a map-only
    * when/array/explode emits 1 or 2 version rows per key. No window,
    * no second pass, no driver state — the MERGE shape that holds at a
    * billion-row dimension. */
  def scd2Merge(s: SparkSession, d: String): DataFrame = {
    val dim = Tables.customer(s, d).select(col("c_custkey").as("k"),
      col("c_mktsegment").as("seg"),
      round(col("c_acctbal") * 100).cast("long").as("bal"))
    val chg = Tables.orders(s, d).filter(col("o_orderstatus") === "O")
      .groupBy(col("o_custkey").as("k"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("newbal"),
           count(lit(1)).as("n"))
    val versions = dim.join(chg.select(col("k"), col("newbal")), Seq("k"), "left")
      .select(col("k"), col("seg"),
        explode(when(col("newbal").isNotNull && col("newbal") =!= col("bal"),
            array(struct(col("bal").as("bal"), lit(1L).as("version"),
                         lit(0L).as("is_current")),
                  struct(col("newbal").as("bal"), lit(2L).as("version"),
                         lit(1L).as("is_current"))))
          .otherwise(array(struct(col("bal").as("bal"), lit(1L).as("version"),
                                  lit(1L).as("is_current"))))).as("v"))
      .select(col("k"), col("seg"), col("v.bal").as("bal"),
              col("v.version").as("version"), col("v.is_current").as("is_current"))
    val inserts = chg.filter(col("n") >= 3)
      .select((col("k") + 10000000L).as("k"), lit("NEW").as("seg"),
              col("newbal").as("bal"), lit(1L).as("version"), lit(1L).as("is_current"))
    versions.unionByName(inserts)
  }

  /** q43: the DISTRIBUTION-RANK window family — ntile / percent_rank /
    * cume_dist per key in one pass, the per-entity scoring layer of any
    * analytics stack (quartile tags, percentile positions). One keyed
    * window = one hashpartitioning(o_custkey) exchange serves all three
    * functions. The ORDER BY is made TOTAL (cents, o_orderkey): with
    * ties, ntile's bucket assignment is row-order-dependent, so a
    * non-total sort would be nondeterministic across engines — the
    * tie-break is correctness, not style. percent_rank/cume_dist are
    * exact rational divisions on small denominators, identical IEEE
    * results both engines; round(6) guards display-width skew only. */
  def windowRanks(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("cents"), col("o_orderkey"))
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
              round(col("o_totalprice") * 100).cast("long").as("cents"))
      .select(col("o_custkey"), col("o_orderkey"),
        ntile(4).over(w).cast("long").as("quartile"),
        round(percent_rank().over(w), 6).as("pr"),
        round(cume_dist().over(w), 6).as("cd"))
  }

  /** q46: `dd.merge_asof(direction='nearest', tolerance=...)` — the two
    * directions q26's carry-forward can't express: each click event
    * aligns to the NEAREST purchase of the same user within 24 h,
    * backward winning distance ties (pandas semantics). Scale shape is
    * the q26 union-window trick doubled: tag both sides, UNION, then
    * TWO running `last(..., ignoreNulls)` windows over the same
    * hashpartitioning(k) — ascending (t, side) for the backward
    * neighbor, descending t (orders still first at equal t) for the
    * forward one. One exchange, two sorts, O(1) state per row — never
    * an inequality join. Purchases pre-collapsed to one row per (k, t)
    * (max event_id) so the winner is unambiguous cross-engine. */
  def asofNearest(s: SparkSession, d: String): DataFrame = {
    val tol = 86400L
    val ev = Tables.events(s, d)
    val p = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id").as("k"), unix_timestamp(col("ts")).as("t"))
      .agg(max(col("event_id")).as("pid"))
      .select(col("k"), col("t"), col("t").as("pt"), col("pid"),
              lit(0).as("side"), lit(null).cast("long").as("event_id"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("k"), unix_timestamp(col("ts")).as("t"),
              lit(null).cast("long").as("pt"), lit(null).cast("long").as("pid"),
              lit(1).as("side"), col("event_id"))
    val frame = Window.unboundedPreceding
    val wB = Window.partitionBy(col("k")).orderBy(col("t"), col("side"))
      .rowsBetween(frame, Window.currentRow)
    val wF = Window.partitionBy(col("k")).orderBy(col("t").desc, col("side"))
      .rowsBetween(frame, Window.currentRow)
    val withNbrs = p.unionByName(c)
      .withColumn("bpid", last(col("pid"), ignoreNulls = true).over(wB))
      .withColumn("bt", last(col("pt"), ignoreNulls = true).over(wB))
      .withColumn("fpid", last(col("pid"), ignoreNulls = true).over(wF))
      .withColumn("ft", last(col("pt"), ignoreNulls = true).over(wF))
      .filter(col("side") === 1)
    val bd = when(col("bpid").isNotNull && (col("t") - col("bt")) <= tol,
                  col("t") - col("bt"))
    val fd = when(col("fpid").isNotNull && (col("ft") - col("t")) <= tol,
                  col("ft") - col("t"))
    withNbrs
      .select(col("event_id"), col("k"), col("t"),
              bd.as("bd"), fd.as("fd"), col("bpid"), col("fpid"))
      .filter(col("bd").isNotNull || col("fd").isNotNull)
      .select(col("event_id"), col("k"), col("t"),
        when(col("bd").isNotNull && (col("fd").isNull || col("bd") <= col("fd")),
             col("bpid")).otherwise(col("fpid")).as("near_id"),
        when(col("bd").isNotNull && (col("fd").isNull || col("bd") <= col("fd")),
             col("bd")).otherwise(col("fd")).as("near_dist"))
  }

  /** q47: MULTISET set ops — `exceptAll` / `intersectAll`, the
    * bag-semantics counterparts of q09/q10/q21's distinct-set forms
    * (dask bags and SQL ALL variants preserve multiplicity: an item
    * appearing 5× in A and 2× in B survives EXCEPT ALL 3×). Spark
    * plans both as a replication-count aggregate + generate — one
    * exchange per input, no distinct sort. Output is rolled up to
    * (key, multiplicity) so the gate compare is order-free. */
  def multisetOps(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val a = li.filter(col("l_shipdate") >= "1997-01-01")
      .select(col("l_suppkey").as("k"), col("l_linenumber").as("ln"))
    val b = li.filter(col("l_returnflag") === "R")
      .select(col("l_suppkey").as("k"), col("l_linenumber").as("ln"))
    val ex = a.exceptAll(b).groupBy(col("k"), col("ln"))
      .agg(count(lit(1)).as("n")).select(lit("except").as("op"), col("k"), col("ln"), col("n"))
    val in = a.intersectAll(b).groupBy(col("k"), col("ln"))
      .agg(count(lit(1)).as("n")).select(lit("intersect").as("op"), col("k"), col("ln"), col("n"))
    ex.unionByName(in)
  }

  /** q48: RUNNING DISTINCT COUNT per key — `count(DISTINCT x) OVER w`,
    * which Spark's window operator rejects outright (DISTINCT
    * aggregates are unsupported in windows). Expressed Spark-first as
    * the first-occurrence trick: a row is the first sighting of its
    * (user, event_type) iff row_number over that pair is 1; the running
    * SUM of first-sighting flags IS the running distinct count. Two
    * windows, but both hash-partition by user_id (the pair window's
    * partition keys are a superset), so ONE exchange serves both — the
    * same subset-rule plan shape as q35. State per row is O(1), vs the
    * O(|distinct|) a collect_set-based window would carry. */
  def runningDistinct(s: SparkSession, d: String): DataFrame = {
    val wPair = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val wRun = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("first_seen",
        when(row_number().over(wPair) === 1, lit(1L)).otherwise(lit(0L)))
      .select(col("user_id"), col("event_id"),
              sum(col("first_seen")).over(wRun).as("n_types"))
  }

  /** Per-key stats carried out of [[rankScan]]'s first pass: row count,
    * exact Σv·cnt and Σv²·cnt (BigInt — s2 ≈ 6·10¹⁹ at sf0.1 overflows
    * Long and the 2⁵³ double-exact range), min, max. */
  private final case class KeyMoments(n: Long, s1: BigInt, s2: BigInt,
                                      minV: Long, maxV: Long)

  /** The scan under q30/q44 (see [[quartilesByKey]] for the rank
    * algebra): ONE range exchange of the frequency table into P sorted
    * runs; pass 1 streams each run once collecting per-(partition, key)
    * subtotals AND exact moment partials (bounded driver state — P·keys
    * rows); pass 2 reuses the same shuffle (same RDD object) and emits
    * only the ≤ 6 rows per key whose index range covers a quartile
    * rank. Returns (moments by key, (p25,p50,p75) by key). */
  private def rankScan(freq: DataFrame)
      : (Map[String, KeyMoments], Map[String, (Double, Double, Double)]) = {
    val s = freq.sparkSession
    import s.implicits._
    val sorted = freq.toDF("k", "v", "cnt")
      .repartitionByRange(col("k"), col("v"))
      .sortWithinPartitions(col("k"), col("v"))
      .as[(String, Long, Long)].rdd
    val partStats = sorted.mapPartitionsWithIndex { case (pid, it) =>
      val acc = scala.collection.mutable.LinkedHashMap[String, KeyMoments]()
      it.foreach { case (k, v, c) =>
        val p = acc.getOrElse(k,
          KeyMoments(0L, BigInt(0), BigInt(0), Long.MaxValue, Long.MinValue))
        val vc = BigInt(v) * c
        acc(k) = KeyMoments(p.n + c, p.s1 + vc, p.s2 + vc * v,
          math.min(p.minV, v), math.max(p.maxV, v))
      }
      acc.iterator.map { case (k, st) => (pid, k, st) }
    }.collect()
    val moments: Map[String, KeyMoments] = partStats.groupBy(_._2).map {
      case (k, a) => k -> a.map(_._3).reduce { (x, y) =>
        KeyMoments(x.n + y.n, x.s1 + y.s1, x.s2 + y.s2,
          math.min(x.minV, y.minV), math.max(x.maxV, y.maxV))
      }
    }
    val offsets: Map[(Int, String), Long] = partStats.groupBy(_._2).flatMap {
      case (k, a) =>
        val byPid = a.sortBy(_._1)
        byPid.map(_._1).zip(byPid.map(_._3.n).scanLeft(0L)(_ + _))
          .map { case (pid, off) => (pid, k) -> off }
    }
    val ps = Seq(0.25, 0.5, 0.75)
    val probes: Map[String, Seq[Long]] = moments.map { case (k, st) =>
      k -> ps.flatMap { p => val r = p * (st.n - 1)
        Seq(math.floor(r).toLong, math.ceil(r).toLong) }.distinct
    }
    val bcOff = s.sparkContext.broadcast(offsets)
    val bcProbes = s.sparkContext.broadcast(probes)
    val probeVals: Map[(String, Long), Long] = sorted
      .mapPartitionsWithIndex { case (pid, it) =>
        val cums = scala.collection.mutable.HashMap[String, Long]()
        it.flatMap { case (k, v, c) =>
          val start = cums.getOrElse(k, bcOff.value.getOrElse((pid, k), 0L))
          cums(k) = start + c
          bcProbes.value(k).iterator
            .filter(i => i >= start && i < start + c).map(i => ((k, i), v))
        }
      }.collect().toMap                       // ≤ 6 rows per key
    def quart(k: String, p: Double): Double = {
      val r = p * (moments(k).n - 1)
      val k0 = math.floor(r).toLong; val k1 = math.ceil(r).toLong
      val lo = probeVals((k, k0)).toDouble; val hi = probeVals((k, k1)).toDouble
      val q = lo + (r - k0) * (hi - lo)       // percentile's interpolation
      java.math.BigDecimal.valueOf(q)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    }
    (moments,
     moments.keys.map(k => k -> ((quart(k, 0.25), quart(k, 0.5), quart(k, 0.75)))).toMap)
  }

  /** Exact interpolated quartiles (the `percentile(v, p, cnt)` /
    * `quantile_cont` value, HALF_UP-rounded to 4 dp) per key over a
    * `(key, v, cnt)` frequency frame — by RANK ARITHMETIC over
    * [[rankScan]]'s range-partitioned prefix scan (the t20 two-pass
    * discipline), not the percentile aggregate: percentile's
    * ObjectHashAggregate buffers EVERY distinct value of a key in one
    * reducer's map (~0.6M (v,cnt) entries per measure for q44's price at
    * sf0.1 — measured ~4 s, and at warehouse scale that single-reducer
    * map is an OOM, not a slowdown). The value at rank k sits on the
    * unique frequency row whose [cum, cum+cnt) covers k, and r = p·(n−1)
    * interpolates between its two bracketing ranks exactly as percentile
    * does. Returns (key, p25, p50, p75) — callers rename positionally
    * via toDF. */
  private[graft] def quartilesByKey(freq: DataFrame): DataFrame = {
    val s = freq.sparkSession
    import s.implicits._
    val (_, quarts) = rankScan(freq)
    quarts.keys.toSeq.sorted
      .map(k => (k, quarts(k)._1, quarts(k)._2, quarts(k)._3))
      .toDF("k", "p25", "p50", "p75")
  }

  /** q44: `dd.describe()` parity — count / mean / std / min / max /
    * quartiles for three lineitem measures, long-form (one row per
    * measure). Scale shape: rows first collapse to per-(measure, value)
    * frequencies (the only full-width exchange — output cardinality is
    * the distinct-value count, not the row count), then ONE [[rankScan]]
    * delivers both the exact moments (BigInt sums — sum(v²·cnt) ≈ 6·10¹⁹
    * at sf0.1 overflows Long and the 2⁵³ double-exact range) and the
    * rank-probed quartiles off the same range shuffle. The float
    * mean/std run the identical IEEE expression tree the oracle SQL
    * spells out, on identical exact-integer inputs. */
  def describeStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val freq = Tables.lineitem(s, d)
      .select(round(col("l_quantity")).cast("long").as("qty"),
              round(col("l_extendedprice") * 100).cast("long").as("price"),
              round(col("l_discount") * 100).cast("long").as("disc"))
      .selectExpr("stack(3, 'qty', qty, 'price', price, 'disc', disc) AS (measure, v)")
      .groupBy(col("measure"), col("v")).agg(count(lit(1)).as("cnt"))
    val (moments, quarts) = rankScan(freq)
    // the float tail mirrors the oracle token-for-token: exact integer
    // sums → nearest-double casts → the identical IEEE divide/sqrt
    def rnd6(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    moments.keys.toSeq.sorted.map { m =>
      val st = moments(m)
      val nd = st.n.toDouble
      val s1d = st.s1.doubleValue; val s2d = st.s2.doubleValue
      val (p25, p50, p75) = quarts(m)
      (m, st.n, rnd6(s1d / nd),
       rnd6(math.sqrt((s2d - s1d * s1d / nd) / (nd - 1))),
       st.minV, st.maxV, p25, p50, p75)
    }.toDF("measure", "cnt", "mean", "std", "min_v", "max_v", "p25", "p50", "p75")
  }

  /** q45: per-key rolling exact MEDIAN (`ddf.rolling(5).median()`) —
    * the order-statistic window q08's rolling mean can't express: an
    * interpolated percentile over the trailing 5-row frame. Integer
    * cents make every median an exact .0/.5 double cross-engine.
    * Scale shape: one hashpartitioning(user_id) exchange + one sort —
    * identical to q38/q35; the percentile buffer holds ≤ 5 values per
    * frame step, O(1) memory per row regardless of partition span. */
  def rollingMedian(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id")).rowsBetween(-4, 0)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"),
              round(col("value") * 100).cast("long").as("cents"))
      .select(col("user_id"), col("event_id"),
              round(expr("percentile(cents, 0.5)").over(w), 4).as("med"))
  }

  /** q35: batch sessionization — the gap-based session assignment st02
    * does with streaming state, expressed as pure window algebra over
    * the complete history (the form a backfill or training-data
    * conversation-threading job takes): lag the per-user event times,
    * flag gaps > 24 h as session breaks, running-sum the break flags
    * into session ids, then aggregate each (user, session).
    *
    * Scale shape: ONE exchange total. Both windows share the same
    * (partition, order) so Catalyst plans a single hashpartitioning
    * (user_id) shuffle and a single sort; the final (user_id, sid)
    * aggregation's clustering requirement is satisfied by the existing
    * user_id partitioning (subset rule), so it runs in place — the
    * session roll-up adds no second shuffle at any scale. Epoch-seconds
    * integer domain end to end (the q24/q26 timestamp contract). */
  def sessionize(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("t"), col("event_id"))
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), unix_timestamp(col("ts")).as("t"))
      .withColumn("brk",
        when(lag(col("t"), 1).over(w).isNull ||
               col("t") - lag(col("t"), 1).over(w) > 86400L, 1L).otherwise(0L))
      .withColumn("sid",
        sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(count(lit(1)).as("n_events"),
           min(col("t")).as("t_start"),
           max(col("t")).as("t_end"))
  }

  /** q36: Bloom-filter semi-join pruning — the shuffle-volume cut every
    * warehouse reaches for when a selective dim filter meets a fact
    * table too big to move: build a Bloom filter of the qualifying join
    * keys (distributed treeAggregate build via stat.bloomFilter; only
    * the merged ~KB..MB-scale sketch lands on the driver), broadcast it,
    * and pre-filter the fact side BEFORE its shuffle, so only probable
    * matches ride the exchange. False positives are removed by the join
    * itself — correctness never depends on the sketch, only the pruning
    * rate does (1 % fpp here; the expectedNumItems/fpp pair is the size
    * knob: 1e9 keys at 1 % ≈ 1.2 GB, at 3 % ≈ 780 MB). The join is
    * hinted merge for the honest at-scale shape: with a broadcast join
    * the bloom would be redundant (the hash relation IS an exact
    * filter); it earns its keep exactly when both sides shuffle. Spark's
    * own runtime InjectRuntimeFilter does this automatically above its
    * 10 GB scan threshold; this entry is the explicit, threshold-free
    * operator form. Oracle: the plain selective join — proving the
    * sketch path changes nothing but the plan. */
  def bloomJoin(s: SparkSession, d: String): DataFrame = {
    val sel = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val bf = sel.stat.bloomFilter("o_orderkey", math.max(sel.count(), 1L), 0.01)
    val bfB = s.sparkContext.broadcast(bf)
    val mightContain = udf((k: Long) => bfB.value.mightContainLong(k))
    Tables.lineitem(s, d)
      .select(col("l_orderkey"),
              round(col("l_extendedprice") * 100).cast("long").as("cents"))
      .filter(mightContain(col("l_orderkey")))
      .join(sel.hint("merge"), col("l_orderkey") === col("o_orderkey"))
      .agg(count(lit(1)).as("n_items"),
           sum(col("cents")).as("sum_cents"),
           countDistinct(col("o_orderkey")).as("n_orders"))
  }

  /** q37: GLOBAL rank + decile without a global sort point — the window
    * `row_number() OVER (ORDER BY …)` every analyst writes, whose stock
    * plan funnels the whole table through ONE partition (Spark even
    * warns "No Partition Defined for Window operation"). The scale-safe
    * shape is t20's two-pass distributed prefix scan, applied to ranks:
    * range-repartition on the rank order (sampled range bounds give
    * balanced partitions), sort within partitions, pass 1 reduces each
    * partition to a row COUNT (P longs to the driver — the only
    * collect), pass 2 streams each partition once with its broadcast
    * rank offset; the decile is integer arithmetic off the global rank
    * and total. Both passes reuse the same shuffle stage, so the
    * partitioning cannot drift between them. Ties are broken by
    * o_custkey, making rank == row_number and the output exactly
    * deterministic. Per-task state is one running long — survives any
    * scale; OperatorsSpec proves equality against the one-partition
    * window form. */
  def globalRank(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sorted = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev_cents"))
      .repartitionByRange(col("rev_cents").desc, col("o_custkey"))
      .sortWithinPartitions(col("rev_cents").desc, col("o_custkey"))
      .select(col("o_custkey").cast("long"), col("rev_cents"))
      .as[(Long, Long)].rdd
    val counts = sorted
      .mapPartitionsWithIndex { case (pid, it) =>
        var c = 0L; it.foreach(_ => c += 1); Iterator.single((pid, c))
      }
      .collect().sortBy(_._1).map(_._2)
    val n = math.max(counts.sum, 1L)
    val offsets = s.sparkContext.broadcast(counts.scanLeft(0L)(_ + _))
    sorted.mapPartitionsWithIndex { case (pid, it) =>
        var r = offsets.value(pid)
        it.map { case (cust, cents) =>
          r += 1; (cust, cents, r, (r - 1) * 10L / n)
        }
      }
      .toDF("o_custkey", "rev_cents", "rnk", "decile")
  }

  /** q38: resample + forward-fill — the dask.dataframe `resample('1h')`
    * / `ffill()` pair (reference surface: pandas-style time-series
    * regularization), distributed: per-user hourly buckets from first
    * to last activity, zero-filled counts, and the last-observed value
    * carried forward across empty hours. Deterministic last-in-hour via
    * a packed (second, event_id) order key (event_id is unique);
    * integer cents domain end to end.
    *
    * Scale shape: the grid explodes one row per (user, hour-in-span) —
    * bounded by time span, never by event count; the hourly pre-agg
    * combines map-side so the (user, hour) exchange carries groups, not
    * events; the forward-fill is one keyed window (partition user_id,
    * no global sort). A 100 TB events table with a bounded span stays
    * linear in users × hours. */
  def resampleFfill(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
      .select(col("user_id"), unix_timestamp(col("ts")).as("t"), col("event_id"),
              round(col("value") * 100).cast("long").as("cents"))
      .withColumn("hour", expr("t div 3600"))
      .withColumn("ord", col("t") * 10000000L + col("event_id"))
    val hourly = e.groupBy(col("user_id"), col("hour"))
      .agg(count(lit(1)).as("n_events"),
           max(struct(col("ord"), col("cents"))).getField("cents").as("last_cents"))
    val grid = e.groupBy(col("user_id"))
      .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
      .select(col("user_id"), explode(sequence(col("h0"), col("h1"))).as("hour"))
    val w = Window.partitionBy("user_id").orderBy("hour")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(hourly, Seq("user_id", "hour"), "left")
      .select(col("user_id"), col("hour"),
              coalesce(col("n_events"), lit(0L)).as("n_events"),
              last(col("last_cents"), ignoreNulls = true).over(w).as("filled_cents"))
  }

  /** q39: melt / unpivot — the dask.dataframe `melt` surface (wide →
    * long): the four lineitem measures become (metric, cents) rows,
    * then a per-metric profile. Spark's native `unpivot` is a map-only
    * 4× row expansion (no shuffle, no UDF); the per-metric agg combines
    * map-side so the exchange carries 4 groups. At 100 TB the melt
    * never materializes wide — it streams through whole-stage codegen
    * into the partial agg. */
  def meltMeasures(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(
      round(col("l_quantity") * 100).cast("long").as("qty"),
      round(col("l_extendedprice") * 100).cast("long").as("price"),
      round(col("l_discount") * 100).cast("long").as("disc"),
      round(col("l_tax") * 100).cast("long").as("tax"))
    li.unpivot(Array.empty[org.apache.spark.sql.Column],
               Array(col("qty"), col("price"), col("disc"), col("tax")),
               "metric", "cents")
      .groupBy(col("metric"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
           min(col("cents")).as("min_cents"), max(col("cents")).as("max_cents"))
  }

  /** q40: time-weighted linear interpolation across gaps — the pandas
    * `interpolate(method='time')` analog on q38's hourly grid. Interior
    * empty hours get v0 + (v1−v0)·(h−h0)/(h1−h0) in milli-cents, with
    * the division done in double (exact-integer inputs ≪ 2⁵³, so the
    * IEEE quotient and floor are bit-identical in any engine) and
    * observed hours pinned exactly. Same scale shape as q38: two keyed
    * windows over the bounded user×hour grid, no global sort. */
  def interpolateGaps(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
      .select(col("user_id"), unix_timestamp(col("ts")).as("t"), col("event_id"),
              round(col("value") * 100).cast("long").as("cents"))
      .withColumn("hour", expr("t div 3600"))
      .withColumn("ord", col("t") * 10000000L + col("event_id"))
    val hourly = e.groupBy(col("user_id"), col("hour"))
      .agg(max(struct(col("ord"), col("cents"))).getField("cents").as("obs"))
    val grid = e.groupBy(col("user_id"))
      .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
      .select(col("user_id"), explode(sequence(col("h0"), col("h1"))).as("hour"))
    val back = Window.partitionBy("user_id").orderBy("hour")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // Forward neighbors via a DESCENDING-ordered running frame, not
    // [currentRow, unboundedFollowing]: Spark's UnboundedFollowing frame
    // rebuilds the aggregate from scratch per row — O(span²) per user
    // partition (measured 20+ s at sf0.1 vs 1.6 s for q38's running-frame
    // plan). `last(ignoreNulls)` over desc [unboundedPreceding, currentRow]
    // is the identical "nearest non-null at-or-after" value, evaluated
    // incrementally in O(n), and both windows share one user_id exchange
    // (just an extra in-partition sort for the reversed order).
    val fwd = Window.partitionBy("user_id").orderBy(col("hour").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val obsHour = when(col("obs").isNotNull, col("hour"))
    grid.join(hourly, Seq("user_id", "hour"), "left")
      .select(col("user_id"), col("hour"), col("obs"),
              last(col("obs"), ignoreNulls = true).over(back).as("v0"),
              last(obsHour, ignoreNulls = true).over(back).as("p0"),
              last(col("obs"), ignoreNulls = true).over(fwd).as("v1"),
              last(obsHour, ignoreNulls = true).over(fwd).as("p1"))
      .select(col("user_id"), col("hour"),
              when(col("p1") === col("p0"), col("v0") * 1000L)
                .otherwise(col("v0") * 1000L +
                  floor(((col("v1") - col("v0")) * 1000L * (col("hour") - col("p0"))).cast("double") /
                        (col("p1") - col("p0")).cast("double")).cast("long"))
                .as("interp_millicents"))
  }

  /** q49: grouped correlation / regression aggregates — the pandas
    * `df.groupby(...).corr()` / dask `DataFrame.corr` surface. Pearson r
    * and the OLS slope are computed from the five mergeable power sums
    * (n, Σx, Σy, Σx², Σy², Σxy) in the EXACT integer domain — one
    * partial-agged exchange carrying six longs per group, the same cost
    * as any groupBy-sum. The float work (one sqrt, two divides on
    * exact-integer inputs < 2⁵³) happens once per group after the merge,
    * so both engines execute the identical IEEE op sequence and the
    * rounded result hash-matches. At warehouse scale the longs would be
    * promoted to decimal/double sums — the plan shape (map-side combine,
    * scalar state per group) is unchanged. */
  def groupCorr(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(
      col("l_returnflag"),
      round(col("l_quantity")).cast("long").as("x"),
      round(col("l_discount") * 100).cast("long").as("y"))
    li.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
           sum(col("x")).as("sx"), sum(col("y")).as("sy"),
           sum(col("x") * col("x")).as("sxx"),
           sum(col("y") * col("y")).as("syy"),
           sum(col("x") * col("y")).as("sxy"))
      .select(col("l_returnflag"), col("n"),
              (col("n") * col("sxy") - col("sx") * col("sy")).as("cov_n"),
              round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
                    sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
                         (col("n") * col("syy") - col("sy") * col("sy")).cast("double")), 6)
                .as("corr_r"),
              round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
                    (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"), 6)
                .as("slope"))
  }

  /** q50: the pandas/dask CLEANING triad — `clip` + grouped `fillna` +
    * `dropna` — in one pass: error events carry no valid measurement
    * (their value becomes the null to repair), observed values clip to
    * [500, 5000] cents, nulls impute with the user's mean of observed
    * clipped values (integer floor — exact cross-engine), and rows of
    * users with NO observation drop (nothing to impute from). Scale
    * shape: ONE hashpartitioning(user_id) exchange serves both
    * whole-partition window aggregates (count + sum share a frame), the
    * imputation is a coalesce in the same projection — no join, no
    * second pass. */
  def imputeClip(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id")
    // the null gate runs BEFORE greatest/least in both engines: a
    // non-error row with a NULL value is a missing measurement to repair
    // (imputed), not a 500-cent observation — and CASE-gating it also
    // removes any dependence on an engine's greatest/least null semantics
    val clipped = when(col("event_type") =!= "error" && col("value").isNotNull,
      least(greatest(round(col("value") * 100).cast("long"), lit(500L)), lit(5000L)))
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .withColumn("c2", clipped)
      .withColumn("n_obs", count(col("c2")).over(w))   // count skips nulls
      .withColumn("s_obs", sum(col("c2")).over(w))
      .filter(col("n_obs") > 0)
      .select(col("event_id"), col("user_id"),
              coalesce(col("c2"), expr("s_obs div n_obs")).as("filled_cents"),
              when(col("c2").isNull, 1L).otherwise(0L).as("was_imputed"))
  }

  /** q52: NULL-safe equality join (`<=>` / IS NOT DISTINCT FROM) — the
    * correctness corner a derived NULL-able key hits: plain `=` silently
    * drops the NULL group on both sides, `<=>` pairs it up. The key is
    * `nullif(event_type,'error')`, so the error rows legitimately carry a
    * NULL key and must still meet their counterpart aggregate. Both
    * sides aggregate BEFORE the join (group count ≤ |event types|), so
    * the null-safe join touches only tiny inputs at any scale — the
    * 100 TB-safe shape for a low-cardinality derived key. */
  def nullSafeJoin(s: SparkSession, d: String): DataFrame = {
    val k = when(col("event_type") === "error", lit(null).cast("string"))
      .otherwise(col("event_type"))
    val e = Tables.events(s, d)
    val a = e.filter(col("value").isNotNull)
      .groupBy(k.as("k"))
      .agg(count(lit(1)).as("n_a"),
           sum(round(col("value") * 100).cast("long")).as("cents_a"))
    val b = e.filter(col("event_id") % 3 === 0)
      .groupBy(k.as("k")).agg(count(lit(1)).as("n_b"))
    a.join(b, a("k") <=> b("k"))
      .select(coalesce(a("k"), lit("(null)")).as("k"),
              col("n_a"), col("cents_a"), col("n_b"))
  }

  /** q53: group-wise MODE (pandas/dask `df.groupby(k).x.agg(mode)`):
    * most frequent event_type per user, ties to the lexicographically
    * smallest type. Two partial-aggregable passes — counts, then
    * `min_by` over the (−cnt, type) order — NO window and no per-key
    * value buffering: both aggregates combine map-side, so state per
    * task stays bounded by the distinct-(user,type) count at any scale
    * (a value-map UDAF would buffer every type per user in one reducer
    * — the q30-percentile trap this plan avoids). */
  def groupMode(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("user_id"))
      .agg(min_by(
        struct(col("event_type"), col("cnt")),
        struct((lit(0L) - col("cnt")).as("nc"), col("event_type"))).as("b"))
      .select(col("user_id"), col("b.event_type").as("mode_type"),
              col("b.cnt").as("mode_n"))

  /** q54: drop_duplicates(keep='last') — pandas/dask dedup keeping the
    * LATEST row per (user, type) under the (ts, event_id) order. Spark
    * shape: `max_by` over the packed order key — a single hash
    * aggregation with map-side combine, not a row_number window (the
    * window would sort every duplicate; the aggregate keeps one row of
    * state per key and never sorts). The packed `ord` embeds the unique
    * event_id so the winner is total-ordered — deterministic across
    * engines and retries. */
  def dedupKeepLast(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("event_id"),
              unix_timestamp(col("ts")).as("t"),
              coalesce(round(col("value") * 100).cast("long"), lit(-1L)).as("cents"))
      .withColumn("ord", col("t") * 10000000L + col("event_id"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(max_by(
        struct(col("event_id"), col("t"), col("cents")), col("ord")).as("b"))
      .select(col("user_id"), col("event_type"),
              col("b.event_id").as("last_event_id"),
              col("b.t").as("last_t"), col("b.cents").as("last_cents"))

  /** q55: conversion FUNNEL (view → click → purchase) — the product-
    * analytics sequence query: each stage's timestamp is the EARLIEST
    * occurrence at-or-after the previous stage's, so out-of-order events
    * never count toward conversion. Plan shape: three type-filtered
    * aggregates chained by equi-joins on user_id — every join input is
    * one row per user (aggregated BEFORE joining), no window over the
    * raw stream and no self-join of events with events: at 100 TB the
    * three filtered scans reduce map-side and only user-sized frames
    * ever shuffle. */
  def funnelStages(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
              unix_timestamp(col("ts")).as("t"))
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("t")).as("tv"))
    val c = e.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("t") >= col("tv"))
      .groupBy(col("user_id")).agg(min(col("t")).as("tc"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("t") >= col("tc"))
      .groupBy(col("user_id")).agg(min(col("t")).as("tp"))
    v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .select(col("user_id"), col("tv"),
        coalesce(col("tc"), lit(-1L)).as("tc_or_neg"),
        coalesce(col("tp"), lit(-1L)).as("tp_or_neg"),
        (lit(1L) + when(col("tc").isNotNull, 1L).otherwise(0L)
                 + when(col("tp").isNotNull, 1L).otherwise(0L)).as("stage"))
  }

  /** q56: pandas/dask `qcut` — label every row with its quartile bucket
    * under per-group EXACT quantile boundaries. The boundaries come from
    * the same [[rankScan]] machinery as q30 (one range exchange over the
    * value-frequency table, bounded state at any scale), then join back
    * onto the fact scan as a groups×3 dim. The dim is per key, so it
    * carries no broadcast hint: Spark's size check broadcasts it while it
    * is small (the labeling pass is then map-side) and shuffles it past
    * the threshold. Bucket
    * rule is right-closed (v ≤ p25 → 0 … else 3, the pandas
    * convention); comparisons use the round(·,4)-stabilized boundaries
    * the q30 hash-match already proves identical cross-engine. Output
    * aggregates per (group, bucket) so result size is groups×4. */
  def qcutBuckets(s: SparkSession, d: String): DataFrame = {
    val cents = Tables.lineitem(s, d)
      .select(col("l_returnflag").as("k"),
              round(col("l_extendedprice") * 100).cast("long").as("v"))
    val freq = cents.groupBy(col("k"), col("v")).agg(count(lit(1)).as("cnt"))
    val quarts = quartilesByKey(freq)
      .select(col("k"), round(col("p25"), 4).as("q1"),
              round(col("p50"), 4).as("q2"), round(col("p75"), 4).as("q3"))
    cents.join(quarts, "k")
      .withColumn("bucket",
        when(col("v") <= col("q1"), 0L)
          .when(col("v") <= col("q2"), 1L)
          .when(col("v") <= col("q3"), 2L)
          .otherwise(3L))
      .groupBy(col("k"), col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_cents"))
  }

  /** q57: OHLC resampling (`df.resample('W').agg(open/high/low/close)`)
    * — the finance-shaped downsample: per (user, week), the earliest
    * observation (open), extremes (high/low), and the latest (close).
    * open/close are `min_by`/`max_by` over the q38 packed order key
    * (t·10⁷ + event_id embeds the unique id, so the winner is
    * total-ordered — deterministic across engines and retries); all
    * five aggregates ride ONE partial-aggregable hash agg, no window
    * and no sort of the raw stream. */
  def ohlcResample(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("value").isNotNull)
      .select(col("user_id"),
              unix_timestamp(col("ts")).as("t"), col("event_id"),
              round(col("value") * 100).cast("long").as("cents"))
      .withColumn("week", expr("t div 604800"))
      .withColumn("ord", col("t") * 10000000L + col("event_id"))
      .groupBy(col("user_id"), col("week"))
      .agg(min_by(col("cents"), col("ord")).as("open"),
           max(col("cents")).as("high"),
           min(col("cents")).as("low"),
           max_by(col("cents"), col("ord")).as("close"),
           count(lit(1)).as("n_obs"))

  /** q58: pandas `merge(indicator=True)` — the reconciliation join that
    * reports WHERE each key came from (`both` / `left_only` /
    * `right_only`), the first diagnostic anyone runs when two datasets
    * disagree. Full outer join of the customer dim against the per-
    * customer order aggregate, the indicator derived from null-ness of
    * each side's key, then rolled up per (segment, indicator) so the
    * output stays segment-sized. Both join inputs are aggregates /
    * dims — at 100 TB the fact table collapses to per-key rows before
    * the outer join ever runs. */
  def mergeIndicator(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
      .select(col("c_custkey").as("ck"), col("c_mktsegment").as("seg"))
    val o = Tables.orders(s, d)
      .groupBy(col("o_custkey").as("ok"))
      .agg(count(lit(1)).as("n_orders"),
           sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
    c.join(o, col("ck") === col("ok"), "full_outer")
      .select(
        coalesce(col("seg"), lit("(none)")).as("seg"),
        when(col("ck").isNotNull && col("ok").isNotNull, "both")
          .when(col("ck").isNotNull, "left_only")
          .otherwise("right_only").as("merge_ind"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("cents"), lit(0L)).as("cents"))
      .groupBy(col("seg"), col("merge_ind"))
      .agg(count(lit(1)).as("n_keys"),
           sum(col("n_orders")).as("sum_orders"),
           sum(col("cents")).as("sum_cents"))
  }

  /** q59: pandas/dask `df.groupby(k).x.agg(list)` — group rows into an
    * ARRAY column, the collection shape feature stores and sequence
    * models consume. `collect_list` keeps duplicates (pandas
    * semantics); `sort_array` fixes the nondeterministic gather order so
    * the arrays are hash-comparable. The inherent caveat is the same as
    * pandas': per-group state is the group's rows — fine for bounded
    * groups (a user's event types), the wrong tool for unbounded ones
    * (that's what the aggregate entries are for). The list is emitted
    * as a '|'-joined scalar: the gate's compare harness hashes scalar
    * cells, and the join is lossless here (event_type has no '|'), so
    * the canonical string IS the canonical array. */
  def groupList(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(array_join(sort_array(collect_list(col("event_type"))), "|").as("types"),
           count(lit(1)).as("n"))

  /** q60: the NOT IN / NOT EXISTS NULL-semantics corner — the classic
    * production trap this engine must get right, not merely avoid: a
    * NULL in a NOT IN subquery makes the predicate UNKNOWN for every
    * probe row (three-valued logic), so the query returns 0 rows, while
    * NOT EXISTS does the anti-join people actually meant. One SQL text
    * runs on both engines (the q51 front-door discipline), returning
    * both counts side by side plus the NULL count that causes the
    * divergence — a hash match proves both engines implement the same
    * standard semantics. */
  private val Q60Sql =
    """WITH sub AS (SELECT DISTINCT nullif(event_type, 'error') AS k FROM events),
       seg AS (SELECT DISTINCT c_mktsegment AS s FROM customer)
       SELECT
         (SELECT count(*) FROM seg WHERE s NOT IN (SELECT k FROM sub)) AS n_not_in,
         (SELECT count(*) FROM seg
          WHERE NOT EXISTS (SELECT 1 FROM sub WHERE k = s)) AS n_not_exists,
         (SELECT count(*) FROM sub WHERE k IS NULL) AS n_null_keys,
         (SELECT count(*) FROM seg) AS n_probe"""

  def notInNulls(s: SparkSession, d: String): DataFrame = {
    Tables.events(s, d).createOrReplaceTempView("events")
    Tables.customer(s, d).createOrReplaceTempView("customer")
    s.sql(Q60Sql)
  }

  /** q51: the SQL FRONT DOOR — the whole query as one `spark.sql` text
    * over a registered view (`spark.read` → `createOrReplaceTempView` →
    * ANSI SQL), the entry path a SQL-first user of the engine takes
    * instead of the DataFrame API. The statement is the TPC-H Q6
    * revenue shape in the exact integer-cents domain, and the ORACLE IS
    * THE IDENTICAL SQL STRING — one text, two engines, one hash: the
    * strongest possible demonstration that the SQL surface carries the
    * same semantics as the DataFrame surface the other 181 entries use.
    * Catalyst plans it exactly like the q02-family (pushed filters,
    * pruned scan, partial agg). */
  private val Q51Sql =
    """SELECT l_returnflag,
              count(*) AS n_items,
              CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
                       * CAST(round(l_discount*100) AS BIGINT)) AS BIGINT)
                AS revenue_u
       FROM lineitem
       WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
         AND l_discount > 0.02 AND l_discount < 0.08
         AND l_quantity < 24
       GROUP BY l_returnflag"""

  def sqlFrontdoor(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
    s.sql(Q51Sql)
  }

  /** q61: dask/pandas `df.ewm(alpha=0.2, adjust=False).mean()` — the
    * exponentially weighted moving average, the smoothing primitive the
    * rolling-window family (q08/q24/q45) can't express because its
    * recursion y_t = α·x_t + (1−α)·y_{t−1} carries state across the
    * whole history. EWM is inherently a sequential scan per key — that
    * is exactly how dask/pandas run it (partition by key, time-ordered
    * pass), so the honest Spark shape is `groupByKey` owning the ONE
    * hash exchange and a per-group O(span) imperative fold, state = one
    * double. Spans are per-user event streams (bounded by a user's
    * activity, the same bounded-group argument as q59/g01); the keyed
    * exchange scales out with user cardinality. FP determinism: both
    * engines evaluate the same double expression 0.2·x + 0.8·y over the
    * same (ts-ordered, tie-free) sequence → bit-identical doubles; the
    * oracle mirrors the recursion with a recursive CTE and the single
    * round(·,6) happens once, at output. */
  def ewmaPerUser(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .filter(col("value").isNotNull)
      .select(col("user_id"), unix_micros(col("ts")).as("tu"),
              round(col("value") * 100).cast("long").as("cents"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (uid, rows) =>
        // (user_id, ts) is unique in the fixture and micros-ordering
        // equals timestamp-ordering, so the scan order is total and
        // engine-independent
        val arr = rows.toArray.sortBy(_._2)
        var y = 0.0
        arr.iterator.zipWithIndex.map { case ((_, _, c), i) =>
          y = if (i == 0) c.toDouble else 0.2 * c.toDouble + 0.8 * y
          (uid, (i + 1).toLong, y)
        }
      }
      .toDF("user_id", "rn", "y")
      .select(col("user_id"), col("rn"), round(col("y"), 6).as("ewma"))
  }

  /** q62: Spearman rank correlation per group — the robust dependence
    * measure data-quality sweeps use when Pearson (q49) is distorted by
    * outliers. Min-rank tie handling keeps the whole computation in the
    * exact integer domain: ranks come from a VALUE-FREQUENCY DIM (≤50
    * distinct quantities / ≤11 distinct discount-cents per group), not
    * from sorting the fact table — rank(v) = (running count of values
    * ≤ v) − cnt(v) + 1 over the tiny dim, joined back onto the fact
    * scan. The dims grow with the distinct values, so they carry no
    * broadcast hint: while they are under the threshold Spark broadcasts
    * them and the only full-data exchange is the final per-group
    * power-sum agg (partial-aggregable). The fact table never sorts.
    * Sums accumulate as decimal(38,0) —
    * rank products are n², so a 64-bit sum overflows around n≈2M rows
    * per group; decimal keeps the integer domain exact at any scale —
    * and the q49 closed-form corr runs ONE double tail, mirrored
    * token-for-token by the oracle. */
  def spearmanRanks(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(
      col("l_returnflag").as("k"),
      round(col("l_quantity")).cast("long").as("x"),
      round(col("l_discount") * 100).cast("long").as("y"))
    def rankDim(v: String, rk: String): DataFrame = {
      val w = Window.partitionBy(col("k")).orderBy(col(v))
      li.groupBy(col("k"), col(v)).agg(count(lit(1)).as("cnt"))
        .select(col("k"), col(v),
                (sum(col("cnt")).over(w) - col("cnt") + lit(1L)).as(rk))
    }
    val ranked = li
      .join(rankDim("x", "rx"), Seq("k", "x"))
      .join(rankDim("y", "ry"), Seq("k", "y"))
    val dec = "decimal(38,0)"
    val sums = ranked.groupBy(col("k")).agg(
      count(lit(1)).as("n"),
      sum(col("rx").cast(dec)).as("sx"),
      sum(col("ry").cast(dec)).as("sy"),
      sum((col("rx").cast(dec)) * (col("ry").cast(dec))).as("sxy"),
      sum((col("rx").cast(dec)) * (col("rx").cast(dec))).as("sxx"),
      sum((col("ry").cast(dec)) * (col("ry").cast(dec))).as("syy"))
    val nd = col("n").cast("double")
    val (sxd, syd) = (col("sx").cast("double"), col("sy").cast("double"))
    val (sxyd, sxxd, syyd) =
      (col("sxy").cast("double"), col("sxx").cast("double"), col("syy").cast("double"))
    sums.select(col("k"), col("n"),
      round((nd * sxyd - sxd * syd) /
            sqrt((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd)), 6)
        .as("spearman_rho"))
  }

  /** q63: rolling correlation — `df.rolling(20).corr(other)` — the
    * pairwise drift detector for co-moving series (price vs quantity
    * here), the windowed sibling of q49's static corr. All six power
    * sums (n, Σx, Σy, Σxy, Σx², Σy²) ride ONE trailing 20-row frame
    * per supplier — sliding-frame integer sums are incrementally
    * maintained and order-exact on both engines — and the corr closed
    * form runs once per row as the single double tail. Degenerate
    * windows (n<2 or zero variance) gate on EXACT integer comparisons,
    * so the null set is engine-independent. Scale: partitioned on the
    * high-cardinality supplier key, O(1) frame state per row, one
    * exchange. The cross-term products stay well inside int64 at any
    * window width (the frame bounds the sum at 20 terms; only the
    * per-key exchange grows with data). */
  def rollingCorr(s: SparkSession, d: String): DataFrame = {
    // x/y close the sort key: one intra-supplier (sd, okey, lnum) tie
    // with differing quantity exists at sf0.1 — the q74 discipline
    val w = Window.partitionBy(col("sk"))
      .orderBy(col("sd"), col("l_orderkey"), col("l_linenumber"), col("x"), col("y"))
      .rowsBetween(-19, 0)
    val base = Tables.lineitem(s, d).select(
      col("l_suppkey").as("sk"), col("l_orderkey"), col("l_linenumber"),
      col("l_shipdate").as("sd"),
      round(col("l_quantity")).cast("long").as("x"),
      round(col("l_extendedprice") * 100).cast("long").as("y"))
    val sums = base.select(
      col("sk"), col("l_orderkey"), col("l_linenumber"),
      count(lit(1)).over(w).as("n"),
      sum(col("x")).over(w).as("sx"), sum(col("y")).over(w).as("sy"),
      sum(col("x") * col("y")).over(w).as("sxy"),
      sum(col("x") * col("x")).over(w).as("sxx"),
      sum(col("y") * col("y")).over(w).as("syy"))
    val vx = col("n") * col("sxx") - col("sx") * col("sx")
    val vy = col("n") * col("syy") - col("sy") * col("sy")
    sums.select(col("sk"), col("l_orderkey"), col("l_linenumber"), col("n"),
      when(vx > 0L && vy > 0L,
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
              sqrt(vx.cast("double") * vy.cast("double")), 6))
        .otherwise(lit(null).cast("double")).as("corr_r"))
  }

  /** q66: INTERVAL COVERAGE — the sweep-line union-of-intervals kernel
    * behind billing, uptime and session-overlap analytics: each event
    * opens an interval [t, t + dur) (dur derived deterministically from
    * event_id), and per user we report the union's covered seconds, the
    * peak concurrency, and the interval count. The classic algorithm,
    * expressed as ONE keyed window: explode each interval to ±1 boundary
    * rows, running-sum per user ordered by (t, delta, event_id) — the
    * third key makes the ROWS frame total-ordered, so the running count
    * is engine-independent even with tied boundaries (delta −1 sorts
    * before +1, so touching intervals do not count as concurrent) — and
    * a segment [t, next t) contributes to coverage iff the running count
    * is positive. Two rows per event, one hash exchange on user_id
    * (high cardinality), zero joins: at 100 TB this is a single shuffle
    * of 2·|events| skinny rows, and the window state per user is O(1). */
  def intervalCoverage(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), unix_timestamp(col("ts")).as("t"), col("event_id"))
      .withColumn("dur", col("event_id") % 900 + 60L)
    val bounds = ev.select(col("user_id"), col("t"), lit(1L).as("delta"), col("event_id"))
      .unionByName(ev.select(col("user_id"), (col("t") + col("dur")).as("t"),
                             lit(-1L).as("delta"), col("event_id")))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("delta"), col("event_id"))
    bounds
      .withColumn("run", sum(col("delta")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("nxt", lead(col("t"), 1).over(w))
      .groupBy(col("user_id"))
      .agg(sum(when(col("run") > 0 && col("nxt").isNotNull,
                    col("nxt") - col("t")).otherwise(0L)).as("covered_secs"),
           max(col("run")).as("max_concurrency"),
           expr("count(1) div 2").as("n_intervals"))
  }

  /** q67: pandas/dask `pct_change` per key — the return-series transform
    * (q28 is the absolute lag delta; this is the relative one). Exact
    * discipline: cents·1000 stays integer-exact in a double (≤ 2⁵³), so
    * the permille change is ONE deterministic IEEE division and one
    * subtraction, mirrored token-for-token in the oracle, then
    * round(·, 4) — the established float-tail recipe. Zero/absent
    * predecessors are filtered (pandas emits NaN there; the gate's
    * hash compare needs NULL-free doubles). Same single keyed window
    * as q28: one exchange, no joins. */
  def pctChange(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    Tables.events(s, d)
      .filter(col("value").isNotNull)
      .select(col("event_id"), col("user_id"), unix_timestamp(col("ts")).as("t"),
              round(col("value") * 100).cast("long").as("cents"))
      .withColumn("prev", lag(col("cents"), 1).over(w))
      .filter(col("prev").isNotNull && col("prev") =!= 0)
      .select(col("event_id"),
              round((col("cents") * 1000L).cast("double") / col("prev") - 1000.0, 4)
                .as("pct_pm"))
  }

  /** q68: grouped MEDIAN ABSOLUTE DEVIATION — the robust scale estimate
    * (pandas `(x - x.median()).abs().median()`) outlier pipelines use
    * where std is poisoned by the outliers themselves. Two passes of the
    * same [[rankScan]] machinery q30/q44 already prove exact: pass 1
    * takes per-group medians off the value-frequency table and joins the
    * group-sized result back (no broadcast hint: Spark's size check
    * broadcasts it while it is small), pass 2 runs the identical rank
    * probe over the
    * absolute-deviation frequencies. Deviations stay integer by working
    * in median-units ×10⁴ (the median is a .5-interpolated integer, so
    * ×10⁴ is exact); the final /10⁴ is one mirrored IEEE division.
    * Never a `percentile` aggregate: its per-key value map is the
    * single-reducer OOM at warehouse scale (see [[rankScan]]). */
  def groupMad(s: SparkSession, d: String): DataFrame = {
    val cents = Tables.lineitem(s, d)
      .select(col("l_returnflag").as("k"),
              round(col("l_extendedprice") * 100).cast("long").as("v"))
    val freq1 = cents.groupBy(col("k"), col("v")).agg(count(lit(1)).as("cnt"))
    val med = quartilesByKey(freq1)
      .select(col("k"), round(col("p50"), 4).as("med"))
    val dev = cents.join(med, "k")
      .select(col("k"),
              abs(col("v") * 10000L - round(col("med") * 10000).cast("long")).as("dv"))
    val freq2 = dev.groupBy(col("k"), col("dv")).agg(count(lit(1)).as("cnt"))
    quartilesByKey(freq2.select(col("k"), col("dv"), col("cnt")))
      .select(col("k"), round(col("p50") / 10000, 4).as("mad"))
      .join(med, "k")
      .select(col("k"), col("med"), col("mad"))
  }

  /** q69: running-peak DRAWDOWN — the pandas `(x.cummax() - x) / x.cummax()`
    * risk metric, per customer over the order-date series. ONE keyed
    * window with the running `[unboundedPreceding, currentRow]` frame —
    * Spark maintains the running max incrementally, O(n) per partition
    * (the q40 lesson: never an UnboundedFollowing frame). Cents are
    * exact integers; the permille drawdown is one mirrored IEEE
    * multiply+divide with round(·,4) at output. (o_orderdate,
    * o_orderkey) is a total order, so the running peak is
    * engine-independent. Scale: one hash exchange on the
    * high-cardinality customer key, O(1) window state per row. */
  def drawdownPeak(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
              round(col("o_totalprice") * 100).cast("long").as("cents"))
      .withColumn("peak", max(col("cents")).over(w))
      .select(col("o_custkey"), col("o_orderkey"), col("peak"),
              round((col("peak") - col("cents")).cast("double") * 1000.0 /
                    col("peak"), 4).as("dd_pm"))
  }

  /** q70: per-group OLS (closed-form simple linear regression) — the
    * distributed `regr_slope/regr_intercept` kernel: y = price cents on
    * x = quantity per supplier. All five power sums accumulate as
    * decimal(38,0) (exact at any group size — the q62 overflow
    * discipline), partial-aggregable in ONE map-side-combined exchange
    * on the high-cardinality supplier key; the slope/intercept closed
    * form is the single double tail, mirrored token-for-token (DuckDB
    * side sums in HUGEINT). Degenerate groups (n<2 or zero x-variance)
    * are filtered on EXACT integer comparisons, so the row set is
    * engine-independent. */
  def groupOls(s: SparkSession, d: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = Tables.lineitem(s, d).select(
      col("l_suppkey").as("sk"),
      round(col("l_quantity")).cast("long").as("x"),
      round(col("l_extendedprice") * 100).cast("long").as("y"))
    val sums = base.groupBy(col("sk")).agg(
      count(lit(1)).as("n"),
      sum(col("x").cast(dec)).as("sx"), sum(col("y").cast(dec)).as("sy"),
      sum((col("x").cast(dec)) * (col("y").cast(dec))).as("sxy"),
      sum((col("x").cast(dec)) * (col("x").cast(dec))).as("sxx"))
    val nd = col("n").cast("double")
    val (sxd, syd) = (col("sx").cast("double"), col("sy").cast("double"))
    val (sxyd, sxxd) = (col("sxy").cast("double"), col("sxx").cast("double"))
    val slope = (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
    sums
      .filter(col("n") >= 2 &&
              col("n").cast(dec) * col("sxx") =!= col("sx") * col("sx"))
      .select(col("sk"), col("n"),
              round(slope, 6).as("slope"),
              round((syd - slope * sxd) / nd, 6).as("intercept"))
  }

  /** q71: deterministic per-group SAMPLE — `df.groupby(g).sample(k)`
    * with a seeded hash in place of an RNG: rank customers per nation by
    * md5(custkey) and keep the 3 smallest. Hash-ranking makes the sample
    * reproducible across engines, partitionings and reruns (the t15
    * sampling discipline), and the keyed row_number window is the
    * standard top-k-per-key shape (q14/TopKPerKey): one exchange, heap
    * state O(k) per group under AQE. The (hash, key) order is tie-free
    * — md5 collisions aside, custkey breaks any tie exactly. */
  def groupSample(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("c_nationkey")).orderBy(col("h"), col("c_custkey"))
    Tables.customer(s, d)
      .select(col("c_nationkey"), col("c_custkey"),
              md5(col("c_custkey").cast("string")).as("h"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("c_nationkey"), col("rn"), col("c_custkey"), col("h"))
  }

  /** q72: MARKOV TRANSITION COUNTS — the event-sequence bigram table
    * (prev_type → cur_type) behavior models train on: lag the type over
    * each user's (ts, event_id)-ordered stream, count pairs, and report
    * each transition's parts-per-million share of its source row. The
    * heavy lifting is ONE keyed window exchange + one partial-aggregable
    * count on a |types|²-bounded key space; the per-source totals ride a
    * window over that TINY aggregate (never the fact table). ppm uses
    * exact integer floor division (`div` ≡ DuckDB `//` on positives) —
    * no floats anywhere. */
  def eventTransitions(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    val pairs = Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
              unix_timestamp(col("ts")).as("t"), col("event_id"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
    pairs
      .groupBy(col("prev_type"), col("event_type").as("cur_type"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("tot", sum(col("cnt")).over(Window.partitionBy(col("prev_type"))))
      .select(col("prev_type"), col("cur_type"), col("cnt"),
              expr("cnt * 1000000 div tot").as("ppm"))
  }

  /** q73: CALENDAR FEATURE EXTRACTION — the pandas `.dt` accessor sweep
    * (dask `df.date.dt.dayofweek` et al.) every temporal feature
    * pipeline starts with. Pure map, zero shuffle, whole-stage-codegen'd
    * end to end. Day-of-week comes from the `(epoch_day + 4) % 7`
    * closed form (0 = Sunday) rather than each engine's dayofweek — the
    * builtin's week-start convention differs across engines, the integer
    * formula cannot. Month-end is the `month(d+1) ≠ month(d)` identity.
    * All outputs integer-exact. */
  def dateFeatures(s: SparkSession, d: String): DataFrame = {
    val dt = col("o_orderdate").cast("date")
    val epochDay = datediff(dt, lit(java.sql.Date.valueOf("1970-01-01")))
    Tables.orders(s, d).select(
      col("o_orderkey"),
      epochDay.cast("long").as("epoch_day"),
      year(dt).cast("long").as("yr"),
      quarter(dt).cast("long").as("qtr"),
      month(dt).cast("long").as("mth"),
      dayofmonth(dt).cast("long").as("dom"),
      ((epochDay + 4) % 7).cast("long").as("dow"),
      when(month(date_add(dt, 1)) =!= month(dt), 1L).otherwise(0L).as("is_month_end"))
  }

  /** q74: ROLLING SKEWNESS — `rolling(20).skew()`'s population form, the
    * windowed third-moment drift detector. The q63 discipline extended
    * one moment up: Σx, Σx², Σx³ ride ONE trailing 20-row frame per
    * supplier (incrementally-maintained integer sums — quantity ≤ 50
    * keeps n²Σx³ ≤ 10⁹, exact in int64 at any window position), and
    * g₁ = (n²Σx³ − 3nΣxΣx² + 2(Σx)³) / (d·√d), d = nΣx² − (Σx)², is
    * the single double tail — √d·d instead of d^1.5 because pow is not
    * ulp-stable across engines while sqrt is IEEE-exact. Degenerate
    * windows gate on exact integer d ≤ 0 / n < 3. One exchange. */
  def rollingSkew(s: SparkSession, d: String): DataFrame = {
    // x joins the sort key: the fixture carries one (sd, okey, lnum)
    // tie within a supplier at sf0.1 with DIFFERING quantity — with x
    // in the key, any remaining ties are value-identical, so every
    // trailing frame's sums are permutation-invariant (engine-proof)
    val w = Window.partitionBy(col("sk"))
      .orderBy(col("sd"), col("l_orderkey"), col("l_linenumber"), col("x"))
      .rowsBetween(-19, 0)
    val base = Tables.lineitem(s, d).select(
      col("l_suppkey").as("sk"), col("l_orderkey"), col("l_linenumber"),
      col("l_shipdate").as("sd"),
      round(col("l_quantity")).cast("long").as("x"))
    val sums = base.select(
      col("sk"), col("l_orderkey"), col("l_linenumber"),
      count(lit(1)).over(w).as("n"),
      sum(col("x")).over(w).as("s1"),
      sum(col("x") * col("x")).over(w).as("s2"),
      sum(col("x") * col("x") * col("x")).over(w).as("s3"))
    val dd = col("n") * col("s2") - col("s1") * col("s1")
    val n3 = col("n") * col("n") * col("s3") -
             lit(3L) * col("n") * col("s1") * col("s2") +
             lit(2L) * col("s1") * col("s1") * col("s1")
    sums.select(col("sk"), col("l_orderkey"), col("l_linenumber"), col("n"),
      when(col("n") >= 3 && dd > 0L,
        round(n3.cast("double") /
              (dd.cast("double") * sqrt(dd.cast("double"))), 6))
        .otherwise(lit(null).cast("double")).as("skew_g1"))
  }

  /** q75: COMBINE_FIRST — pandas `s1.combine_first(s2)` / dask's aligned
    * null-patching merge: take the preferred frame's value where
    * present, fall back to the other. One full-outer shuffle join on the
    * shared key + a coalesce per column — no window, no second pass.
    * The fixture patches urgent-order prices (preferred) with a +1000
    * adjusted fallback series computed from the same scan. */
  def combineFirst(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_orderkey"),
      round(col("o_totalprice") * 100).cast("long").as("cents"),
      col("o_orderpriority"))
    val preferred = o.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("cents").as("c1"))
    val fallback = o.filter(col("o_orderkey") % 3 =!= 0)
      .select(col("o_orderkey"), (col("cents") + 1000L).as("c2"))
    preferred.join(fallback, Seq("o_orderkey"), "full_outer")
      .select(col("o_orderkey"),
              coalesce(col("c1"), col("c2")).as("cents"),
              when(col("c1").isNotNull, 1L).otherwise(0L).as("from_preferred"))
  }

  /** q76: COHORT RETENTION — the acquisition-month × months-since
    * activity matrix every growth dashboard starts from: cohort = each
    * customer's first active month, n_active = distinct customers from
    * that cohort active k months later. ONE exchange on the
    * high-cardinality customer key does all the heavy lifting: per
    * customer, the first month and the distinct-month set come out of a
    * single groupBy (collect_set state is bounded by the calendar span,
    * ~84 months, per customer — never row counts); the exploded
    * (cohort, offset) pairs then partial-combine into a months²-sized
    * aggregate. Month index is the exact integer yr·12+mth−1 — no date
    * arithmetic conventions in play. */
  def cohortRetention(s: SparkSession, d: String): DataFrame = {
    val dt = col("o_orderdate").cast("date")
    val months = Tables.orders(s, d)
      .select(col("o_custkey"),
              (year(dt) * 12 + month(dt) - 1).cast("long").as("mi"))
      .groupBy(col("o_custkey"))
      .agg(min(col("mi")).as("c0"), collect_set(col("mi")).as("ms"))
    months
      .select(col("c0"), explode(col("ms")).as("mi"))
      .groupBy(col("c0").as("cohort_mi"), (col("mi") - col("c0")).as("months_since"))
      .agg(count(lit(1)).as("n_active"))
  }

  /** q77: MARKET-BASKET ASSOCIATION RULES — support / confidence / lift
    * for brand co-occurrence within an order, the mining primitive
    * behind "frequently bought together". Scale shape: the basket →
    * item-set reduction is ONE exchange on the high-cardinality order
    * key (collect_set state bounded by |brands| = 25 per basket, never
    * line counts); pair expansion happens basket-locally via a sorted
    * array comprehension (≤ C(25,2) pairs per basket, map-only), then
    * partial-combines into a brands²-sized aggregate. The three brand
    * marginals attach as broadcasts (25 rows + two scalars). All rates
    * are integer ppm (mirrored floor divisions), so lift > 1e6 is the
    * exact "positively associated" test. */
  def basketRules(s: SparkSession, d: String): DataFrame = {
    val items = Tables.lineitem(s, d)
      .join(Tables.part(s, d).select(col("p_partkey"), col("p_brand")),
            col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("p_brand")).distinct()
    val baskets = items.groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("p_brand"))).as("bs"))
    val nOrders = baskets.groupBy().agg(count(lit(1)).as("n_ord"))
    val brandN = items.groupBy(col("p_brand")).agg(count(lit(1)).as("n_br"))
    val pairs = baskets.filter(size(col("bs")) >= 2)
      .select(explode(expr(
        """flatten(transform(bs, (x, i) ->
             transform(slice(bs, i + 2, size(bs)), y -> struct(x AS a, y AS b))))"""))
        .as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      // bounded: one row per brand (25 in TPC-H)
      .join(broadcast(brandN.select(col("p_brand").as("a"), col("n_br").as("n_a"))), "a")
      .join(broadcast(brandN.select(col("p_brand").as("b"), col("n_br").as("n_b"))), "b")
      .crossJoin(nOrders)
      .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
              expr("(n_ab * 1000000) div n_ord").as("supp_ppm"),
              expr("(n_ab * 1000000) div n_a").as("conf_ppm"),
              expr("((n_ab * n_ord) div n_a * 1000000) div n_b").as("lift_ppm"))
  }

  /** q78: CONSECUTIVE-DUPLICATE COMPRESSION — pandas
    * `s[s.shift() != s]` / run-length state compression: per user,
    * ordered by (ts, event_id), keep only the events where event_type
    * CHANGES, and index the surviving run heads. The state-change
    * stream is what a 100 TB event log compresses to before sessionized
    * modeling. ONE exchange on the high-cardinality user key; the lag
    * and the post-filter run index are two window passes over the SAME
    * (key, order) — Catalyst plans one sort, and rows never widen
    * beyond the four output columns. Deterministic: the (ts, event_id)
    * order has the unique id as tie-break. */
  def compressRuns(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      .select(col("user_id"), col("event_id"), col("event_type"),
              row_number().over(w).cast("long").as("run_idx"))
  }

  /** q79: DETERMINISTIC POISSON BOOTSTRAP — `df.sample(frac=1,
    * replace=True)` at scale: true with-replacement resampling needs
    * global draws, so distributed engines replicate each row
    * r ~ Poisson(1) times instead (the standard "Poisson bootstrap",
    * exact as N→∞). Here r comes from the md5-uniform's inverse CDF
    * (cutoffs = the Poisson(1) CDF in ppm), so the resample is
    * reproducible and oracle-checkable. Map-only replication via
    * array_repeat + explode (never sequence(), whose empty case flips
    * descending), then one partial-combined aggregate proves the
    * resampled population. */
  def bootstrapResample(s: SparkSession, d: String): DataFrame = {
    val u = conv(substring(md5(col("o_orderkey").cast("string")), 1, 15), 16, 10)
      .cast("long") % 1000000L
    Tables.orders(s, d)
      .select(col("o_orderpriority"),
              round(col("o_totalprice") * 100).cast("long").as("cents"),
              when(u < 367879L, 0L).when(u < 735759L, 1L).when(u < 919699L, 2L)
                .when(u < 981012L, 3L).otherwise(4L).as("r"))
      .select(col("o_orderpriority"), col("cents"),
              explode(expr("array_repeat(1, cast(r as int))")).as("one"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_resampled"), sum(col("cents")).as("sum_cents"))
  }

  /** q80: LORENZ / CONCENTRATION CURVE — "the top X% of customers carry
    * Y% of revenue", the inequality table behind every whale-analysis
    * dashboard. Per-customer spend (one exchange on the customer key)
    * quantizes to a DOMAIN-bounded grid (whole dollars of lifetime
    * spend — bounded by order behavior, not row count, the ml15
    * discipline), and the ascending cumulative shares come from a
    * window over the grid only. All shares exact integer ppm; masses
    * carried in dollars so cum·10⁶ stays far inside int64. */
  def lorenzCurve(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perCust = Tables.orders(s, d)
      .select(col("o_custkey"),
              round(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy(col("o_custkey"))
      .agg(expr("sum(cents) div 100").as("dollars"))
    val grid = perCust.groupBy(expr("dollars div 1000").as("bucket"))
      .agg(count(lit(1)).as("n_cust"), sum(col("dollars")).as("mass"))
    val wCum = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    grid.select(col("bucket"), col("n_cust"), col("mass"),
        sum(col("n_cust")).over(wCum).as("cc"),
        sum(col("mass")).over(wCum).as("cm"),
        sum(col("n_cust")).over(wAll).as("tc"),
        sum(col("mass")).over(wAll).as("tm"))
      .select(col("bucket"), col("n_cust"), col("mass"),
              expr("(cc * 1000000) div tc").as("cum_cust_ppm"),
              expr("(cm * 1000000) div tm").as("cum_mass_ppm"))
  }

  /** q81: GROUPED WEIGHTED MEDIAN — the quantity-weighted median price
    * per return flag, the robust location statistic `wmedian(x, w)`
    * that plain percentile windows can't express. Prices quantize to
    * whole dollars (domain-bounded grid, ≤ ~10⁵ values at any N — the
    * ml15/q80 discipline), weights partial-combine per (flag, dollar)
    * BEFORE the per-flag cumulative window, and the lower weighted
    * median is the first grid value where 2·cumw ≥ totw — integer
    * comparisons only. */
  def weightedMedian(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grid = Tables.lineitem(s, d)
      .select(col("l_returnflag").as("f"),
              expr("cast(round(l_extendedprice * 100) as bigint) div 100").as("dollars"),
              col("l_quantity").cast("long").as("w0"))
      .groupBy(col("f"), col("dollars")).agg(sum(col("w0")).as("w"))
    val wCum = Window.partitionBy(col("f")).orderBy(col("dollars"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("f"))
    grid.select(col("f"), col("dollars"),
        sum(col("w")).over(wCum).as("cumw"), sum(col("w")).over(wAll).as("totw"))
      .filter(col("cumw") * 2 >= col("totw"))
      .groupBy(col("f"))
      .agg(min(col("dollars")).as("wmedian_dollars"), max(col("totw")).as("tot_w"))
  }

  /** q82: RELATIVE TOP-K (top 20% per key) — pandas
    * `g.apply(lambda x: x.nlargest(len(x)//5))`: the per-customer
    * biggest-orders cut where the budget is a FRACTION of the group,
    * not a constant (q14's fixed top-k can't express it). One exchange
    * on the high-cardinality customer key; rank and group size come
    * from the same sorted pass (row_number + whole-partition count
    * share one sort), and the keep test 5·rank ≤ cnt is an integer
    * cross-multiplication — no float quantile. */
  def topFracPerKey(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wRank = Window.partitionBy(col("o_custkey"))
      .orderBy(col("cents").desc, col("o_orderkey"))
    val wAll = Window.partitionBy(col("o_custkey"))
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
              round(col("o_totalprice") * 100).cast("long").as("cents"))
      .select(col("o_custkey"), col("o_orderkey"), col("cents"),
              row_number().over(wRank).cast("long").as("rk"),
              count(lit(1)).over(wAll).as("cnt"))
      .filter(col("rk") * 5 <= col("cnt"))
      .select(col("o_custkey"), col("o_orderkey"), col("cents"), col("rk"))
  }

  /** q83: DATA-QUALITY EXPECTATIONS — the constraint-audit pass (Delta
    * constraints / Great Expectations) every ingest gate runs: range
    * rules, null rules, and referential integrity evaluated in ONE scan
    * + ONE key join. The FK check rides the same left join as the
    * conditional aggregates (an anti-join would be a second pass), all
    * rules are map-side conditional sums (integer-cents compare for the
    * discount rule — no float literal ambiguity), and the 1-row result
    * unpivots via stack into the (rule, violations, checked) report. */
  def expectations(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_quantity"), col("l_discount"),
              col("l_returnflag"))
      .join(Tables.orders(s, d).select(col("o_orderkey")),
            col("l_orderkey") === col("o_orderkey"), "left")
      .agg(count(lit(1)).as("n"),
           sum(when(col("l_quantity") > 45, 1L).otherwise(0L)).as("v_qty"),
           sum(when(round(col("l_discount") * 100).cast("long") > 8L, 1L)
                 .otherwise(0L)).as("v_disc"),
           sum(when(col("l_returnflag").isNull, 1L).otherwise(0L)).as("v_null"),
           sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("v_orphan"))
      .selectExpr("n", """stack(4,
          'quantity_le_45', v_qty,
          'discount_le_8pct', v_disc,
          'returnflag_not_null', v_null,
          'order_fk_exists', v_orphan) AS (rule, n_violations)""")
      .select(col("rule"), col("n_violations"), col("n").as("n_checked"))
  }

  val queries: Map[String, Q] = Map(
    "q83_expectations"      -> (expectations _),
    "q82_top_frac"          -> (topFracPerKey _),
    "q81_weighted_median"   -> (weightedMedian _),
    "q80_lorenz"            -> (lorenzCurve _),
    "q79_bootstrap"         -> (bootstrapResample _),
    "q78_compress_runs"     -> (compressRuns _),
    "q77_basket"            -> (basketRules _),
    "q76_cohort"            -> (cohortRetention _),
    "q75_combine_first"     -> (combineFirst _),
    "q74_rolling_skew"      -> (rollingSkew _),
    "q73_date_features"     -> (dateFeatures _),
    "q72_transitions"       -> (eventTransitions _),
    "q71_group_sample"      -> (groupSample _),
    "q70_group_ols"         -> (groupOls _),
    "q69_drawdown"          -> (drawdownPeak _),
    "q68_group_mad"         -> (groupMad _),
    "q67_pct_change"        -> (pctChange _),
    "q66_interval_coverage" -> (intervalCoverage _),
    "q63_rolling_corr"      -> (rollingCorr _),
    "q01_pricing_summary"   -> (pricingSummary _),
    "q02_project_filter"    -> (projectFilter _),
    "q03_revenue_by_nation" -> (revenueByNation _),
    "q04_top_customers"     -> (topCustomers _),
    "q05_distinct_flags"    -> (distinctFlags _),
    "q06_global_agg"        -> (globalAgg _),
    "q07_cumsum_customer"   -> (cumsumPerCustomer _),
    "q08_rolling_avg_user"  -> (rollingAvgPerUser _),
    "q09_union_segments"    -> (unionSegments _),
    "q10_except_no_orders"  -> (exceptNoOrders _),
    "q11_anti_join"         -> (antiJoinNoOrders _),
    "q12_semi_join"         -> (semiJoinBigSpenders _),
    "q13_case_when"         -> (caseWhenBuckets _),
    "q14_rank_top_orders"   -> (rankTopOrders _),
    "q15_having"            -> (havingPriorities _),
    "q16_revenue_by_brand"  -> (revenueByBrand _),
    "q17_events_per_day"    -> (eventsPerDay _),
    "q18_props_extract"     -> (propsExtract _),
    "q19_set_index"         -> (setIndexByDate _),
    "q20_above_cust_avg"    -> (aboveCustomerAvg _),
    "q21_intersect"         -> (intersectSegments _),
    "q22_full_outer"        -> (fullOuterCounts _),
    "q23_left_join_agg"     -> (leftJoinSpend _),
    "q24_range_window"      -> (rangeWindowPerUser _),
    "q25_salted_agg"        -> (saltedAgg _),
    "q26_asof_join"         -> (asofJoin _),
    "q27_range_join"        -> (rangeJoin _),
    "q28_lag_delta"         -> (lagDelta _),
    "q29_pivot"             -> (pivotCounts _),
    "q30_percentiles"       -> (percentiles _),
    "q31_rollup"            -> (rollupSummary _),
    "q32_approx_quantiles"  -> (approxQuantiles _),
    "q33_json_extract"      -> (jsonExtract _),
    "q34_cube"              -> (cubeSummary _),
    "q35_sessionize"        -> (sessionize _),
    "q36_bloom_join"        -> (bloomJoin _),
    "q37_global_rank"       -> (globalRank _),
    "q38_resample_ffill"    -> (resampleFfill _),
    "q39_melt_measures"     -> (meltMeasures _),
    "q40_interpolate"       -> (interpolateGaps _),
    "q41_grouping_sets"     -> (groupingSetsSummary _),
    "q42_scd2_merge"        -> (scd2Merge _),
    "q43_window_ranks"      -> (windowRanks _),
    "q44_describe"          -> (describeStats _),
    "q45_rolling_median"    -> (rollingMedian _),
    "q46_asof_nearest"      -> (asofNearest _),
    "q47_multiset_ops"      -> (multisetOps _),
    "q48_running_distinct"  -> (runningDistinct _),
    "q49_group_corr"        -> (groupCorr _),
    "q50_impute_clip"       -> (imputeClip _),
    "q51_sql_frontdoor"     -> (sqlFrontdoor _),
    "q52_nullsafe_join"     -> (nullSafeJoin _),
    "q53_group_mode"        -> (groupMode _),
    "q54_dedup_keep_last"   -> (dedupKeepLast _),
    "q55_funnel"            -> (funnelStages _),
    "q56_qcut"              -> (qcutBuckets _),
    "q57_ohlc"              -> (ohlcResample _),
    "q58_merge_indicator"   -> (mergeIndicator _),
    "q59_group_list"        -> (groupList _),
    "q60_not_in_nulls"      -> (notInNulls _),
    "q61_ewma"              -> (ewmaPerUser _),
    "q62_spearman"          -> (spearmanRanks _),
    "q64_pivot_table"       -> (pivotTable _),
    "q65_group_nunique"     -> (groupNunique _),
  )

  val oracles: Map[String, String] = Map(
    // same one-scan conditional sums over the same left join; the FK
    // rule counts unmatched lineitems
    "q83_expectations" ->
      """WITH j AS (SELECT l.l_quantity, l.l_discount, l.l_returnflag,
                           o.o_orderkey AS ok
                    FROM lineitem l
                    LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey),
         a AS (SELECT count(*) AS n,
                      CAST(sum(CASE WHEN l_quantity > 45 THEN 1 ELSE 0 END)
                           AS BIGINT) AS v_qty,
                      CAST(sum(CASE WHEN CAST(round(l_discount * 100) AS BIGINT) > 8
                                    THEN 1 ELSE 0 END) AS BIGINT) AS v_disc,
                      CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END)
                           AS BIGINT) AS v_null,
                      CAST(sum(CASE WHEN ok IS NULL THEN 1 ELSE 0 END)
                           AS BIGINT) AS v_orphan
               FROM j)
         SELECT 'quantity_le_45' AS rule, v_qty AS n_violations, n AS n_checked FROM a
         UNION ALL SELECT 'discount_le_8pct', v_disc, n FROM a
         UNION ALL SELECT 'returnflag_not_null', v_null, n FROM a
         UNION ALL SELECT 'order_fk_exists', v_orphan, n FROM a""",
    // same (cents desc, key) rank, same integer 5·rank <= cnt cut
    "q82_top_frac" ->
      """WITH r AS (SELECT o_custkey, o_orderkey,
                           CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                           CAST(row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY CAST(round(o_totalprice * 100) AS BIGINT) DESC,
                                           o_orderkey) AS BIGINT) AS rk,
                           count(*) OVER (PARTITION BY o_custkey) AS cnt
                    FROM orders)
         SELECT o_custkey, o_orderkey, cents, rk
         FROM r WHERE rk * 5 <= cnt""",
    // same dollar grid, same running/total window split, same ppm
    // floor divisions
    "q80_lorenz" ->
      """WITH pc AS (SELECT o_custkey,
                            CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                                 AS BIGINT) // 100 AS dollars
                     FROM orders GROUP BY 1),
         g AS (SELECT dollars // 1000 AS bucket, count(*) AS n_cust,
                      CAST(sum(dollars) AS BIGINT) AS mass
               FROM pc GROUP BY 1),
         c AS (SELECT bucket, n_cust, mass,
                      CAST(sum(n_cust) OVER (ORDER BY bucket
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS BIGINT) AS cc,
                      CAST(sum(mass) OVER (ORDER BY bucket
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS BIGINT) AS cm,
                      CAST(sum(n_cust) OVER () AS BIGINT) AS tc,
                      CAST(sum(mass) OVER () AS BIGINT) AS tm
               FROM g)
         SELECT bucket, n_cust, mass,
                (cc * 1000000) // tc AS cum_cust_ppm,
                (cm * 1000000) // tm AS cum_mass_ppm
         FROM c""",
    // same (flag, dollar) weight grid, same 2·cumw >= totw lower
    // weighted median — integers only
    "q81_weighted_median" ->
      """WITH g AS (SELECT l_returnflag AS f,
                           CAST(round(l_extendedprice * 100) AS BIGINT) // 100 AS dollars,
                           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
                    FROM lineitem GROUP BY 1, 2),
         c AS (SELECT f, dollars,
                      CAST(sum(w) OVER (PARTITION BY f ORDER BY dollars
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS BIGINT) AS cumw,
                      CAST(sum(w) OVER (PARTITION BY f) AS BIGINT) AS totw
               FROM g)
         SELECT f, CAST(min(dollars) AS BIGINT) AS wmedian_dollars,
                CAST(max(totw) AS BIGINT) AS tot_w
         FROM c WHERE cumw * 2 >= totw GROUP BY 1""",
    // same md5-uniform, same Poisson(1) CDF cutoffs; the exploded
    // resample collapses to the weighted sums algebraically
    "q79_bootstrap" ->
      """WITH o AS (SELECT o_orderpriority,
                           CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                           ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT
                             % 1000000 AS u
                    FROM orders),
         r AS (SELECT o_orderpriority, cents,
                      CASE WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1
                           WHEN u < 919699 THEN 2 WHEN u < 981012 THEN 3
                           ELSE 4 END AS r
               FROM o)
         SELECT o_orderpriority, CAST(sum(r) AS BIGINT) AS n_resampled,
                CAST(sum(r * cents) AS BIGINT) AS sum_cents
         FROM r GROUP BY 1""",
    // same (ts, event_id) order, lag change-detection, post-filter
    // run index per user
    "q78_compress_runs" ->
      """WITH l AS (SELECT user_id, ts, event_id, event_type,
                           lag(event_type) OVER (PARTITION BY user_id
                                                 ORDER BY ts, event_id) AS prev
                    FROM events),
         k AS (SELECT user_id, ts, event_id, event_type FROM l
               WHERE prev IS NULL OR prev <> event_type)
         SELECT user_id, event_id, event_type,
                CAST(row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS BIGINT) AS run_idx
         FROM k""",
    // same sorted in-basket pair expansion, same mirrored ppm floor
    // divisions; counts are exact integers throughout
    "q77_basket" ->
      """WITH it AS (SELECT DISTINCT l.l_orderkey, p.p_brand
                     FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
         no AS (SELECT count(DISTINCT l_orderkey) AS n_ord FROM it),
         bn AS (SELECT p_brand, count(*) AS n_br FROM it GROUP BY 1),
         pr AS (SELECT a.p_brand AS a, b.p_brand AS b, count(*) AS n_ab
                FROM it a JOIN it b
                  ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
                GROUP BY 1, 2)
         SELECT pr.a, pr.b, pr.n_ab, na.n_br AS n_a, nb.n_br AS n_b,
                (pr.n_ab * 1000000) // no.n_ord AS supp_ppm,
                (pr.n_ab * 1000000) // na.n_br AS conf_ppm,
                ((pr.n_ab * no.n_ord) // na.n_br * 1000000) // nb.n_br AS lift_ppm
         FROM pr
         JOIN bn na ON na.p_brand = pr.a
         JOIN bn nb ON nb.p_brand = pr.b
         CROSS JOIN no""",
    // same integer month index, first month via min, distinct-month
    // activity; all counts exact integers
    "q76_cohort" ->
      """WITH a AS (SELECT o_custkey,
                           CAST(year(CAST(o_orderdate AS DATE)) * 12
                                + month(CAST(o_orderdate AS DATE)) - 1
                                AS BIGINT) AS mi
                    FROM orders),
         d AS (SELECT DISTINCT o_custkey, mi FROM a),
         c AS (SELECT o_custkey, min(mi) AS c0 FROM d GROUP BY 1)
         SELECT c.c0 AS cohort_mi, d.mi - c.c0 AS months_since,
                count(*) AS n_active
         FROM d JOIN c ON d.o_custkey = c.o_custkey
         GROUP BY 1, 2""",
    // same three integer power sums on the same explicit 20-row frame;
    // the same n3/(d·sqrt(d)) double tail, null-gated on integer d/n
    "q74_rolling_skew" ->
      """WITH b AS (SELECT l_suppkey AS sk, l_orderkey, l_linenumber,
                           l_shipdate AS sd,
                           CAST(round(l_quantity) AS BIGINT) AS x
                    FROM lineitem),
         s AS (SELECT sk, l_orderkey, l_linenumber,
                      count(*) OVER w AS n,
                      CAST(sum(x) OVER w AS BIGINT) AS s1,
                      CAST(sum(x*x) OVER w AS BIGINT) AS s2,
                      CAST(sum(x*x*x) OVER w AS BIGINT) AS s3
               FROM b
               WINDOW w AS (PARTITION BY sk
                            ORDER BY sd, l_orderkey, l_linenumber, x
                            ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
         SELECT sk, l_orderkey, l_linenumber, n,
                CASE WHEN n >= 3 AND n*s2 - s1*s1 > 0
                     THEN round(CAST(n*n*s3 - 3*n*s1*s2 + 2*s1*s1*s1 AS DOUBLE)
                               /(CAST(n*s2 - s1*s1 AS DOUBLE)
                                 * sqrt(CAST(n*s2 - s1*s1 AS DOUBLE))), 6)
                END AS skew_g1
         FROM s""",
    // same full-outer + coalesce; the provenance flag mirrors IS NOT NULL
    "q75_combine_first" ->
      """WITH o AS (SELECT o_orderkey,
                           CAST(round(o_totalprice*100) AS BIGINT) AS cents,
                           o_orderpriority
                    FROM orders),
         p AS (SELECT o_orderkey, cents AS c1 FROM o
               WHERE o_orderpriority = '1-URGENT'),
         f AS (SELECT o_orderkey, cents + 1000 AS c2 FROM o
               WHERE o_orderkey % 3 <> 0)
         SELECT coalesce(p.o_orderkey, f.o_orderkey) AS o_orderkey,
                coalesce(p.c1, f.c2) AS cents,
                CAST(CASE WHEN p.c1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
                  AS from_preferred
         FROM p FULL OUTER JOIN f ON p.o_orderkey = f.o_orderkey""",
    // identical integer calendar math; dow via the shared (epoch+4)%7
    // closed form, never the engines' differing dayofweek conventions
    "q73_date_features" ->
      """SELECT o_orderkey,
                CAST(datediff('day', DATE '1970-01-01',
                              CAST(o_orderdate AS DATE)) AS BIGINT) AS epoch_day,
                CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS yr,
                CAST(quarter(CAST(o_orderdate AS DATE)) AS BIGINT) AS qtr,
                CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) AS mth,
                CAST(day(CAST(o_orderdate AS DATE)) AS BIGINT) AS dom,
                CAST((datediff('day', DATE '1970-01-01',
                               CAST(o_orderdate AS DATE)) + 4) % 7 AS BIGINT) AS dow,
                CAST(CASE WHEN month(CAST(o_orderdate AS DATE) + INTERVAL 1 DAY)
                               <> month(CAST(o_orderdate AS DATE))
                          THEN 1 ELSE 0 END AS BIGINT) AS is_month_end
         FROM orders""",
    // same running-max window over the same (date, key) total order;
    // one mirrored double multiply+divide tail, round(·,4) at output
    "q69_drawdown" ->
      """WITH o AS (SELECT o_custkey, o_orderkey, o_orderdate,
                           CAST(round(o_totalprice*100) AS BIGINT) AS cents
                    FROM orders),
         p AS (SELECT o_custkey, o_orderkey, cents,
                      max(cents) OVER (PARTITION BY o_custkey
                                       ORDER BY o_orderdate, o_orderkey
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                                AND CURRENT ROW) AS peak
               FROM o)
         SELECT o_custkey, o_orderkey, peak,
                round(CAST(peak - cents AS DOUBLE) * 1000.0 / peak, 4) AS dd_pm
         FROM p""",
    // HUGEINT power sums mirror the decimal(38,0) accumulators exactly;
    // the closed-form slope/intercept tail is token-for-token identical
    "q70_group_ols" ->
      """WITH li AS (SELECT l_suppkey AS sk,
                            CAST(round(l_quantity) AS BIGINT) AS x,
                            CAST(round(l_extendedprice*100) AS BIGINT) AS y
                     FROM lineitem),
         s AS (SELECT sk, count(*) AS n,
                      sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
                      sum(CAST(x AS HUGEINT)*y) AS sxy,
                      sum(CAST(x AS HUGEINT)*x) AS sxx
               FROM li GROUP BY 1
               HAVING count(*) >= 2 AND count(*)*sum(CAST(x AS HUGEINT)*x)
                                        <> sum(CAST(x AS HUGEINT))*sum(CAST(x AS HUGEINT)))
         SELECT sk, n,
                round((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
                     /(CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)), 6) AS slope,
                round((CAST(sy AS DOUBLE)
                       - (CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
                          - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
                        /(CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
                         * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6) AS intercept
         FROM s""",
    // identical md5 hex (lowercase in both engines), identical tie-free
    // (hash, key) rank order — pure string/integer domain, no floats
    "q71_group_sample" ->
      """WITH h AS (SELECT c_nationkey, c_custkey,
                           md5(CAST(c_custkey AS VARCHAR)) AS h
                    FROM customer),
         r AS (SELECT c_nationkey, c_custkey, h,
                      CAST(row_number() OVER (PARTITION BY c_nationkey
                                              ORDER BY h, c_custkey) AS BIGINT) AS rn
               FROM h)
         SELECT c_nationkey, rn, c_custkey, h FROM r WHERE rn <= 3""",
    // same lag over the same (t, event_id) total order; ppm is exact
    // integer floor division on positives (Spark `div` ≡ DuckDB `//`)
    "q72_transitions" ->
      """WITH e AS (SELECT user_id, event_type,
                           CAST(floor(epoch(ts)) AS BIGINT) AS t, event_id
                    FROM events),
         p AS (SELECT event_type,
                      lag(event_type) OVER (PARTITION BY user_id
                                            ORDER BY t, event_id) AS prev_type
               FROM e),
         c AS (SELECT prev_type, event_type AS cur_type, count(*) AS cnt
               FROM p WHERE prev_type IS NOT NULL GROUP BY 1, 2)
         SELECT prev_type, cur_type, cnt,
                cnt * 1000000 // CAST(sum(cnt) OVER (PARTITION BY prev_type) AS BIGINT) AS ppm
         FROM c""",
    // same two-pass shape: exact median, integer deviations in ×10⁴
    // median-units, exact deviation median, one mirrored /10⁴ tail
    "q68_group_mad" ->
      """WITH c AS (SELECT l_returnflag AS k,
                           CAST(round(l_extendedprice*100) AS BIGINT) AS v
                    FROM lineitem),
         med AS (SELECT k, round(quantile_cont(v, 0.5), 4) AS med
                 FROM c GROUP BY 1),
         dev AS (SELECT c.k,
                        abs(c.v * 10000 - CAST(round(med.med * 10000) AS BIGINT)) AS dv
                 FROM c JOIN med ON med.k = c.k),
         madt AS (SELECT k, round(quantile_cont(dv, 0.5) / 10000, 4) AS mad
                  FROM dev GROUP BY 1)
         SELECT med.k, med.med, madt.mad FROM med JOIN madt USING (k)""",
    // same lag, same token-for-token float tail: cents·1000 exact in a
    // double, one division, one subtraction, round(·,4)
    "q67_pct_change" ->
      """WITH e AS (
           SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
                  CAST(round(value*100) AS BIGINT) AS cents
           FROM events WHERE value IS NOT NULL),
         l AS (SELECT event_id, cents,
                      lag(cents) OVER (PARTITION BY user_id ORDER BY t, event_id) AS prev
               FROM e)
         SELECT event_id,
                round(CAST(cents * 1000 AS DOUBLE) / prev - 1000.0, 4) AS pct_pm
         FROM l WHERE prev IS NOT NULL AND prev <> 0""",
    // same ±1 boundary sweep; the (t, delta, event_id) total order and the
    // explicit ROWS frame pin identical running counts in both engines
    "q66_interval_coverage" ->
      """WITH ev AS (
           SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t, event_id,
                  event_id % 900 + 60 AS dur
           FROM events),
         b AS (SELECT user_id, t, CAST(1 AS BIGINT) AS delta, event_id FROM ev
               UNION ALL
               SELECT user_id, t + dur AS t, CAST(-1 AS BIGINT) AS delta, event_id FROM ev),
         r AS (SELECT user_id, t, delta, event_id,
                      sum(delta) OVER (PARTITION BY user_id
                        ORDER BY t, delta, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run,
                      lead(t) OVER (PARTITION BY user_id
                        ORDER BY t, delta, event_id) AS nxt
               FROM b)
         SELECT user_id,
                CAST(sum(CASE WHEN run > 0 AND nxt IS NOT NULL
                              THEN nxt - t ELSE 0 END) AS BIGINT) AS covered_secs,
                CAST(max(run) AS BIGINT) AS max_concurrency,
                CAST(count(*) // 2 AS BIGINT) AS n_intervals
         FROM r GROUP BY 1""",
    "q33_json_extract" ->
      """SELECT event_type, count(*) AS n,
                CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
                CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
                CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
         FROM events GROUP BY 1""",
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 2) AS sum_qty,
         round(sum(l_extendedprice), 2) AS sum_base_price,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
         round(avg(l_quantity), 6) AS avg_qty,
         round(avg(l_extendedprice), 6) AS avg_price,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-02'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q02_project_filter" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate <  TIMESTAMP '1997-01-01'
           AND l_discount > 0.05
         ORDER BY l_orderkey, l_linenumber""",
    "q03_revenue_by_nation" ->
      """SELECT n_name,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation   ON c_nationkey = n_nationkey
         WHERE o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate <  TIMESTAMP '1998-01-01'
         GROUP BY n_name
         ORDER BY revenue DESC, n_name""",
    "q04_top_customers" ->
      """SELECT o_custkey, round(sum(o_totalprice), 2) AS total_spend,
                count(*) AS n_orders
         FROM orders GROUP BY o_custkey
         ORDER BY total_spend DESC, o_custkey LIMIT 10""",
    "q05_distinct_flags" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
         ORDER BY l_returnflag, l_linestatus""",
    "q06_global_agg" ->
      """SELECT count(*) AS n_rows,
         round(sum(l_quantity), 2) AS sum_qty,
         round(avg(l_quantity), 6) AS avg_qty,
         round(min(l_quantity), 2) AS min_qty,
         round(max(l_quantity), 2) AS max_qty,
         round(stddev_samp(l_quantity), 6) AS std_qty
         FROM lineitem""",
    "q07_cumsum_customer" ->
      """SELECT o_custkey, o_orderkey,
         round(sum(o_totalprice) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum_spend
         FROM orders ORDER BY o_custkey, o_orderkey""",
    "q08_rolling_avg_user" ->
      """SELECT event_id, user_id,
         round(avg(value) OVER (PARTITION BY user_id
               ORDER BY ts, event_id
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS rolling_avg
         FROM events ORDER BY event_id""",
    "q09_union_segments" ->
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
         UNION
         SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
         ORDER BY c_custkey""",
    "q10_except_no_orders" ->
      """SELECT c_custkey FROM customer
         EXCEPT
         SELECT o_custkey AS c_custkey FROM orders
         ORDER BY c_custkey""",
    "q11_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey""",
    "q12_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
         ORDER BY c_custkey""",
    "q13_case_when" ->
      """SELECT o_orderkey,
         round(o_totalprice * 1.07, 2) AS price_with_tax,
         CASE WHEN o_totalprice > 300000.0 THEN 'big'
              WHEN o_totalprice > 100000.0 THEN 'mid'
              ELSE 'small' END AS bucket
         FROM orders ORDER BY o_orderkey""",
    "q14_rank_top_orders" ->
      """SELECT o_custkey, o_orderkey, rn FROM (
           SELECT o_custkey, o_orderkey,
                  row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders) t
         WHERE rn <= 2 ORDER BY o_custkey, rn""",
    "q15_having" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
                round(avg(o_totalprice), 4) AS avg_price
         FROM orders GROUP BY o_orderpriority
         HAVING count(*) > 100 ORDER BY o_orderpriority""",
    "q16_revenue_by_brand" ->
      """SELECT p_brand,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
         count(*) AS n_items
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand ORDER BY p_brand""",
    "q17_events_per_day" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
                count(*) AS n_events, round(sum(value), 2) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY day, event_type""",
    "q18_props_extract" ->
      """SELECT event_type,
                CAST(sum(TRY_CAST(regexp_extract(props, '(\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
                count(*) AS n
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q19_set_index" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_day,
                o_totalprice
         FROM orders ORDER BY o_orderdate, o_orderkey""",
    "q20_above_cust_avg" ->
      """WITH o AS (SELECT *, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
                    FROM orders)
         SELECT o_orderkey, o_custkey, o_totalprice
         FROM o JOIN (
           SELECT o_custkey AS ck, sum(cents) AS sum_cents,
                  count(*) AS n_ord
           FROM o GROUP BY o_custkey) a ON o_custkey = ck
         WHERE cents * n_ord > sum_cents
         ORDER BY o_orderkey""",
    "q21_intersect" ->
      """SELECT c_custkey FROM customer WHERE c_mktsegment IN ('BUILDING','MACHINERY')
         INTERSECT
         SELECT c_custkey FROM customer WHERE c_acctbal > 0.0""",
    "q22_full_outer" ->
      """SELECT coalesce(a.ck, b.ck) AS o_custkey,
                coalesce(a.n_all, 0) AS n_all, coalesce(b.n_big, 0) AS n_big
         FROM (SELECT o_custkey AS ck, count(*) AS n_all FROM orders GROUP BY 1) a
         FULL OUTER JOIN (SELECT o_custkey AS ck, count(*) AS n_big FROM orders
                          WHERE o_totalprice > 250000.0 GROUP BY 1) b
           ON a.ck = b.ck""",
    "q23_left_join_agg" ->
      """SELECT c_mktsegment, count(o_orderkey) AS n_orders, count(*) AS n_rows,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
         FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
         GROUP BY c_mktsegment""",
    "q24_range_window" ->
      """SELECT event_id, user_id,
                count(*) OVER w AS n_1h,
                CAST(sum(CAST(round(value*100) AS BIGINT)) OVER w AS BIGINT) AS sum_1h
         FROM (SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS epoch, value
               FROM events) t
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch
                      RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)""",
    // single-stage direct aggregate: the salted two-stage plan must be
    // bit-identical (exact integer domain ⇒ combine-order independent)
    "q25_salted_agg" ->
      """SELECT event_type, count(*) AS n_events,
                CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
         FROM events GROUP BY event_type""",
    "q26_asof_join" ->
      """WITH o AS (
           SELECT o_custkey AS k, CAST(floor(epoch(o_orderdate)) AS BIGINT) AS t,
                  max(o_orderkey) AS okey
           FROM orders GROUP BY 1, 2),
         e AS (
           SELECT event_id, user_id AS k, CAST(floor(epoch(ts)) AS BIGINT) AS t
           FROM events)
         SELECT e.event_id, e.k, e.t, o.okey AS asof_orderkey
         FROM e ASOF JOIN o ON e.k = o.k AND e.t >= o.t""",
    "q27_range_join" ->
      """WITH o AS (
           SELECT o_custkey AS k, CAST(floor(epoch(o_orderdate)) AS BIGINT) AS ot,
                  o_orderkey
           FROM orders),
         e AS (
           SELECT event_id, user_id AS k, CAST(floor(epoch(ts)) AS BIGINT) AS et
           FROM events)
         SELECT e.event_id, count(*) AS n_orders_7d, max(o.o_orderkey) AS last_okey
         FROM e JOIN o ON e.k = o.k AND o.ot <= e.et AND e.et - o.ot < 604800
         GROUP BY 1""",
    "q28_lag_delta" ->
      """SELECT event_id, user_id,
                cents - coalesce(lag(cents) OVER (PARTITION BY user_id
                                                  ORDER BY ts, event_id), 0) AS delta_cents
         FROM (SELECT event_id, user_id, ts,
                      CAST(round(value*100) AS BIGINT) AS cents
               FROM events) t""",
    "q29_pivot" ->
      """SELECT strftime(ts, '%Y-%m') AS month,
                count(*) FILTER (event_type = 'click') AS click,
                count(*) FILTER (event_type = 'error') AS error,
                count(*) FILTER (event_type = 'purchase') AS purchase,
                count(*) FILTER (event_type = 'signup') AS signup,
                count(*) FILTER (event_type = 'view') AS view
         FROM events GROUP BY 1""",
    "q30_percentiles" ->
      """SELECT l_returnflag,
                round(quantile_cont(cents, 0.25), 4) AS p25,
                round(quantile_cont(cents, 0.5), 4) AS p50,
                round(quantile_cont(cents, 0.75), 4) AS p75
         FROM (SELECT l_returnflag,
                      CAST(round(l_extendedprice*100) AS BIGINT) AS cents
               FROM lineitem) t
         GROUP BY 1""",
    "q32_approx_quantiles" ->
      """SELECT l_returnflag,
                round(quantile_cont(cents, 0.25), 4) AS p25,
                round(quantile_cont(cents, 0.5), 4) AS p50,
                round(quantile_cont(cents, 0.75), 4) AS p75,
                CAST(count(*) AS BIGINT) AS n_sampled
         FROM (SELECT l_returnflag,
                      CAST(round(l_extendedprice*100) AS BIGINT) AS cents
               FROM lineitem
               WHERE ('0x' || substr(md5(l_orderkey || '_' || l_linenumber), 1, 15))::BIGINT % 100 < 5) t
         GROUP BY 1""",
    "q31_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
                coalesce(l_linestatus, 'ALL') AS status,
                CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
                count(*) AS n_rows,
                CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
                CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_cents
         FROM lineitem
         GROUP BY ROLLUP(l_returnflag, l_linestatus)""",
    "q43_window_ranks" ->
      """WITH o AS (
           SELECT o_custkey, o_orderkey,
                  CAST(round(o_totalprice*100) AS BIGINT) AS cents
           FROM orders)
         SELECT o_custkey, o_orderkey,
                CAST(ntile(4) OVER w AS BIGINT) AS quartile,
                round(percent_rank() OVER w, 6) AS pr,
                round(cume_dist() OVER w, 6) AS cd
         FROM o WINDOW w AS (PARTITION BY o_custkey ORDER BY cents, o_orderkey)""",
    // the double mean/std formula mirrors the Spark expression tree
    // token-for-token (identical IEEE ops on exact decimal sums)
    "q44_describe" ->
      """WITH m AS (
           SELECT 'qty' AS measure, CAST(round(l_quantity) AS BIGINT) AS v FROM lineitem
           UNION ALL SELECT 'price', CAST(round(l_extendedprice*100) AS BIGINT) FROM lineitem
           UNION ALL SELECT 'disc', CAST(round(l_discount*100) AS BIGINT) FROM lineitem)
         SELECT measure, count(*) AS cnt,
                round(CAST(sum(v) AS DOUBLE)/count(*), 6) AS mean,
                round(sqrt((CAST(sum(v*v) AS DOUBLE)
                            - CAST(sum(v) AS DOUBLE)*CAST(sum(v) AS DOUBLE)/count(*))
                           / (count(*)-1)), 6) AS std,
                min(v) AS min_v, max(v) AS max_v,
                round(quantile_cont(v, 0.25), 4) AS p25,
                round(quantile_cont(v, 0.50), 4) AS p50,
                round(quantile_cont(v, 0.75), 4) AS p75
         FROM m GROUP BY 1""",
    "q45_rolling_median" ->
      """SELECT user_id, event_id,
                round(quantile_cont(cents, 0.5) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4) AS med
         FROM (SELECT user_id, event_id, ts,
                      CAST(round(value*100) AS BIGINT) AS cents
               FROM events) t""",
    // DuckDB runs the DISTINCT window natively; Spark's first-sighting
    // running sum must agree with it exactly
    "q48_running_distinct" ->
      """SELECT user_id, event_id,
                count(DISTINCT event_type) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_types
         FROM events""",
    // ONE SQL text, two engines: the oracle IS the Spark-side statement
    "q51_sql_frontdoor" -> Q51Sql,
    // IS NOT DISTINCT FROM is DuckDB's spelling of Spark's <=>; the
    // NULL-keyed group must survive the join in both engines
    "q52_nullsafe_join" ->
      """WITH a AS (
           SELECT nullif(event_type, 'error') AS k, count(*) AS n_a,
                  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS cents_a
           FROM events WHERE value IS NOT NULL GROUP BY 1),
         b AS (
           SELECT nullif(event_type, 'error') AS k, count(*) AS n_b
           FROM events WHERE event_id % 3 = 0 GROUP BY 1)
         SELECT coalesce(a.k, '(null)') AS k, a.n_a, a.cents_a, b.n_b
         FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k""",
    // the row_number restatement of min_by's (−cnt, type) order: same
    // winner, same deterministic tie-break
    "q53_group_mode" ->
      """WITH c AS (
           SELECT user_id, event_type, count(*) AS cnt
           FROM events GROUP BY 1, 2),
         r AS (
           SELECT user_id, event_type, cnt,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY cnt DESC, event_type) AS rn
           FROM c)
         SELECT user_id, event_type AS mode_type, cnt AS mode_n
         FROM r WHERE rn = 1""",
    // list agg with a deterministic sort, emitted as a '|'-joined
    // scalar so the compare harness can hash it (arrays are unhashable
    // in the driver's pandas sort)
    "q59_group_list" ->
      """SELECT user_id,
                array_to_string(list_sort(list(event_type)), '|') AS types,
                count(*) AS n
         FROM events GROUP BY 1""",
    // ONE SQL text, two engines (q51 discipline): both must implement
    // the standard three-valued NOT IN semantics
    "q60_not_in_nulls" -> Q60Sql,
    // the same α·x + (1−α)·y double recursion over the same ts-ordered
    // sequence (0.2e0/0.8e0 force DOUBLE literals — a bare 0.2 is
    // DECIMAL in DuckDB and would change the rounding), rounded once
    "q61_ewma" ->
      """WITH RECURSIVE t AS (
           SELECT user_id, CAST(round(value*100) AS BIGINT) AS cents,
                  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts)
                       AS BIGINT) AS rn
           FROM events WHERE value IS NOT NULL),
         r AS (
           SELECT user_id, rn, CAST(cents AS DOUBLE) AS y FROM t WHERE rn = 1
           UNION ALL
           SELECT t.user_id, t.rn,
                  0.2e0 * CAST(t.cents AS DOUBLE) + 0.8e0 * r.y
           FROM r JOIN t ON t.user_id = r.user_id AND t.rn = r.rn + 1)
         SELECT user_id, rn, round(y, 6) AS ewma FROM r""",
    "q65_group_nunique" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
                count(DISTINCT l_partkey) AS n_parts,
                count(DISTINCT l_suppkey) AS n_supps
         FROM lineitem GROUP BY 1, 2""",
    // same pinned types, same (count, sum-cents) per cell via FILTER
    "q64_pivot_table" ->
      """SELECT user_id,
                count(*) FILTER (event_type = 'click') AS click_n,
                CAST(coalesce(sum(CAST(round(value*100) AS BIGINT))
                              FILTER (event_type = 'click'), 0) AS BIGINT) AS click_cents,
                count(*) FILTER (event_type = 'purchase') AS purchase_n,
                CAST(coalesce(sum(CAST(round(value*100) AS BIGINT))
                              FILTER (event_type = 'purchase'), 0) AS BIGINT) AS purchase_cents,
                count(*) FILTER (event_type = 'view') AS view_n,
                CAST(coalesce(sum(CAST(round(value*100) AS BIGINT))
                              FILTER (event_type = 'view'), 0) AS BIGINT) AS view_cents
         FROM events
         WHERE value IS NOT NULL AND event_type IN ('click', 'purchase', 'view')
         GROUP BY 1""",
    // same trailing frame, same exact integer window sums, same gated
    // double tail
    "q63_rolling_corr" ->
      """WITH base AS (
           SELECT l_suppkey AS sk, l_orderkey, l_linenumber, l_shipdate AS sd,
                  CAST(round(l_quantity) AS BIGINT) AS x,
                  CAST(round(l_extendedprice*100) AS BIGINT) AS y
           FROM lineitem),
         sums AS (
           SELECT sk, l_orderkey, l_linenumber,
                  CAST(count(*) OVER w AS BIGINT) AS n,
                  CAST(sum(x) OVER w AS BIGINT) AS sx,
                  CAST(sum(y) OVER w AS BIGINT) AS sy,
                  CAST(sum(x*y) OVER w AS BIGINT) AS sxy,
                  CAST(sum(x*x) OVER w AS BIGINT) AS sxx,
                  CAST(sum(y*y) OVER w AS BIGINT) AS syy
           FROM base
           WINDOW w AS (PARTITION BY sk
                        ORDER BY sd, l_orderkey, l_linenumber, x, y
                        ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
         SELECT sk, l_orderkey, l_linenumber, n,
                CASE WHEN n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0
                     THEN round(CAST(n*sxy - sx*sy AS DOUBLE)
                                / sqrt(CAST(n*sxx - sx*sx AS DOUBLE)
                                       * CAST(n*syy - sy*sy AS DOUBLE)), 6)
                     ELSE NULL END AS corr_r
         FROM sums""",
    // same min-ranks from the value-frequency dim, same exact integer
    // power sums, same single corr tail
    "q62_spearman" ->
      """WITH li AS (
           SELECT l_returnflag AS k, CAST(round(l_quantity) AS BIGINT) AS x,
                  CAST(round(l_discount*100) AS BIGINT) AS y
           FROM lineitem),
         fx AS (SELECT k, x, count(*) AS cnt FROM li GROUP BY 1, 2),
         rx AS (SELECT k, x, CAST(sum(cnt) OVER (PARTITION BY k ORDER BY x)
                                  - cnt + 1 AS BIGINT) AS rx FROM fx),
         fy AS (SELECT k, y, count(*) AS cnt FROM li GROUP BY 1, 2),
         ry AS (SELECT k, y, CAST(sum(cnt) OVER (PARTITION BY k ORDER BY y)
                                  - cnt + 1 AS BIGINT) AS ry FROM fy),
         j AS (SELECT li.k, rx.rx, ry.ry FROM li
               JOIN rx ON li.k = rx.k AND li.x = rx.x
               JOIN ry ON li.k = ry.k AND li.y = ry.y),
         s AS (SELECT k, count(*) AS n,
                      sum(rx) AS sx, sum(ry) AS sy,
                      sum(CAST(rx AS HUGEINT)*ry) AS sxy,
                      sum(CAST(rx AS HUGEINT)*rx) AS sxx,
                      sum(CAST(ry AS HUGEINT)*ry) AS syy
               FROM j GROUP BY 1)
         SELECT k, n,
                round((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
                      / sqrt((CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
                              - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
                             * (CAST(n AS DOUBLE)*CAST(syy AS DOUBLE)
                                - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))), 6)
                  AS spearman_rho
         FROM s""",
    // same outer join, same null-ness indicator, same rollup
    "q58_merge_indicator" ->
      """WITH c AS (SELECT c_custkey AS ck, c_mktsegment AS seg FROM customer),
         o AS (SELECT o_custkey AS ok, count(*) AS n_orders,
                      CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents
               FROM orders GROUP BY 1),
         j AS (
           SELECT coalesce(seg, '(none)') AS seg,
                  CASE WHEN ck IS NOT NULL AND ok IS NOT NULL THEN 'both'
                       WHEN ck IS NOT NULL THEN 'left_only'
                       ELSE 'right_only' END AS merge_ind,
                  coalesce(n_orders, 0) AS n_orders, coalesce(cents, 0) AS cents
           FROM c FULL OUTER JOIN o ON ck = ok)
         SELECT seg, merge_ind, count(*) AS n_keys,
                CAST(sum(n_orders) AS BIGINT) AS sum_orders,
                CAST(sum(cents) AS BIGINT) AS sum_cents
         FROM j GROUP BY 1, 2""",
    // quantile_cont boundaries rounded to the same 4 decimals the q30
    // hash-match pins; right-closed CASE mirrors the Spark when-chain
    "q56_qcut" ->
      """WITH c AS (
           SELECT l_returnflag AS k,
                  CAST(round(l_extendedprice*100) AS BIGINT) AS v
           FROM lineitem),
         q AS (
           SELECT k, round(quantile_cont(v, 0.25), 4) AS q1,
                  round(quantile_cont(v, 0.50), 4) AS q2,
                  round(quantile_cont(v, 0.75), 4) AS q3
           FROM c GROUP BY 1),
         b AS (
           SELECT c.k,
                  CASE WHEN v <= q1 THEN 0 WHEN v <= q2 THEN 1
                       WHEN v <= q3 THEN 2 ELSE 3 END AS bucket, v
           FROM c JOIN q ON c.k = q.k)
         SELECT k, CAST(bucket AS BIGINT) AS bucket, count(*) AS n,
                CAST(sum(v) AS BIGINT) AS sum_cents
         FROM b GROUP BY 1, 2""",
    // arg_min/arg_max over the same packed ord pick the same open/close
    "q57_ohlc" ->
      """WITH e AS (
           SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t, event_id,
                  CAST(round(value*100) AS BIGINT) AS cents
           FROM events WHERE value IS NOT NULL),
         w AS (
           SELECT user_id, t // 604800 AS week,
                  t * 10000000 + event_id AS ord, cents
           FROM e)
         SELECT user_id, week,
                arg_min(cents, ord) AS open, max(cents) AS high,
                min(cents) AS low, arg_max(cents, ord) AS close,
                count(*) AS n_obs
         FROM w GROUP BY 1, 2""",
    // same three chained stage minima; LEFT joins preserve users who
    // stall mid-funnel, -1 sentinels keep the output NULL-free
    "q55_funnel" ->
      """WITH e AS (
           SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS t
           FROM events),
         v AS (SELECT user_id, min(t) AS tv FROM e
               WHERE event_type = 'view' GROUP BY 1),
         c AS (SELECT e.user_id, min(t) AS tc FROM e JOIN v USING (user_id)
               WHERE event_type = 'click' AND t >= tv GROUP BY 1),
         p AS (SELECT e.user_id, min(t) AS tp FROM e JOIN c USING (user_id)
               WHERE event_type = 'purchase' AND t >= tc GROUP BY 1)
         SELECT v.user_id, v.tv,
                coalesce(c.tc, -1) AS tc_or_neg,
                coalesce(p.tp, -1) AS tp_or_neg,
                CAST(1 + CASE WHEN c.tc IS NOT NULL THEN 1 ELSE 0 END
                       + CASE WHEN p.tp IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage
         FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)""",
    // keep='last' restated as a DESC row_number; ord embeds event_id so
    // the window's winner equals max_by's
    "q54_dedup_keep_last" ->
      """WITH e AS (
           SELECT user_id, event_type, event_id,
                  CAST(floor(epoch(ts)) AS BIGINT) AS t,
                  coalesce(CAST(round(value*100) AS BIGINT), -1) AS cents
           FROM events),
         r AS (
           SELECT user_id, event_type, event_id, t, cents,
                  row_number() OVER (PARTITION BY user_id, event_type
                                     ORDER BY t*10000000 + event_id DESC) AS rn
           FROM e)
         SELECT user_id, event_type, event_id AS last_event_id,
                t AS last_t, cents AS last_cents
         FROM r WHERE rn = 1""",
    // the same clip/impute/drop semantics; // is floor division, equal
    // to Spark's `div` on these positive integers
    "q50_impute_clip" ->
      """WITH e AS (
           SELECT event_id, user_id,
                  CASE WHEN event_type <> 'error' AND value IS NOT NULL
                       THEN least(greatest(CAST(round(value*100) AS BIGINT), 500), 5000)
                  END AS c2
           FROM events),
         s AS (SELECT e.*, count(c2) OVER (PARTITION BY user_id) AS n_obs,
                      sum(c2) OVER (PARTITION BY user_id) AS s_obs
               FROM e)
         SELECT event_id, user_id,
                CAST(coalesce(c2, s_obs // n_obs) AS BIGINT) AS filled_cents,
                CAST(CASE WHEN c2 IS NULL THEN 1 ELSE 0 END AS BIGINT) AS was_imputed
         FROM s WHERE n_obs > 0""",
    // same five power sums in exact BIGINT, same one-sqrt-two-divide
    // float tail — the op sequences are textually parallel so the
    // rounded doubles hash-match
    "q49_group_corr" ->
      """WITH b AS (
           SELECT l_returnflag,
                  CAST(round(l_quantity) AS BIGINT) AS x,
                  CAST(round(l_discount*100) AS BIGINT) AS y
           FROM lineitem),
         s AS (
           SELECT l_returnflag, count(*) AS n,
                  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                  CAST(sum(x*x) AS BIGINT) AS sxx, CAST(sum(y*y) AS BIGINT) AS syy,
                  CAST(sum(x*y) AS BIGINT) AS sxy
           FROM b GROUP BY 1)
         SELECT l_returnflag, n,
                CAST(n*sxy - sx*sy AS BIGINT) AS cov_n,
                round(CAST(n*sxy - sx*sy AS DOUBLE) /
                      sqrt(CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE)), 6)
                  AS corr_r,
                round(CAST(n*sxy - sx*sy AS DOUBLE) /
                      CAST(n*sxx - sx*sx AS DOUBLE), 6) AS slope
         FROM s""",
    "q47_multiset_ops" ->
      """WITH a AS (SELECT l_suppkey AS k, l_linenumber AS ln FROM lineitem
                    WHERE l_shipdate >= '1997-01-01'),
            b AS (SELECT l_suppkey AS k, l_linenumber AS ln FROM lineitem
                  WHERE l_returnflag = 'R')
         SELECT 'except' AS op, k, ln, count(*) AS n
         FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b) GROUP BY 2, 3
         UNION ALL
         SELECT 'intersect', k, ln, count(*)
         FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b) GROUP BY 2, 3""",
    // oracle = two native ASOF joins (backward + forward) + the same
    // tolerance/tie CASE the Spark side evaluates
    "q46_asof_nearest" ->
      """WITH p AS (
           SELECT user_id AS k, CAST(floor(epoch(ts)) AS BIGINT) AS t,
                  max(event_id) AS pid
           FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
         c AS (
           SELECT event_id, user_id AS k, CAST(floor(epoch(ts)) AS BIGINT) AS t
           FROM events WHERE event_type = 'click'),
         sel AS (
           SELECT c.event_id, c.k, c.t,
                  b.pid AS bpid, b.t AS bt, f.pid AS fpid, f.t AS ft
           FROM c
           ASOF LEFT JOIN p b ON c.k = b.k AND c.t >= b.t
           ASOF LEFT JOIN p f ON c.k = f.k AND c.t <= f.t),
         dist AS (
           SELECT event_id, k, t,
                  CASE WHEN bpid IS NOT NULL AND t - bt <= 86400 THEN t - bt END AS bd,
                  CASE WHEN fpid IS NOT NULL AND ft - t <= 86400 THEN ft - t END AS fd,
                  bpid, fpid
           FROM sel)
         SELECT event_id, k, t,
                CASE WHEN bd IS NOT NULL AND (fd IS NULL OR bd <= fd)
                     THEN bpid ELSE fpid END AS near_id,
                CASE WHEN bd IS NOT NULL AND (fd IS NULL OR bd <= fd)
                     THEN bd ELSE fd END AS near_dist
         FROM dist WHERE bd IS NOT NULL OR fd IS NOT NULL""",
    // three UNION ALL branches restate the per-key outcome matrix the
    // Spark side derives from one join + explode; compare is sort-based
    "q42_scd2_merge" ->
      """WITH dim AS (
           SELECT c_custkey AS k, c_mktsegment AS seg,
                  CAST(round(c_acctbal*100) AS BIGINT) AS bal
           FROM customer),
         chg AS (
           SELECT o_custkey AS k,
                  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS newbal,
                  count(*) AS n
           FROM orders WHERE o_orderstatus = 'O' GROUP BY 1)
         SELECT d.k, d.seg, d.bal,
                CAST(1 AS BIGINT) AS version,
                CAST(CASE WHEN c.newbal IS NOT NULL AND c.newbal <> d.bal
                     THEN 0 ELSE 1 END AS BIGINT) AS is_current
         FROM dim d LEFT JOIN chg c USING (k)
         UNION ALL
         SELECT d.k, d.seg, c.newbal AS bal,
                CAST(2 AS BIGINT), CAST(1 AS BIGINT)
         FROM dim d JOIN chg c USING (k) WHERE c.newbal <> d.bal
         UNION ALL
         SELECT c.k + 10000000, 'NEW', c.newbal,
                CAST(1 AS BIGINT), CAST(1 AS BIGINT)
         FROM chg c WHERE c.n >= 3""",
    "q41_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
                coalesce(l_linestatus, 'ALL') AS status,
                CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
                count(*) AS n_rows,
                CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
                CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_cents
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus))""",
    "q34_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
                coalesce(l_linestatus, 'ALL') AS status,
                CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
                count(*) AS n_rows,
                CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
                CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_cents
         FROM lineitem
         GROUP BY CUBE(l_returnflag, l_linestatus)""",
    // same break rule, same (t, event_id) tie-broken ordering; the
    // window sum is HUGEINT in DuckDB -> CAST sid to BIGINT.
    "q35_sessionize" ->
      """WITH e AS (
           SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t
           FROM events),
         d AS (
           SELECT user_id, event_id, t,
                  CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > 86400
                       THEN 1 ELSE 0 END AS brk
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
         s AS (
           SELECT user_id, t,
                  CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
           FROM d)
         SELECT user_id, sid, count(*) AS n_events,
                min(t) AS t_start, max(t) AS t_end
         FROM s GROUP BY 1, 2""",
    // the plain selective join — the bloom pre-filter must be invisible
    // in the result (false positives die in the join, negatives never
    // existed).
    "q36_bloom_join" ->
      """SELECT count(*) AS n_items,
                CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_cents,
                count(DISTINCT o_orderkey) AS n_orders
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_orderpriority = '1-URGENT'""",
    // row_number with the same (rev desc, custkey) tie-break; decile via
    // floor division (DuckDB / on integers is float division — use //).
    "q37_global_rank" ->
      """WITH r AS (
           SELECT o_custkey,
                  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS rev_cents
           FROM orders GROUP BY 1),
         k AS (
           SELECT o_custkey, rev_cents,
                  row_number() OVER (ORDER BY rev_cents DESC, o_custkey) AS rnk,
                  count(*) OVER () AS n
           FROM r)
         SELECT o_custkey, rev_cents, CAST(rnk AS BIGINT) AS rnk,
                CAST(((rnk-1)*10)//n AS BIGINT) AS decile
         FROM k""",
    // hourly regrid per user: arg_max picks the same last-in-hour row as
    // Spark's max(struct(ord, cents)) because ord embeds the unique
    // event_id; IGNORE NULLS carries the value across empty hours.
    "q38_resample_ffill" ->
      """WITH e AS (
           SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t, event_id,
                  CAST(round(value*100) AS BIGINT) AS cents
           FROM events),
         e2 AS (
           SELECT user_id, t // 3600 AS hour,
                  t * 10000000 + event_id AS ord, cents
           FROM e),
         hourly AS (
           SELECT user_id, hour, count(*) AS n_events,
                  arg_max(cents, ord) AS last_cents
           FROM e2 GROUP BY 1, 2),
         grid AS (
           SELECT user_id, unnest(generate_series(min(hour), max(hour))) AS hour
           FROM e2 GROUP BY user_id)
         SELECT g.user_id, g.hour,
                CAST(coalesce(h.n_events, 0) AS BIGINT) AS n_events,
                last_value(h.last_cents IGNORE NULLS) OVER (
                  PARTITION BY g.user_id ORDER BY g.hour
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_cents
         FROM grid g
         LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hour = h.hour""",
    // UNION ALL melt mirrors Spark's unpivot: metric values are the
    // source column names, cents the measure in integer domain.
    "q39_melt_measures" ->
      """WITH m AS (
           SELECT 'qty' AS metric,
                  CAST(round(l_quantity*100) AS BIGINT) AS cents FROM lineitem
           UNION ALL SELECT 'price', CAST(round(l_extendedprice*100) AS BIGINT) FROM lineitem
           UNION ALL SELECT 'disc',  CAST(round(l_discount*100) AS BIGINT) FROM lineitem
           UNION ALL SELECT 'tax',   CAST(round(l_tax*100) AS BIGINT) FROM lineitem)
         SELECT metric, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents,
                min(cents) AS min_cents, max(cents) AS max_cents
         FROM m GROUP BY 1""",
    // same double-division + floor as the Spark side: both operands are
    // exact integers well under 2^53, so the IEEE quotient is identical
    // bit-for-bit and floor() agrees across engines.
    "q40_interpolate" ->
      """WITH e AS (
           SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t, event_id,
                  CAST(round(value*100) AS BIGINT) AS cents
           FROM events),
         e2 AS (
           SELECT user_id, t // 3600 AS hour,
                  t * 10000000 + event_id AS ord, cents
           FROM e),
         hourly AS (
           SELECT user_id, hour, arg_max(cents, ord) AS obs
           FROM e2 GROUP BY 1, 2),
         grid AS (
           SELECT user_id, unnest(generate_series(min(hour), max(hour))) AS hour
           FROM e2 GROUP BY user_id),
         j AS (
           SELECT g.user_id, g.hour, h.obs
           FROM grid g
           LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hour = h.hour),
         w AS (
           SELECT user_id, hour,
                  last_value(obs IGNORE NULLS) OVER back AS v0,
                  last_value(CASE WHEN obs IS NOT NULL THEN hour END IGNORE NULLS)
                    OVER back AS p0,
                  first_value(obs IGNORE NULLS) OVER fwd AS v1,
                  first_value(CASE WHEN obs IS NOT NULL THEN hour END IGNORE NULLS)
                    OVER fwd AS p1
           FROM j
           WINDOW back AS (PARTITION BY user_id ORDER BY hour
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                  fwd  AS (PARTITION BY user_id ORDER BY hour
                           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         SELECT user_id, hour,
                CASE WHEN p1 = p0 THEN v0 * 1000
                     ELSE v0 * 1000 + CAST(floor(
                       CAST((v1 - v0) * 1000 * (hour - p0) AS DOUBLE) /
                       CAST(p1 - p0 AS DOUBLE)) AS BIGINT)
                END AS interp_millicents
         FROM w""",
  )
}
