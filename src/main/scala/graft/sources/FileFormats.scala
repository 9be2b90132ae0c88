package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.core.GraftSession.withConf

/** File-format parity — SURVEY.md §2.B1.9: the reference ships protocol
  * handlers for external formats (h5py/netcdf/arrow) though its repo
  * generates inputs; the rebuild's parity surface is parquet (primary,
  * exercised by every gate query) plus csv and json round-trips.
  *
  * Round-trip shape: project to exact integer columns (doubles don't
  * survive text serialization bit-exactly), write csv/json, read back
  * with an explicit schema, aggregate. The oracle aggregates the source
  * parquet directly — equality proves the format path is lossless. */
object FileFormats {
  type Q = (SparkSession, String) => DataFrame

  private def centsOrders(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(
      col("o_orderkey"), col("o_custkey"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))

  private def profile(df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("n"),
           sum(col("cents")).as("sum_cents"),
           sum(col("o_orderkey")).as("sum_keys"),
           countDistinct(col("o_custkey")).as("n_cust"))

  /** Per-format scratch path, overwritten on every call — repeated
    * bench/verify runs reuse the same directory instead of leaking one
    * temp copy of the projection per invocation. The path carries the
    * JVM pid so concurrent runs (parallel sbt suites, bench + verify)
    * never race on one directory or read a half-overwritten copy; the
    * whole per-process tree is removed on JVM exit. Driver-local /tmp is
    * a single-JVM (local-mode) convenience; on a real cluster this would
    * be a shared-FS / object-store staging path. */
  private lazy val scratchRoot: java.nio.file.Path = {
    // Same tmpfs-aware root as spark.local.dir (GraftSession.scratchDir):
    // streaming checkpoints commit with an fsync per micro-batch, and on
    // the virtio /tmp those commits stalled 3-5× under host load (the
    // r13 st* bench spread — st08 11.3 s loaded vs 2.1 s quiet). The
    // chooser falls back to java.io.tmpdir when /dev/shm lacks headroom,
    // and SPARK_GRAFT_NO_TMPFS opts out. On a real cluster this is the
    // standard local-SSD checkpoint/scratch provisioning (durable-store
    // checkpoints for streams that must survive the node: a deployment
    // knob, not a fixture concern).
    val base = java.nio.file.Paths.get(graft.core.GraftSession.scratchDir)
    try java.nio.file.Files.createDirectories(base)
    catch { case _: Throwable => () }
    val p = base.resolve(s"graft_scratch_${ProcessHandle.current().pid()}")
    // Sweep BOTH candidate roots, not just the one this run chose: the
    // chooser re-evaluates /dev/shm headroom per process, so a crashed
    // run may have left its pid-dir under the root the current run did
    // NOT pick — that debris would otherwise accumulate forever (ADVICE
    // r14). The dead-pid check makes sweeping a foreign root safe.
    Seq(java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")),
        java.nio.file.Paths.get("/dev/shm/graft-scratch"))
      .foreach(sweepStale(_, "graft_scratch_(\\d+)".r))
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try deleteTree(p) catch { case _: Throwable => () }))
    p
  }

  /** Recursive delete, the repo's single delete-tree implementation
    * (scratch shutdown hook, stale-pid sweep, st08's sink swap). */
  private[graft] def deleteTree(p: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    if (Files.exists(p))
      scala.util.Using.resource(Files.walk(p)) { tree =>
        tree.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => Files.deleteIfExists(f))
      }
  }

  /** Shutdown hooks don't run on `kill -9` / OOM-kill, so per-pid
    * scratch dirs and bucketed-table warehouse locations from crashed
    * runs would otherwise accumulate forever in the shared tmp /
    * warehouse. Before creating our own, delete any sibling whose
    * embedded pid is no longer alive (the live-pid check makes this
    * safe against concurrent bench+verify JVMs). */
  private def sweepStale(root: java.nio.file.Path, pat: scala.util.matching.Regex): Unit =
    try {
      import java.nio.file.Files
      if (Files.isDirectory(root)) {
        scala.util.Using.resource(Files.list(root)) { listing =>
          val it = listing.iterator()
          while (it.hasNext) {
            val child = it.next()
            // catch per child: one bad entry (pid digits overflowing
            // Long, a racing delete) must not abort the sibling sweep
            try child.getFileName.toString match {
              case pat(pid) if !ProcessHandle.of(pid.toLong).map[Boolean](_.isAlive).orElse(false) =>
                deleteTree(child)
              case _ => ()
            } catch { case _: Throwable => () }
          }
        }
      }
    } catch { case _: Throwable => () }

  private[graft] def scratch(kind: String): String = s"$scratchRoot/$kind"

  /** Executor-JVM-lifetime FileSystem handle per URI scheme for blob
    * staging: `new Configuration()` parses the Hadoop XML defaults and
    * `FileSystem.newInstance` re-runs service discovery — per PARTITION
    * that was ~100 ms × tasks (measured 0.2 → 4.9 s on src09's sf0.1
    * staging). One uncached instance per scheme per JVM, write-checksums
    * off (an uncached instance so the flag never mutates the shared
    * cached FileSystem other writers use); lives for the executor's
    * lifetime like any connection pool. */
  private val blobFsCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.hadoop.fs.FileSystem]()
  private[graft] def blobFs(p: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileSystem =
    blobFsCache.computeIfAbsent(
      String.valueOf(p.toUri.getScheme) + "@" + String.valueOf(p.toUri.getAuthority),
      _ => {
        val fs = org.apache.hadoop.fs.FileSystem.newInstance(
          p.toUri, new org.apache.hadoop.conf.Configuration())
        fs.setWriteChecksum(false)
        fs
      })

  def csvRoundtrip(s: SparkSession, d: String): DataFrame = {
    val tmp = scratch("csv")
    centsOrders(s, d).write.mode("overwrite").option("header", "true").csv(tmp)
    profile(s.read.option("header", "true")
      .schema("o_orderkey LONG, o_custkey LONG, cents LONG").csv(tmp))
  }

  def jsonRoundtrip(s: SparkSession, d: String): DataFrame = {
    val tmp = scratch("json")
    centsOrders(s, d).write.mode("overwrite").json(tmp)
    profile(s.read.schema("o_orderkey LONG, o_custkey LONG, cents LONG").json(tmp))
  }

  /** ORC round-trip — the third columnar warehouse format Spark ships
    * natively (vectorized reader, predicate pushdown), same
    * write-project-read-aggregate drive as csv/json. */
  def orcRoundtrip(s: SparkSession, d: String): DataFrame = {
    val tmp = scratch("orc")
    centsOrders(s, d).write.mode("overwrite").orc(tmp)
    profile(s.read.schema("o_orderkey LONG, o_custkey LONG, cents LONG").orc(tmp))
  }

  /** Bucketed co-located join — the "shuffle once at write time, join
    * shuffle-free forever after" discipline for repeatedly-joined fact
    * tables: both sides are written bucketed on the join key (8 buckets
    * here; thousands at warehouse scale), so the sort-merge join matches
    * buckets 1:1 with NO exchange on either side (asserted in
    * BucketedJoinSpec; the only shuffle left in this query is the final
    * small aggregation). The `merge` hint keeps the demo honest at
    * fixture scale, where the optimizer would otherwise broadcast the
    * projected orders side and never exercise the bucket layout. */
  /** saveAsTable(overwrite) still refuses a managed-table location left
    * by a PREVIOUS JVM: the fresh in-memory catalog has no table entry,
    * but the warehouse directory survives on disk. Drop both the catalog
    * entry and any stale location before writing. */
  /** Resolve the warehouse dir to a local NIO path, or None when it is a
    * non-local URI (hdfs://, s3a:// — Paths.get(URI) throws
    * FileSystemNotFoundException there). Callers skip the local-FS
    * cleanup in that case: a remote warehouse can't leak local files. */
  private def localWarehousePath(wh: String): Option[java.nio.file.Path] =
    try Some(
      if (wh.contains(":/")) java.nio.file.Paths.get(new java.net.URI(wh))
      else java.nio.file.Paths.get(wh))
    catch { case _: Throwable => None }

  def dropTableAndLocation(s: SparkSession, name: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $name")
    localWarehousePath(s.conf.get("spark.sql.warehouse.dir")).foreach { whPath =>
      val dir = whPath.resolve(name)
      if (java.nio.file.Files.exists(dir))
        scala.util.Using.resource(java.nio.file.Files.walk(dir)) { tree =>
          tree.sorted(java.util.Comparator.reverseOrder())
            .forEach(f => java.nio.file.Files.deleteIfExists(f))
        }
    }
  }

  /** Bucketed table names carry the JVM pid (like [[scratchRoot]]): two
    * concurrent JVMs (bench + verify) sharing one warehouse directory
    * must never drop/rewrite each other's table location mid-read. The
    * per-process tables are dropped (catalog + location) on JVM exit. */
  private lazy val bktNames: (String, String) = {
    val pid = ProcessHandle.current().pid()
    val names = (s"graft_orders_bkt_$pid", s"graft_lineitem_bkt_$pid")
    // Reap bucketed-table locations abandoned by dead JVMs (see
    // sweepStale). Catalog entries are in-memory and die with their
    // JVM; only the warehouse directories persist.
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .foreach { sp =>
        localWarehousePath(sp.conf.get("spark.sql.warehouse.dir"))
          .foreach(sweepStale(_, "graft_.*_bkt_(\\d+)".r))
      }
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try {
        val s = org.apache.spark.sql.SparkSession.getActiveSession
          .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
        s.foreach { sp => dropTableAndLocation(sp, names._1); dropTableAndLocation(sp, names._2) }
      } catch { case _: Throwable => () }))
    names
  }

  def bucketedJoin(s: SparkSession, d: String): DataFrame = {
    val (ordersBkt, lineitemBkt) = bktNames
    dropTableAndLocation(s, ordersBkt)
    dropTableAndLocation(s, lineitemBkt)
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"))
      .write.mode("overwrite").format("parquet")
      .bucketBy(8, "o_orderkey").saveAsTable(ordersBkt)
    Tables.lineitem(s, d)
      .select(col("l_orderkey"),
              round(col("l_extendedprice") * 100).cast("long").as("cents"))
      .write.mode("overwrite").format("parquet")
      .bucketBy(8, "l_orderkey").saveAsTable(lineitemBkt)
    s.table(lineitemBkt)
      .join(s.table(ordersBkt).hint("merge"),
            col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"), sum(col("cents")).as("sum_cents"))
  }

  /** Hive-style partitioned layout + partition-pruned read — the other
    * half of the write-time-layout discipline next to [[bucketedJoin]]:
    * facts land partitioned by a low-cardinality routing column, and a
    * predicate on that column prunes whole directories at PLANNING time
    * (the scan's PartitionFilters; asserted in PartitionPruneSpec) — at
    * 100 TB a one-type query reads one partition's files, not the table.
    * The aggregate runs over the pruned scan; its oracle is the same
    * aggregate with a WHERE on the unpartitioned source, so equality
    * proves the layout round-trip is lossless AND complete. */
  def partitionedPrune(s: SparkSession, d: String): DataFrame = {
    val tmp = scratch("evpart")
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
              round(col("value") * 100).cast("long").as("cents"))
      .write.mode("overwrite").partitionBy("event_type").parquet(tmp)
    prunedAggregate(s.read.parquet(tmp))
  }

  /** The post-layout query, split out so the spec can assert pruning on
    * the executed plan. */
  private[graft] def prunedAggregate(parts: DataFrame): DataFrame =
    parts.filter(col("event_type") === "purchase")
      .agg(count(lit(1)).as("n"),
           sum(col("cents")).as("sum_cents"),
           sum(col("event_id")).as("sum_ids"),
           countDistinct(col("user_id")).as("n_users"))

  /** src12: DYNAMIC PARTITION OVERWRITE — the idempotent-backfill write
    * mode every partitioned warehouse depends on: a corrective job
    * recomputes ONE partition and `INSERT OVERWRITE`s only it, leaving
    * sibling partitions untouched (static overwrite mode would drop
    * them; append would double-count — the oracle catches both). Here
    * the 'click' partition is rewritten with doubled cents; the final
    * per-type profile proves replaced-not-appended for clicks AND
    * survival of the other four partitions. The conf flip is scoped and
    * restored, mirroring how a production job pins the mode per-write. */
  def dynamicOverwrite(s: SparkSession, d: String): DataFrame = {
    val tmp = scratch("evdynover")
    val base = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
              round(col("value") * 100).cast("long").as("cents"))
    base.write.mode("overwrite").partitionBy("event_type").parquet(tmp)
    val fixed = base.filter(col("event_type") === "click")
      .withColumn("cents", col("cents") * 2)
    withConf(s, "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
      fixed.write.mode("overwrite").partitionBy("event_type").parquet(tmp)
    }
    s.read.parquet(tmp)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
           sum(col("event_id")).as("sum_ids"))
  }

  /** The event-type dimension for [[dynamicPrune]] — the small side a
    * warehouse would keep as a dim table; inline literal rows here (the
    * fixture has no such table) so the join is fully deterministic. */
  private[graft] def typeDim(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(("click", "engagement"), ("view", "engagement"),
        ("purchase", "commerce"), ("signup", "commerce"),
        ("error", "ops")).toDF("event_type", "category")
  }

  /** src06: DYNAMIC partition pruning — the runtime half of the layout
    * discipline. src04 proves static pruning (a literal predicate on the
    * partition column); here the fact predicate exists only through a
    * join with a filtered dimension, so planning-time pruning is
    * impossible — Spark instead injects a dynamicpruningexpression into
    * the fact scan's PartitionFilters, reusing the dimension's broadcast
    * as the IN-list subquery (asserted on the executed plan in
    * PartitionPruneSpec). At 100 TB this is THE mechanism that turns
    * "join facts to this quarter's dim slice" from a full-table scan
    * into reading two partitions' directories; no query rewrite needed.
    *
    * The dim must be a real file-backed table (as in any warehouse): an
    * inline literal relation gets constant-folded by
    * ConvertToLocalRelation, the selective Filter disappears before the
    * PartitionPruning rule runs, and no DPP subquery is ever planted —
    * found the hard way, locked in by the spec. Oracle: the same
    * aggregate with the dim semantics inlined as a WHERE IN on the
    * unpartitioned source. */
  def dynamicPrune(s: SparkSession, d: String): DataFrame = {
    val tmp = scratch("evdpp")
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
              round(col("value") * 100).cast("long").as("cents"))
      .write.mode("overwrite").partitionBy("event_type").parquet(tmp)
    val dimPath = scratch("evdim")
    typeDim(s).write.mode("overwrite").parquet(dimPath)
    dppAggregate(s.read.parquet(tmp), s.read.parquet(dimPath))
  }

  /** The post-layout query, split out so the spec can assert the
    * dynamicpruningexpression on the executed plan. */
  private[graft] def dppAggregate(parts: DataFrame, dim: DataFrame): DataFrame =
    parts.join(dim.filter(col("category") === "engagement"), Seq("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("cents")).as("sum_cents"),
           sum(col("event_id")).as("sum_ids"),
           countDistinct(col("user_id")).as("n_users"))

  /** Morton/Z-order key: bit-interleave two non-negative quantized
    * dimensions (a in even bits, b in odd). Built purely from codegen'd
    * bitwise `functions` (shiftleft/shiftright/and/or folded over the
    * bit positions), so the key computation stays inside whole-stage
    * codegen — no UDF. 16 bits per dimension → 32-bit key: 65k ids ×
    * 7.5 years of hours; widen `bits` for bigger domains (up to 31/31
    * in a long). */
  private[graft] def zorder2(a: org.apache.spark.sql.Column,
                             b: org.apache.spark.sql.Column,
                             bits: Int = 16): org.apache.spark.sql.Column =
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc.bitwiseOR(shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i))
         .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }

  /** Hour quantization base for the Z-layout: epoch hour of 2024-01-01
    * (the fixture's time origin), so the interleaved dimension starts at
    * bit 0 instead of wasting the low bits on a constant offset. */
  private[graft] val HourBase = 473352L

  /** The Z-clustered copy of events: one range exchange on the Morton
    * key + an in-partition sort, then plain parquet. Every file (and row
    * group) covers a narrow contiguous z range, which maps to a small
    * tile in (user_id, hour) space — so parquet min/max stats on BOTH
    * columns become selective at once. */
  private[graft] def writeZLayout(s: SparkSession, d: String, tmp: String,
                                  files: Int): Unit =
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
              (expr("unix_timestamp(ts) div 3600") - HourBase).as("hour_off"),
              round(col("value") * 100).cast("long").as("cents"))
      .withColumn("z", zorder2(col("user_id"), col("hour_off")))
      .repartitionByRange(files, col("z"))
      .sortWithinPartitions(col("z"))
      .drop("z")
      .write.mode("overwrite").parquet(tmp)

  /** The post-layout 2-D box query, split out so ZOrderSpec can run it
    * against both layouts and assert the footer-stats skipping bound. */
  private[graft] def boxAggregate(df: DataFrame, uLo: Long, uHi: Long,
                                  hLo: Long, hHi: Long): DataFrame =
    df.filter(col("user_id").between(uLo, uHi) &&
              col("hour_off").between(hLo, hHi))
      .agg(count(lit(1)).as("n"),
           sum(col("cents")).as("sum_cents"),
           sum(col("event_id")).as("sum_ids"),
           countDistinct(col("user_id")).as("n_users"))

  /** src07: Z-ORDER clustering — multi-dimensional data layout, the
    * piece src03/src04/src06 don't cover: bucketing co-locates ONE join
    * key and partitioning prunes ONE directory column, but a fact table
    * queried by 2-D boxes (user × time here; tenant × date, geo × time
    * in the wild) needs both dimensions selective in the SAME layout.
    * Sorting by the Morton interleave gives every file/row group a
    * small (user, hour) tile, so the parquet reader's row-group stats
    * pruning skips most of the table for a box predicate on EITHER or
    * BOTH dimensions — ZOrderSpec proves it from the footers: the box
    * touches a fraction of the z-clustered files vs ALL of the
    * unsorted ones. At 100 TB this one-time range exchange at write
    * time is what keeps interactive 2-D slicing off full scans without
    * a lakehouse index. Oracle: the same box aggregate on the
    * unpartitioned source — layout must not change results. */
  def zorderSkip(s: SparkSession, d: String): DataFrame = {
    val tmp = scratch("evzorder")
    writeZLayout(s, d, tmp, files = 32)
    boxAggregate(s.read.parquet(tmp), 64, 191, 216, 263)
  }

  /** src08: SCHEMA EVOLUTION via mergeSchema — the lakehouse reality the
    * other src entries don't touch: a long-lived table's files span
    * schema generations (columns appended over months of pipeline
    * revisions), and a reader must reconcile the union of footers
    * instead of trusting file 0. Here the same table is written in two
    * generations under one root — gen1 carries (o_orderkey, cents),
    * gen2 additionally o_orderpriority — and the root is read back with
    * `mergeSchema=true`: Spark unions the footer schemas at planning
    * time and pre-evolution files surface the new column as NULL.
    * The aggregate groups on the evolved column with the NULL bucket
    * made explicit, so equality with the oracle (same split semantics
    * inlined as a CASE on the unsplit source) proves BOTH generations'
    * rows survive, land in the right buckets, and lose nothing.
    * At 100 TB: footer-schema merge is a planning-time cost on file
    * METADATA (per-file footers, no data read), which is why appending
    * a column to a petabyte table is free — the alternative, rewriting
    * every historical file, is the thing this mechanism exists to
    * avoid. */
  def mergeSchemaEvolution(s: SparkSession, d: String): DataFrame = {
    val root = scratch("evolve")
    val orders = Tables.orders(s, d).select(col("o_orderkey"),
      round(col("o_totalprice") * 100).cast("long").as("cents"),
      col("o_orderpriority"))
    orders.filter(col("o_orderkey") % 2 === 0)
      .select("o_orderkey", "cents")
      .write.mode("overwrite").parquet(s"$root/gen1")
    orders.filter(col("o_orderkey") % 2 === 1)
      .write.mode("overwrite").parquet(s"$root/gen2")
    s.read.option("mergeSchema", "true").parquet(s"$root/gen1", s"$root/gen2")
      .groupBy(coalesce(col("o_orderpriority"), lit("<pre-evolution>")).as("priority"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
           sum(col("o_orderkey")).as("sum_keys"))
  }

  /** src09: BINARY-FILE ingestion — `format("binaryFile")`, the entry
    * point a multimodal pipeline actually uses for image/audio/video
    * blobs sitting as loose objects (one file per asset) rather than
    * rows in a columnar table. Staging: executors write one `.bin` blob
    * per selected document (each partition writes its own files — the
    * object-store landing-zone shape); the read side lists the
    * directory, assembles (path, modificationTime, length, content)
    * rows, and the query derives the asset id from the file name and
    * fingerprints the bytes. Equality with the oracle (same
    * length/md5 computed from the source column) proves the bytes
    * survive the file round-trip exactly.
    *
    * At 100 TB: binaryFile scans parallelize over files (one split per
    * blob; no intra-file split), so millions of small blobs want the
    * mm06 shard-packing step after this ingest — this entry is the
    * "before" side of that pipeline. */
  def binaryFileIngest(s: SparkSession, d: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val tmp = scratch("bin")
    deleteTree(Paths.get(tmp))
    Files.createDirectories(Paths.get(tmp))
    // Executor-side staging picks the writer by the path's scheme: a
    // remote store (hdfs://, s3a://) goes through the Hadoop FS client;
    // file:// writes java.nio directly — for a multi-node cluster a
    // file:// staging root must be a shared mount, and then either
    // writer lands on it identically, while the nio path skips the
    // LocalFileSystem wrapper's ~4 ms-per-blob overhead. (The /tmp
    // scratch root here is the documented local-mode convenience — see
    // scratchRoot.)
    Tables.documents(s, d).filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"), col("text"))
      .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        val dirPath = new org.apache.hadoop.fs.Path(tmp)
        val scheme = dirPath.toUri.getScheme
        if (scheme == null || scheme == "file") {
          // local scheme: plain java.nio — the Hadoop LocalFileSystem
          // wrapper costs ~4 ms per tiny blob (measured 0.4 → 3.1 s on
          // this staging even with checksums off and a cached instance)
          rows.foreach { r =>
            Files.write(Paths.get(tmp, s"doc_${r.getLong(0)}.bin"),
              r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
        } else {
          // shared store (hdfs://, s3a://): the Hadoop FS client is the
          // only correct writer from an executor
          val fs = FileFormats.blobFs(dirPath)
          rows.foreach { r =>
            val out = fs.create(
              new org.apache.hadoop.fs.Path(dirPath, s"doc_${r.getLong(0)}.bin"), true)
            try out.write(r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
            finally out.close()
          }
        }
      }
    s.read.format("binaryFile").option("pathGlobFilter", "*.bin").load(tmp)
      .select(
        regexp_extract(col("path"), "doc_(\\d+)\\.bin", 1).cast("long").as("doc_id"),
        length(col("content")).cast("long").as("n_bytes"),
        md5(col("content")).as("digest"))
  }

  /** src10: PERMISSIVE schema-on-read with a corrupt-record column —
    * the landing-zone reality at 100 TB, where a crawl/export always
    * carries some mangled lines and FAILFAST would kill a
    * 1000-executor read for one bad byte. The staging write renders
    * every orders row as a JSON line but DELIBERATELY tears a
    * deterministic subset (o_orderkey % 7 == 3 loses everything after
    * its second field name); the read declares the schema plus
    * `_corrupt_record`, so clean lines parse into columns while torn
    * ones arrive whole in the corrupt column instead of failing the
    * job. The output aggregates both populations — clean count/sum and
    * the corrupt lines' count + order-independent md5 signature — and
    * the oracle rebuilds all four from the source table and the same
    * mod rule, proving the quarantine is exact: nothing dropped,
    * nothing misrouted, corrupt payload bytes preserved verbatim. */
  def permissiveJson(s: SparkSession, d: String): DataFrame = {
    import graft.operators.TextSim
    val tmp = scratch("pjson")
    centsOrders(s, d)
      .select(
        when(col("o_orderkey") % 7 === 3,
          concat(lit("{\"o_orderkey\":"), col("o_orderkey"),
                 lit(",\"o_custkey\":")))
        .otherwise(to_json(struct(col("o_orderkey"), col("o_custkey"),
                                  col("cents"))))
        .as("value"))
      .write.mode("overwrite").text(tmp)
    s.read
      .schema("o_orderkey LONG, o_custkey LONG, cents LONG, _corrupt_record STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(tmp)
      .agg(
        count(col("o_orderkey")).as("n_clean"),
        sum(col("cents")).as("sum_cents"),
        count(col("_corrupt_record")).as("n_corrupt"),
        sum(TextSim.h64(col("_corrupt_record")) % 1000000007L).as("corrupt_sig"))
  }

  /** src11: COMPRESSED text ingestion — the csv.gz landing-zone path
    * (crawl exports and log drops arrive gzipped far more often than
    * raw). Write with the gzip codec, read back through Spark's
    * transparent decompression with an explicit schema, aggregate.
    * The scale caveat this entry documents: gzip is NOT splittable —
    * one .gz file = one task regardless of size, so a 100 TB drop must
    * arrive as many files (this staging write produces one per
    * partition, the layout that keeps the read parallel). */
  def gzipCsvRoundtrip(s: SparkSession, d: String): DataFrame = {
    val tmp = scratch("csvgz")
    centsOrders(s, d).write.mode("overwrite")
      .option("compression", "gzip").option("header", "true").csv(tmp)
    profile(s.read.schema("o_orderkey LONG, o_custkey LONG, cents LONG")
      .option("header", "true").csv(tmp))
  }

  /** XML round-trip — Spark 4 ships the (formerly spark-xml) XML data
    * source natively; same write-project-read-aggregate drive as
    * csv/json/orc. Row-per-element layout (`rowTag`), explicit read
    * schema so attribute inference never reorders columns. XML is a
    * row-striped text format like csv here: each output part file is an
    * independent document, so the read stays parallel. */
  def xmlRoundtrip(s: SparkSession, d: String): DataFrame = {
    val tmp = scratch("xml")
    centsOrders(s, d).write.mode("overwrite")
      .option("rowTag", "order").format("xml").save(tmp)
    profile(s.read.option("rowTag", "order")
      .schema("o_orderkey LONG, o_custkey LONG, cents LONG")
      .format("xml").load(tmp))
  }

  /** CSV quoting/escaping torture round-trip — every 7th document's
    * spaces become embedded NEWLINES (the fixture text is single-line,
    * so the hostile case is staged deterministically), the case that
    * breaks naive line-split CSV pipelines. The writer quotes such
    * fields; the read back uses `multiLine` (records may span physical
    * lines, so splits are per-FILE — the known CSV trade-off; columnar
    * formats exist for a reason). Losslessness is proven by an md5
    * signature over the text bodies, recomputed by the oracle from the
    * parquet source under the same staging rule. */
  def csvMultiline(s: SparkSession, d: String): DataFrame = {
    val tmp = scratch("csvml")
    Tables.documents(s, d)
      .select(col("doc_id"),
              when(col("doc_id") % 7 === 0, translate(col("text"), " ", "\n"))
                .otherwise(col("text")).as("text"))
      .write.mode("overwrite").option("header", "true").csv(tmp)
    s.read.option("header", "true").option("multiLine", "true")
      .schema("doc_id LONG, text STRING").csv(tmp)
      .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_ids"),
           sum(conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long")
               % 1000000007L).as("text_sig"))
  }

  /** src15: HDF5 SHARD INGESTION — the reference's h5py payload surface
    * (`SS/wukong/protocol/h5py.py`, tests under
    * `SS/wukong/protocol/tests/`). Five row stripes of an LCG integer
    * matrix are written as self-describing classic-format HDF5 shards
    * (a rank-2 `data` dataset + a `row0` offset dataset, via the
    * public-spec Hdf5Lite writer) from EXECUTORS, then ingested back
    * through binaryFile → per-shard decode → DMatrix block assembly.
    * The 17-row stripes deliberately straddle the 16-row block grid, so
    * the boundary-piece merge path (not just whole-block passthrough)
    * is what the oracle checks. Oracle = the LCG in closed form —
    * exact integers end to end. */
  def hdf5Ingest(s: SparkSession, d: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val tmp = scratch("h5")
    deleteTree(Paths.get(tmp))
    Files.createDirectories(Paths.get(tmp))
    val m = 70L; val n = 40L; val stripe = 17L
    val nStripes = ((m + stripe - 1) / stripe).toInt
    // executor-side shard staging (local nio path; a shared store would
    // dispatch through blobFs exactly as src09 does)
    s.range(nStripes).foreach { k =>
      val r0 = k * stripe
      val p = math.min(stripe, m - r0).toInt
      val data = new Array[Double](p * n.toInt)
      var idx = 0
      var i = 0
      while (i < p) {
        var j = 0L
        while (j < n) {
          data(idx) = (graft.array.DMatrix.lcg(r0 + i, j, n, 77L) % 1000L).toDouble
          idx += 1; j += 1
        }
        i += 1
      }
      val bytes = Hdf5Lite.write(
        Seq(("data", Array(p.toLong, n), data),
            ("row0", Array(1L), Array(r0.toDouble))), asInt = true)
      Files.write(Paths.get(tmp, f"part-$k%03d.h5"), bytes)
      ()
    }
    graft.array.DMatrix.fromHdf5(s, tmp, "data", bs = 16).toCoords
  }

  /** src17: CHUNKED+COMPRESSED HDF5 INGESTION — the layout h5py emits
    * for any `compression="gzip"` dataset (chunked v3 class-2 layout, a
    * v1 raw-data-chunk B-tree index, shuffle+deflate filter pipeline).
    * Production scientific shards are almost always this shape, not
    * contiguous — src15 covers the uncompressed default, this covers the
    * compressed one. The 7×11 chunk grid divides NEITHER the 17-row
    * stripes nor the 40 columns, so edge-chunk zero-padding + clipping
    * and multi-chunk reassembly are what the oracle checks, through the
    * same fromStripes header-probe + decode-once path. Oracle = the LCG
    * in closed form. */
  def hdf5ChunkedIngest(s: SparkSession, d: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val tmp = scratch("h5c")
    deleteTree(Paths.get(tmp))
    Files.createDirectories(Paths.get(tmp))
    val m = 70L; val n = 40L; val stripe = 17L
    val nStripes = ((m + stripe - 1) / stripe).toInt
    s.range(nStripes).foreach { k =>
      val r0 = k * stripe
      val p = math.min(stripe, m - r0).toInt
      val data = new Array[Double](p * n.toInt)
      var idx = 0
      var i = 0
      while (i < p) {
        var j = 0L
        while (j < n) {
          data(idx) = (graft.array.DMatrix.lcg(r0 + i, j, n, 81L) % 1000L).toDouble
          idx += 1; j += 1
        }
        i += 1
      }
      val bytes = Hdf5Lite.writeChunked(
        Seq(("data", Array(p.toLong, n), data),
            ("row0", Array(1L), Array(r0.toDouble))), asInt = true, chunk = (7L, 11L))
      Files.write(Paths.get(tmp, f"part-$k%03d.h5"), bytes)
      ()
    }
    graft.array.DMatrix.fromHdf5(s, tmp, "data", bs = 16).toCoords
  }

  /** src18: ARROW IPC SHARD INGESTION — the reference's Arrow payload
    * surface (`SS/wukong/protocol/arrow.py`, the pyarrow record-batch
    * round-trip sibling of src15's h5py handler) and the modern
    * landing-zone format for staged tabular shards. Five executor-staged
    * IPC files (int64 + float64 + utf8 columns, 7-row record batches so
    * every shard exercises the multi-batch walk) are ingested back
    * through binaryFile → footer-only schema validation → per-shard
    * columnar decode ([[ArrowLite]], the public Arrow columnar format
    * via the Arrow Java library Spark already ships). Oracle = the LCG
    * in closed form — exact integers, one exact dyadic double division,
    * a derived string. */
  def arrowIngest(s: SparkSession, d: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val tmp = scratch("arrow")
    deleteTree(Paths.get(tmp))
    Files.createDirectories(Paths.get(tmp))
    val m = 83L; val stripe = 19L
    val nStripes = ((m + stripe - 1) / stripe).toInt
    s.range(nStripes).foreach { k =>
      val r0 = k * stripe
      val p = math.min(stripe, m - r0).toInt
      val ids = Array.tabulate(p)(i => r0 + i)
      val vs = ids.map(g => graft.array.DMatrix.lcg(g, 0, 1, 97L) % 100000L)
      val bytes = ArrowLite.write(Seq(
        ArrowLite.LongCol("id", ids),
        ArrowLite.LongCol("v", vs),
        ArrowLite.DoubleCol("x", vs.map(_.toDouble / 4.0)),
        ArrowLite.StringCol("s", vs.map(v => "w" + (v % 7)))), batchRows = 7)
      Files.write(Paths.get(tmp, f"part-$k%03d.arrow"), bytes)
      ()
    }
    import s.implicits._
    s.read.format("binaryFile").load(tmp)
      .select(col("content")).as[Array[Byte]]
      .flatMap { bytes =>
        // footer-only probe first: a schema-drifted shard fails loudly
        // before any batch body is mapped
        val names = ArrowLite.schemaFields(bytes).map(_._1)
        require(names == Seq("id", "v", "x", "s"),
          s"arrow shard schema drift: ${names.mkString(",")}")
        val cols = ArrowLite.read(bytes)
        val ids = cols(0).asInstanceOf[ArrowLite.LongCol].values
        val vs = cols(1).asInstanceOf[ArrowLite.LongCol].values
        val xs = cols(2).asInstanceOf[ArrowLite.DoubleCol].values
        val ss = cols(3).asInstanceOf[ArrowLite.StringCol].values
        ids.indices.map(i => (ids(i), vs(i), xs(i), ss(i)))
      }
      .toDF("id", "v", "x", "s")
  }

  /** src16: NETCDF SHARD INGESTION — the reference's netCDF4 payload
    * surface (`SS/wukong/protocol/netcdf4.py`, the sibling of src15's
    * h5py handler). Same self-describing stripe contract (`data` +
    * `row0` variables per CDF-1 shard, written big-endian by the
    * public-spec NetcdfLite writer) through the same fromStripes
    * decode-and-assemble path; 13-row stripes against the 16-row grid
    * keep the boundary merge honest. Oracle = the LCG in closed form. */
  def netcdfIngest(s: SparkSession, d: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val tmp = scratch("nc")
    deleteTree(Paths.get(tmp))
    Files.createDirectories(Paths.get(tmp))
    val m = 66L; val n = 36L; val stripe = 13L
    val nStripes = ((m + stripe - 1) / stripe).toInt
    s.range(nStripes).foreach { k =>
      val r0 = k * stripe
      val p = math.min(stripe, m - r0).toInt
      val data = new Array[Double](p * n.toInt)
      var idx = 0
      var i = 0
      while (i < p) {
        var j = 0L
        while (j < n) {
          data(idx) = (graft.array.DMatrix.lcg(r0 + i, j, n, 79L) % 1000L).toDouble
          idx += 1; j += 1
        }
        i += 1
      }
      val bytes = NetcdfLite.write(
        Seq(("data", Array(p.toLong, n), data),
            ("row0", Array(1L), Array(r0.toDouble))), asInt = true)
      Files.write(Paths.get(tmp, f"part-$k%03d.nc"), bytes)
      ()
    }
    graft.array.DMatrix.fromNetcdf(s, tmp, "data", bs = 16).toCoords
  }

  val queries: Map[String, Q] = Map(
    "src18_arrow_ingest"    -> (arrowIngest _),
    "src17_hdf5_chunked"    -> (hdf5ChunkedIngest _),
    "src16_netcdf_ingest"   -> (netcdfIngest _),
    "src15_hdf5_ingest"     -> (hdf5Ingest _),
    "src14_csv_multiline"   -> (csvMultiline _),
    "src13_xml_roundtrip"   -> (xmlRoundtrip _),
    "src12_dynamic_overwrite" -> (dynamicOverwrite _),
    "src11_gzip_csv"        -> (gzipCsvRoundtrip _),
    "src10_permissive_json" -> (permissiveJson _),
    "src01_csv_roundtrip"  -> (csvRoundtrip _),
    "src02_json_roundtrip" -> (jsonRoundtrip _),
    "src03_bucketed_join"  -> (bucketedJoin _),
    "src04_partition_prune" -> (partitionedPrune _),
    "src05_orc_roundtrip"  -> (orcRoundtrip _),
    "src06_dynamic_prune"  -> (dynamicPrune _),
    "src07_zorder_skip"    -> (zorderSkip _),
    "src08_schema_evolve"  -> (mergeSchemaEvolution _),
    "src09_binaryfile"     -> (binaryFileIngest _),
  )

  private val oracle =
    """SELECT count(*) AS n,
              CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS sum_cents,
              CAST(sum(o_orderkey) AS BIGINT) AS sum_keys,
              count(DISTINCT o_custkey) AS n_cust
       FROM orders"""

  val oracles: Map[String, String] = Map(
    // the shared LCG in closed form — the IPC round-trip moved data,
    // never values; x is an exact dyadic division, s a derived string
    "src18_arrow_ingest" ->
      """WITH r AS (SELECT range AS id FROM range(83)),
              v AS (SELECT id, (id*1103515245+97)%2147483647%100000 AS vv FROM r)
         SELECT id, CAST(vv AS BIGINT) AS v, CAST(vv AS DOUBLE)/4.0 AS x,
                'w' || CAST(vv%7 AS VARCHAR) AS s
         FROM v""",
    // the shared LCG in closed form — decompress/reassemble moved data,
    // never values
    "src17_hdf5_chunked" ->
      """SELECT ri.range AS i, rj.range AS j,
                CAST(((ri.range*40+rj.range)*1103515245+81)%2147483647%1000 AS DOUBLE) AS v
         FROM range(70) ri, range(40) rj""",
    // the shared LCG in closed form — the ingest moved data, never values
    "src16_netcdf_ingest" ->
      """SELECT ri.range AS i, rj.range AS j,
                CAST(((ri.range*36+rj.range)*1103515245+79)%2147483647%1000 AS DOUBLE) AS v
         FROM range(66) ri, range(36) rj""",
    // the shared LCG in closed form — the ingest moved data, never values
    "src15_hdf5_ingest" ->
      """SELECT ri.range AS i, rj.range AS j,
                CAST(((ri.range*40+rj.range)*1103515245+77)%2147483647%1000 AS DOUBLE) AS v
         FROM range(70) ri, range(40) rj""",
    // replaced-not-appended for clicks (cents doubled once), untouched
    // siblings — static overwrite or append would both hash-mismatch
    "src12_dynamic_overwrite" ->
      """WITH e AS (SELECT event_id, event_type,
                           CAST(round(value*100) AS BIGINT) AS cents
                    FROM events),
         merged AS (SELECT event_id, event_type, cents FROM e
                    WHERE event_type <> 'click'
                    UNION ALL
                    SELECT event_id, event_type, cents * 2 AS cents FROM e
                    WHERE event_type = 'click')
         SELECT event_type, count(*) AS n,
                CAST(sum(cents) AS BIGINT) AS sum_cents,
                CAST(sum(event_id) AS BIGINT) AS sum_ids
         FROM merged GROUP BY 1""",
    // clean/corrupt populations rebuilt from the source by the same
    // mod-7 rule; the corrupt signature re-renders the torn line text
    "src10_permissive_json" ->
      """WITH o AS (SELECT o_orderkey, o_custkey,
                           CAST(round(o_totalprice*100) AS BIGINT) AS cents
                    FROM orders)
         SELECT CAST(count(*) FILTER (o_orderkey % 7 <> 3) AS BIGINT) AS n_clean,
                CAST(sum(cents) FILTER (o_orderkey % 7 <> 3) AS BIGINT) AS sum_cents,
                CAST(count(*) FILTER (o_orderkey % 7 = 3) AS BIGINT) AS n_corrupt,
                CAST(sum((('0x'||substr(md5(
                       '{"o_orderkey":' || o_orderkey || ',"o_custkey":'),
                     1,15))::BIGINT) % 1000000007)
                   FILTER (o_orderkey % 7 = 3) AS BIGINT) AS corrupt_sig
         FROM o""",
    "src01_csv_roundtrip"  -> oracle,
    "src13_xml_roundtrip"  -> oracle,
    // signature recomputed over the parquet source under the same
    // newline staging — equality proves the quoted/multiline CSV path
    // is lossless
    "src14_csv_multiline" ->
      """WITH t AS (SELECT doc_id,
                           CASE WHEN doc_id % 7 = 0
                                THEN replace(text, ' ', chr(10))
                                ELSE text END AS text
                    FROM documents)
         SELECT count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS sum_ids,
                CAST(sum(('0x' || substr(md5(text), 1, 15))::BIGINT % 1000000007)
                     AS BIGINT) AS text_sig
         FROM t""",
    "src11_gzip_csv"       -> oracle,
    "src02_json_roundtrip" -> oracle,
    "src05_orc_roundtrip"  -> oracle,
    "src03_bucketed_join" ->
      """SELECT o_orderpriority, count(*) AS n_items,
                CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_cents
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1""",
    "src04_partition_prune" ->
      """SELECT count(*) AS n,
                CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents,
                CAST(sum(event_id) AS BIGINT) AS sum_ids,
                count(DISTINCT user_id) AS n_users
         FROM events WHERE event_type = 'purchase'""",
    "src06_dynamic_prune" ->
      """SELECT count(*) AS n,
                CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents,
                CAST(sum(event_id) AS BIGINT) AS sum_ids,
                count(DISTINCT user_id) AS n_users
         FROM events WHERE event_type IN ('click', 'view')""",
    // the generation split (even keys = gen1, pre-evolution) inlined as
    // a CASE on the unsplit source
    "src08_schema_evolve" ->
      """SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority
                     ELSE '<pre-evolution>' END AS priority,
                count(*) AS n,
                CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS sum_cents,
                CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
         FROM orders GROUP BY 1""",
    // byte length + md5 recomputed from the source column: the file
    // round-trip must preserve the UTF-8 bytes exactly
    "src09_binaryfile" ->
      """SELECT doc_id,
                CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                md5(text) AS digest
         FROM documents WHERE doc_id % 7 = 0""",
    // same 2-D box on the unpartitioned source; 473352 = epoch hour of
    // 2024-01-01, the layout's quantization base.
    "src07_zorder_skip" ->
      """SELECT count(*) AS n,
                CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents,
                CAST(sum(event_id) AS BIGINT) AS sum_ids,
                count(DISTINCT user_id) AS n_users
         FROM events
         WHERE user_id BETWEEN 64 AND 191
           AND CAST(floor(epoch(ts)) AS BIGINT) // 3600 - 473352 BETWEEN 216 AND 263""",
  )
}
