package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout,
  OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}
import graft.core.GraftSession.withConf
import graft.core.Tables
import graft.sources.FileFormats.scratch

/** Structured Streaming surface — SURVEY.md §2.B6 stretch capability
  * (the reference has no streaming subsystem; its closest constructs are
  * iterative jobs + Redis pub/sub control channels). These operators are
  * the streaming forms of the batch event pipeline (q17), built the
  * Spark-native way: event-time watermarks + tumbling windows, and
  * `mapGroupsWithState` for custom per-key state.
  *
  * Works identically on a `readStream` source (kafka/files at scale) or
  * a MemoryStream in tests — the plan is source-agnostic.
  */
object Streams {

  /** Tumbling-window per-type counts with an event-time watermark: late
    * events beyond `watermarkDelay` are dropped, state for closed
    * windows is evicted — bounded state at any stream length. */
  def windowedCounts(events: DataFrame,
                     windowDur: String = "1 day",
                     watermarkDelay: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowDur).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           round(sum(col("value")), 2).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
              col("n_events"), col("sum_value"))

  final case class UserState(nEvents: Long, totalValue: Double)
  final case class UserUpdate(userId: Long, nEvents: Long, totalValue: Double)

  /** Custom keyed state via mapGroupsWithState: a running per-user
    * profile that survives across micro-batches. Pass an idle timeout to
    * evict inactive users (bounded state at unbounded key cardinality);
    * note a processing-time timeout makes Spark schedule wake-up batches
    * continuously, so tests use idleTimeoutMs = None. */
  def runningUserProfiles(events: Dataset[(Long, Double)],
                          idleTimeoutMs: Option[Long] = Some(3600000L)): Dataset[UserUpdate] = {
    import events.sparkSession.implicits._
    val timeoutConf = if (idleTimeoutMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
                      else GroupStateTimeout.NoTimeout
    events.groupByKey(_._1)
      .mapGroupsWithState[UserState, UserUpdate](timeoutConf) {
        (userId: Long, batch: Iterator[(Long, Double)], state: GroupState[UserState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            UserUpdate(userId, st.nEvents, st.totalValue)
          } else {
            val prev = state.getOption.getOrElse(UserState(0L, 0.0))
            var n = prev.nEvents; var tot = prev.totalValue
            batch.foreach { case (_, v) => n += 1; tot += v }
            val next = UserState(n, tot)
            state.update(next)
            idleTimeoutMs.foreach(state.setTimeoutDuration)
            UserUpdate(userId, n, tot)
          }
      }
  }

  /** Streaming append-mode output mode used by the window pipeline. */
  val AppendMode: OutputMode = OutputMode.Append()

  final case class SessionState(start: Long, lastTs: Long, nEvents: Long)
  final case class ClosedSession(userId: Long, startTs: Long, endTs: Long,
                                 nEvents: Long, durationSec: Long)

  /** Order-independent gap-interval merge: folds a group's events (any
    * arrival order) into session FRAGMENTS — maximal runs whose internal
    * inter-event gaps are all ≤ gapSec, pairwise separated by > gapSec.
    * This is exactly event-level sessionization (sessions are the
    * connected components of the "within gap" relation on sorted events,
    * and interval-with-gap merging computes those components regardless
    * of insertion order), WITHOUT materializing or sorting the batch:
    * memory is O(#fragments), i.e. one entry per eventual session plus
    * one per interleaved sorted run — never O(#events). A hot user's
    * million-event backfill batch costs a TreeMap of its session count.
    *
    * (A `sortWithinPartitions` pre-pass is NOT available here: Spark's
    * UnsupportedOperationChecker rejects any Sort — local included — on
    * streaming Datasets, and post-shuffle run interleaving would defeat
    * a map-side sort anyway. Order independence is the stronger fix.)
    *
    * Returned map: start → (end, nEvents), keys ascending. */
  private[streaming] def mergeRuns(events: Iterator[Long], gapSec: Long)
      : scala.collection.mutable.TreeMap[Long, (Long, Long)] = {
    val frags = scala.collection.mutable.TreeMap.empty[Long, (Long, Long)]
    events.foreach { t =>
      var s = t; var e = t; var n = 1L
      // connect to the nearest fragment at or before t (ps <= t, so the
      // backward reach ps >= t - gap is implied by t <= pe + gap or t <= pe)
      frags.rangeTo(t).lastOption match {
        case Some((ps, (pe, pn))) if t <= pe + gapSec =>
          s = ps; e = math.max(pe, t); n = pn + 1L; frags.remove(ps)
        case _ => ()
      }
      // the new/merged fragment may now bridge to the next one; fragments
      // are pairwise > gap apart, so at most ONE successor can connect
      frags.minAfter(t + 1L) match {
        case Some((ss, (se, sn))) if ss <= e + gapSec =>
          e = math.max(e, se); n += sn; frags.remove(ss)
        case _ => ()
      }
      frags(s) = (e, n)
    }
    frags
  }

  /** Event-time sessionization via `flatMapGroupsWithState` — the
    * 0..n-rows-per-group shape `mapGroupsWithState` cannot express: a
    * user's events extend one session while inter-event gaps stay under
    * `gapSec`; an event past the gap EMITS the closed session row and
    * opens a new one. State per key is one (start, last, count) triple —
    * bounded regardless of stream length.
    *
    * Within a micro-batch, events fold through [[mergeRuns]] — arrival-
    * order-independent and O(#sessions) memory (no per-group buffer of
    * the raw batch). ACROSS batches a late RUN older than the folded
    * frontier cannot reorder history: it merges into the open session
    * (count only, start/lastTs never rewind below the frontier) when it
    * reaches the session's span within gap, and drops entirely when its
    * whole extent lies before start − gap — the watermark-style late
    * policy, asserted in StreamingSpec. For fully watermark-driven
    * closure (idle sessions flushing without a successor event) see
    * [[sessionWindows]], the native-operator production shape. */
  def sessionize(events: Dataset[(Long, Long)],
                 gapSec: Long = 1800L): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[(Long, Long)], state: GroupState[SessionState]) =>
          val frags = mergeRuns(batch.map(_._2), gapSec)
          var closed = List.empty[ClosedSession]
          var st = state.getOption.orNull
          frags.foreach { case (fs, (fe, fn)) =>
            st match {
              case null =>
                st = SessionState(fs, fe, fn)
              case s if fe < s.start - gapSec =>
                // whole run is older than the open session's reach: drop
                ()
              case s if fs <= s.lastTs + gapSec =>
                // run connects/overlaps the open session: count its events;
                // never rewind start below the already-emitted frontier
                st = SessionState(s.start, math.max(s.lastTs, fe), s.nEvents + fn)
              case s =>
                closed ::= ClosedSession(userId, s.start, s.lastTs, s.nEvents,
                                         s.lastTs - s.start)
                st = SessionState(fs, fe, fn)
            }
          }
          if (st != null) state.update(st)
          closed.reverse.iterator
      }
  }

  /** Production-shape sessionization: Spark's NATIVE `session_window`
    * aggregation — per-session state lives in the state store (no
    * per-user event buffering anywhere), merges are watermark-driven,
    * and append-mode emission happens exactly when the watermark passes
    * a session's close boundary — including each user's FINAL session,
    * which [[sessionize]]'s data-driven closure necessarily holds open.
    * Late events beyond the watermark are dropped by the engine. */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes",
                     watermarkDelay: String = "0 seconds"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      // NOTE: no pre-aggregation sentinel filter here — a predicate that
      // doesn't touch the event-time column gets PUSHED BELOW the
      // EventTimeWatermark node, silently excluding sentinel heartbeats
      // from watermark tracking; filter sentinel *sessions* from the
      // output instead (they group under their own key).
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"),
           min(unix_timestamp(col("ts"))).as("start_ts"),
           max(unix_timestamp(col("ts"))).as("end_ts"))
      .select(col("user_id"), col("start_ts"), col("end_ts"), col("n_events"),
              (col("end_ts") - col("start_ts")).as("duration_sec"))

  // ---- the fixture drive ----

  private val runSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** 4 state partitions: the conf every drive starts under. */
  private val StatePartitions = "spark.sql.shuffle.partitions" -> "4"
  /** No trailing no-data micro-batch: st07's drive. */
  private[graft] val NoDataBatchOff = "spark.sql.streaming.noDataMicroBatches.enabled" -> "false"
  /** The RocksDB state store: st11's drive. */
  private[graft] val RocksDb = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Drives one finite fixture stream to its end: starts `w` under
    * `Trigger.AvailableNow` with [[StatePartitions]] and `confs` set, and
    * waits until every file its source saw at start has been processed.
    * Every streaming entry runs its query here.
    *
    *  - Conf capture. A query copies the session conf into its own
    *    session at `start()`, so the confs are set only while it starts.
    *    Its micro-batches, and a `foreachBatch` body (which runs in the
    *    stream's session), keep them; staging and result jobs run at
    *    session defaults, and the shared conf changes only for the length
    *    of `start()`.
    *  - 4 state partitions. A stateful operator keeps one state store per
    *    shuffle partition, and every micro-batch pays a fixed cost per
    *    store (snapshot, commit, task scheduling) whatever its row count.
    *    At fixture scale that cost dominated the streaming suite (~23 s
    *    across st03/05/07/09, round 9). The count is a per-query
    *    deployment knob: it is baked into the checkpoint, and a production
    *    stream sizes it to the cluster.
    *  - [[NoDataBatchOff]], st07 only. A no-data batch lets an advanced
    *    watermark evict state and emit watermark-gated rows. An
    *    append-mode inner interval join emits its whole pair set from data
    *    batches alone, so for st07 that batch was pure latency (0.9–1.3 s
    *    of `durationMs`; −0.7..−1.3 s in a paired subset bench, identical
    *    rows). The other drives keep the default, each for a measured
    *    reason (r16): st03 and st09 emit from that batch (session flush,
    *    outer-join null extension); the complete-mode drives (st01, st06,
    *    st12) and the un-watermarked ones never schedule it; the staged
    *    `maxFilesPerTrigger` drives (st05, st08, st10, st11) measured
    *    slower without it. An unbounded stream always has a next data
    *    batch, so the knob only matters to finite drains.
    *  - [[RocksDb]], st11 only: `transformWithState` requires it; every
    *    other drive keeps the session's default store.
    *
    * The query is stopped on every exit, so a failed or interrupted drive
    * leaves no active query. A failed micro-batch surfaces as the
    * `StreamingQueryException` that `awaitTermination` throws. */
  private[graft] def drive(s: SparkSession, w: DataStreamWriter[_],
                           confs: (String, String)*): Unit = {
    val q = withConf(s, StatePartitions +: confs: _*)(w.trigger(Trigger.AvailableNow()).start())
    try q.awaitTermination() finally q.stop()
  }

  /** Drives `ds` into a memory sink in output mode `mode` and returns its
    * rows. Spark registers a temp view per memory sink, which would keep
    * the rows in memory until the JVM exits; the returned frame is
    * bound before that view is dropped and reads the sink directly. */
  private[graft] def drain(ds: Dataset[_], mode: String, confs: (String, String)*): DataFrame = {
    val s = ds.sparkSession
    val sink = s"graft_st_sink_${runSeq.incrementAndGet()}"
    try {
      drive(s, ds.writeStream.format("memory").queryName(sink).outputMode(mode), confs: _*)
      s.table(sink)
    } finally s.catalog.dropTempView(sink)
  }

  /** Returns a maker of file-source streams over fixture table `table`
    * under `d`: each stream's one micro-batch is the table's one parquet
    * file, with `ts`, where present, normalized as the batch loader does.
    * The schema is read once; each call is a source of its own (st07 and
    * st09 join two). */
  private def fixture(s: SparkSession, d: String, table: String): () => DataFrame = {
    val schema = Tables.schemaOf(s, s"$d/$table.parquet")
    () => {
      val src = s.readStream.schema(schema).option("pathGlobFilter", s"$table.parquet").parquet(d)
      if (schema.fieldNames.contains("ts")) Tables.normalizeTs(src) else src
    }
  }

  /** Moves the one parquet file under `from` into `dir` as micro-batch
    * `idx` of a file-source stream. The source orders files by
    * (modTime, path), so both are pinned. */
  private def place(from: String, dir: String, idx: Int): Unit = {
    val part = new java.io.File(from).listFiles().filter(_.getName.endsWith(".parquet")).head
    val target = Paths.get(dir, f"f$idx%02d.parquet")
    Files.createDirectories(target.getParent)
    Files.move(part.toPath, target, StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(target, FileTime.fromMillis(1700000000000L + idx * 60000L))
  }

  /** Writes `df` as one parquet file and places it in `dir` as
    * micro-batch `idx`. */
  private def stage(df: DataFrame, dir: String, idx: Int): Unit = {
    val tmp = s"${dir}_stage"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    place(tmp, dir, idx)
  }

  // ---- the st entries ----

  /** st01: the streaming path end-to-end against the events fixture —
    * `readStream` (file source) → watermark + tumbling day windows →
    * memory sink, checked against the same SQL as the batch q17
    * pipeline. Complete output mode because a finite fixture never
    * advances the watermark past its last window (append mode would hold
    * the tail windows back forever); on an unbounded production stream
    * the same plan runs in append mode with watermark-driven state
    * eviction. */
  def streamedEventCounts(s: SparkSession, d: String): DataFrame = {
    val counts = windowedCounts(fixture(s, d, "events")())
      .select(date_format(col("window_start"), "yyyy-MM-dd").as("day"),
              col("event_type"), col("n_events"), col("sum_value"))
    drain(counts, "complete")
  }

  /** st12: SLIDING (hopping) windows — the one event-time window shape
    * the rest of the suite lacks: length 2 days, slide 1 day, so every
    * event belongs to exactly TWO overlapping windows. Structured
    * Streaming implements this by expanding each row to its window set
    * before the keyed aggregation (the state grows with windows-per-
    * event × keys, which is why the slide ratio — not the event rate —
    * is the state knob at 100 TB). Same complete-mode drain and
    * watermark as st01; the oracle mirrors the expansion as a UNION ALL
    * of the two day-aligned window starts. */
  def streamedSlidingCounts(s: SparkSession, d: String): DataFrame = {
    val counts = fixture(s, d, "events")()
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "2 days", "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           round(sum(col("value")), 2).as("sum_value"))
      .select(unix_timestamp(col("w.start")).as("wstart"),
              col("event_type"), col("n_events"), col("sum_value"))
    drain(counts, "complete")
  }

  /** st02: sessionization end-to-end on the streaming path — the events
    * fixture drained through `flatMapGroupsWithState`, emitting every
    * gap-closed session. The oracle reconstructs sessions in SQL (lag >
    * gap marks a boundary, running sum numbers the sessions) and drops
    * each user's final session, which the stream correctly holds open. */
  def streamedSessions(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = fixture(s, d, "events")().select(col("user_id"),
        unix_timestamp(col("ts")).cast("long")).as[(Long, Long)]
    drain(sessionize(ev, 1800L)
      .toDF("user_id", "start_ts", "end_ts", "n_events", "duration_sec"), "append")
  }

  /** st03: native-session_window sessionization end-to-end, with every
    * session FLUSHED — the watermark-driven closure st02's oracle must
    * exclude. A finite fixture never advances the watermark past its
    * last event on its own, so the staging step appends one far-future
    * sentinel heartbeat event (user_id = −1, ts = max + gap + margin) —
    * the standard backfill-flush trick: the sentinel advances the
    * watermark past every real session's close boundary, the engine
    * emits them all in the trailing no-data batch, and the sentinel
    * itself is filtered out after the watermark node. Oracle: full
    * session reconstruction INCLUDING each user's final session. */
  def streamedSessionsFlushed(s: SparkSession, d: String): DataFrame = {
    val batch = graft.core.Tables.events(s, d)
    // floor to whole seconds: the oracle sessionizes over floor(epoch(ts)),
    // and native session_window merges on raw event time — grain must match
    val ev = batch.select(col("user_id").cast("long").as("user_id"),
      timestamp_seconds(unix_timestamp(col("ts"))).as("ts"))
    val dir = scratch(s"st03_src_${runSeq.incrementAndGet()}")
    ev.write.mode("overwrite").parquet(dir)
    val maxTs = ev.agg(max(unix_timestamp(col("ts")))).head().getLong(0)
    ev.sparkSession.range(1)
      .select(lit(-1L).as("user_id"),
              timestamp_seconds(lit(maxTs + 1800L + 600L)).as("ts"))
      .write.mode("append").parquet(dir)
    val src = s.readStream.schema("user_id LONG, ts TIMESTAMP").parquet(dir)
    drain(sessionWindows(src, "30 minutes"), "append")
      .filter(col("user_id") >= 0)   // drop the sentinel's own session
  }

  /** st04: streaming ingestion-dedup — the streaming form of the t05
    * exact-dedup pipeline: fingerprint each arriving document, keep the
    * first occurrence of every fingerprint across ALL micro-batches
    * (state = seen 16-byte digests, exactly the production shape of
    * dedup-at-ingest). Emitted SET of fingerprints is deterministic
    * regardless of arrival order, so it oracle-checks as DISTINCT md5.
    * Unbounded-history dedup holds state forever by design here; a
    * time-bounded production variant swaps in
    * `dropDuplicatesWithinWatermark` — same plan shape, evictable
    * state. */
  def streamedDedup(s: SparkSession, d: String): DataFrame =
    drain(fixture(s, d, "documents")()
      .select(graft.operators.TextOps.fingerprint(col("text")).as("fp"))
      .dropDuplicates("fp"), "append")

  /** st05: WATERMARK-BOUNDED streaming dedup — the production variant
    * st04's unbounded-history design deliberately leaves out:
    * `dropDuplicatesWithinWatermark` keeps a fingerprint's state only
    * until the watermark passes its event time + delay, so dedup state is
    * evictable at any stream length (the 100 TB shape: state ∝ the
    * horizon's traffic, not all history).
    *
    * The fixture drive stages single-file micro-batches (file source,
    * maxFilesPerTrigger=1, mod-times pin the order) exercising BOTH
    * sides of the horizon deterministically:
    *  - batch 1: every distinct doc fingerprint at T0 → all emit;
    *  - batch 2: the same fingerprints at T0+700 — the watermark is still
    *    T0+500−600 < T0, state is live → all DROPPED; plus one heartbeat
    *    row whose T0+100000 event time advances the watermark past every
    *    fingerprint's expiry;
    *  - batch 3: a second heartbeat only. State eviction runs at the END
    *    of a batch (input rows are matched against pre-eviction state),
    *    so the expired fingerprints are actually removed while this
    *    spacer batch runs under the now-advanced watermark;
    *  - batch 4: the same fingerprints again at T0+200000 — state was
    *    evicted → all emit AGAIN.
    * Output: each fingerprint at epoch T0 and T0+200000, heartbeat once —
    * closed-form from `documents`, so the horizon behavior itself is
    * hash-checked against the oracle. */
  def streamedDedupBounded(s: SparkSession, d: String): DataFrame = {
    val T0 = 1700000000L
    val fps = Tables(s, d, "documents")
      .select(graft.operators.TextOps.fingerprint(col("text")).as("fp"))
      .distinct()
    val dir = scratch(s"st05_src_${runSeq.incrementAndGet()}")
    stage(fps.select(col("fp"), timestamp_seconds(lit(T0)).as("ts")), dir, 0)
    stage(fps.select(col("fp"), timestamp_seconds(lit(T0 + 700L)).as("ts"))
      .unionAll(s.range(1).select(lit("heartbeat").as("fp"),
        timestamp_seconds(lit(T0 + 100000L)).as("ts"))), dir, 1)
    stage(s.range(1).select(lit("heartbeat").as("fp"),
      timestamp_seconds(lit(T0 + 100001L)).as("ts")), dir, 2)
    stage(fps.select(col("fp"), timestamp_seconds(lit(T0 + 200000L)).as("ts")), dir, 3)
    val src = s.readStream.schema("fp STRING, ts TIMESTAMP")
      .option("maxFilesPerTrigger", "1").parquet(dir)
    drain(src.withWatermark("ts", "600 seconds")
      .dropDuplicatesWithinWatermark("fp")
      .select(col("fp"), unix_timestamp(col("ts")).as("epoch")), "append")
  }

  type Q = (SparkSession, String) => DataFrame

  /** st06: stream-static enrichment — the canonical streaming dimension
    * join behind every clickstream pipeline: the event stream joins the
    * static customer dimension, then windows by day × market segment.
    * Stream-static inner joins are STATELESS in Structured Streaming —
    * each micro-batch joins against the dim snapshot, no state store.
    * The customer dim grows with the input, so it carries no broadcast
    * hint: the planner broadcasts it while its scan is under
    * `spark.sql.autoBroadcastJoinThreshold` and shuffles both sides
    * above it. Same complete-mode drain as st01. */
  def streamedEnriched(s: SparkSession, d: String): DataFrame = {
    val dim = Tables(s, d, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val enriched = fixture(s, d, "events")()
      .withWatermark("ts", "1 hour")
      .join(dim, col("user_id") === col("c_custkey"))
      .groupBy(window(col("ts"), "1 day").as("w"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"),
           round(sum(col("value")), 2).as("sum_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd").as("day"),
              col("c_mktsegment"), col("n_events"), col("sum_value"))
    drain(enriched, "complete")
  }

  /** Clicks and purchases of the events fixture as two watermarked
    * streams, the sides of st07's and st09's interval joins. */
  private def clicksAndPurchases(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val events = fixture(s, d, "events")
    val clicks = events().filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
              col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = events().filter(col("event_type") === "purchase")
      .select(col("event_id").as("purch_id"), col("user_id").as("purch_user"),
              col("ts").as("purch_ts"), col("value"))
      .withWatermark("purch_ts", "1 hour")
    (clicks, purchases)
  }

  /** A purchase within an hour after a click by the same user. */
  private val withinHour = col("click_user") === col("purch_user") &&
    col("purch_ts") >= col("click_ts") &&
    col("purch_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR")

  /** st07: stream-stream INTERVAL join — the attribution shape behind
    * every "purchase within an hour of a click" pipeline: two live
    * streams (clicks, purchases, both derived from the events source)
    * joined on user with a time-range predicate. Both sides carry
    * watermarks and the range condition bounds the join state: the
    * engine can evict click state once the purchase watermark passes
    * click_ts + 1 h and purchase state once the click watermark passes
    * purch_ts — without the range bound a stream-stream join buffers
    * forever, which is the 100 TB failure mode this entry pins down.
    * Inner join, so the finite AvailableNow drain emits the complete
    * pair set regardless of watermark timing; the oracle is the plain
    * batch self-join. */
  def streamedAttribution(s: SparkSession, d: String): DataFrame = {
    val (clicks, purchases) = clicksAndPurchases(s, d)
    drain(clicks.join(purchases, withinHour)
      .select(col("click_id"), col("purch_id"),
              col("click_user").as("user_id"),
              round(col("value"), 2).as("purch_value")), "append", NoDataBatchOff)
  }

  /** st09: stream-stream LEFT OUTER interval join — st07's attribution
    * with the half every funnel analysis also needs: clicks that led to
    * NO purchase within the hour. Outer results cannot emit eagerly (a
    * match may still arrive), so the engine holds each click in state
    * until the global watermark — min(click wm, purchase wm), each
    * max(event time) − 1 h — passes the end of its match window
    * (click_ts + 1 h); only then is the null-extended row emitted and
    * the state evicted. That watermark-gated emission is exactly what
    * the oracle encodes: matched pairs unconditionally, unmatched
    * clicks only where click_ts + 1 h < min-side max(ts) − 1 h — the
    * same final-watermark contract st02's straggler policy pins for
    * sessions (clicks past the cutoff stay in state when the finite
    * AvailableNow drain terminates, matched ones having already
    * emitted from the inner path). The no-data final micro-batch
    * (noDataMicroBatches, on by default) is what flushes the evictable
    * outer rows before termination. */
  def streamedAttributionOuter(s: SparkSession, d: String): DataFrame = {
    val (clicks, purchases) = clicksAndPurchases(s, d)
    drain(clicks.join(purchases, withinHour, "left_outer")
      .select(col("click_id"), col("click_user").as("user_id"),
              col("purch_id"), round(col("value"), 2).as("purch_value")), "append")
  }

  /** st08: `foreachBatch` idempotent UPSERT sink — the programmatic
    * merge-into-table pattern behind every streaming warehouse load:
    * each micro-batch merges into a parquet target by key (union +
    * keep-one-per-event_id), written via temp-dir-and-rename-swap (old
    * state parked under `_prev` until the new version is renamed in,
    * and restored from there on re-entry) so a crashed batch can re-run
    * without corrupting or losing the target. Batches are staged
    * with OVERLAPPING key sets (every batch re-ships the event_id%3==0
    * slice), so the merge genuinely deduplicates across batches — the
    * final table profile equals the batch-dedup oracle only if the
    * upsert is idempotent. maxFilesPerTrigger=1 forces one batch per
    * staged file. */
  def streamedUpsert(s: SparkSession, d: String): DataFrame = {
    val batch0 = graft.core.Tables.events(s, d)
    val purch = batch0.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
              round(col("value") * 100).cast("long").as("cents"))
    val run = runSeq.incrementAndGet()
    val srcDir = scratch(s"st08_src_$run")
    // overlapping slices — %3==0 rows appear in EVERY batch — staged in
    // ONE routed job: each row explodes to the batch indices that must
    // carry it and the write partitions by batch (batch 0 = %3<=1,
    // batch 1 = %3!=1, batch 2 = %3!=2). partitionBy drops the routing
    // column from the data files, so the staged schema is unchanged.
    val routed = purch.withColumn("b", explode(
      when(col("event_id") % 3 === 0, array(lit(0), lit(1), lit(2)))
        .when(col("event_id") % 3 === 1, array(lit(0), lit(2)))
        .otherwise(array(lit(1)))))
    val stageTmp = scratch(s"st08_stage_$run")
    routed.coalesce(1).write.partitionBy("b").mode("overwrite").parquet(stageTmp)
    (0 to 2).foreach(idx => place(s"$stageTmp/b=$idx", srcDir, idx))
    val tgt = scratch(s"st08_tgt_$run")
    val src = s.readStream.schema("event_id LONG, user_id LONG, cents LONG")
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    drive(s, src.writeStream.foreachBatch { (b: DataFrame, _: Long) =>
      val sp = b.sparkSession
      val (tgtP, prevP, swapP) =
        (Paths.get(tgt), Paths.get(tgt + "_prev"), Paths.get(tgt + "_next"))
      // crash recovery: a previous batch that died between the two
      // renames below left the state under _prev — restore it before
      // reading, so a re-driven batch never merges against an empty
      // table and silently drops earlier batches' rows
      if (!Files.exists(tgtP) && Files.exists(prevP))
        Files.move(prevP, tgtP)
      val cur =
        if (Files.exists(tgtP)) sp.read.parquet(tgt) else b.limit(0)
      val merged = cur.unionByName(b)
        .groupBy(col("event_id"))
        .agg(min(col("user_id")).as("user_id"), min(col("cents")).as("cents"))
      graft.sources.FileFormats.deleteTree(swapP)
      merged.write.mode("overwrite").parquet(swapP.toString)
      // swap via two same-fs renames, never delete-then-move: the old
      // state survives under _prev until the new version is in place,
      // and the recovery above covers a crash in the rename window
      graft.sources.FileFormats.deleteTree(prevP)
      if (Files.exists(tgtP)) Files.move(tgtP, prevP)
      Files.move(swapP, tgtP, StandardCopyOption.ATOMIC_MOVE)
      graft.sources.FileFormats.deleteTree(prevP)
      ()
    })
    s.read.parquet(tgt)
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_ids"),
           sum(col("cents")).as("sum_cents"),
           countDistinct(col("user_id")).as("n_users"))
  }

  /** st10: CHECKPOINT-RESUMED incremental ingest — the restartability
    * half of exactly-once that st08 (idempotent sink) doesn't cover: a
    * file-source stream drains with `Trigger.AvailableNow` into a
    * parquet sink, STOPS, new files land, and a SECOND run against the
    * SAME checkpoint resumes from the committed offset log — processing
    * only the new generation, never re-reading the old one. This is the
    * production incremental-ETL loop (cron-driven AvailableNow runs): at
    * 100 TB/day the guarantee that a restart costs one generation, not a
    * re-scan of history, is the whole point of the checkpoint.
    *
    * Proof is in the oracle equality: generation 1 = even event_ids,
    * generation 2 = odd — if run 2 re-processed gen 1 the sink doubles
    * those rows (hash mismatch); if the resume missed gen 2 the counts
    * fall short. The parquet sink's own `_spark_metadata` commit log
    * makes the read-back exactly-once too. StreamingSpec additionally
    * pins run 2's numInputRows to exactly the gen-2 row count. */
  def streamedIncrementalResume(s: SparkSession, d: String): DataFrame = {
    val run = runSeq.incrementAndGet()
    val srcDir = scratch(s"st10_src_$run")
    val ckpt = scratch(s"st10_ckpt_$run")
    val outDir = scratch(s"st10_out_$run")
    val ev = graft.core.Tables.events(s, d)
      .select(col("event_id"), col("event_type"),
              round(col("value") * 100).cast("long").as("cents"))
    def resume(): Unit = drive(s, s.readStream
      .schema("event_id LONG, event_type STRING, cents LONG")
      .parquet(srcDir)
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode("append"))
    stage(ev.filter(col("event_id") % 2 === 0), srcDir, 0)
    resume()
    stage(ev.filter(col("event_id") % 2 === 1), srcDir, 1)
    resume()                     // same checkpoint: resumes past gen 1
    s.read.parquet(outDir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
           sum(col("event_id")).as("sum_ids"))
  }

  final case class SpendProfile(userId: Long, n: Long, sumCents: Long, maxCents: Long)

  /** The st11 processor: a per-user running spend profile in ONE typed
    * ValueState handle. state-v2 gives named, individually-typed state
    * primitives (value/list/map + TTL + timers) instead of
    * mapGroupsWithState's single opaque blob — this is the minimal
    * value-state shape; st02/st03 keep exercising the blob API. */
  class SpendProcessor extends StatefulProcessor[Long, (Long, Long), SpendProfile] {
    @transient private var st: ValueState[(Long, Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long, Long)]("profile",
        org.apache.spark.sql.Encoders.product[(Long, Long, Long)], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
                                 tv: TimerValues): Iterator[SpendProfile] = {
      var (n, sum, mx) = if (st.exists()) st.get() else (0L, 0L, Long.MinValue)
      rows.foreach { case (_, c) => n += 1; sum += c; mx = math.max(mx, c) }
      st.update((n, sum, mx))
      Iterator.single(SpendProfile(key, n, sum, mx))
    }
  }

  /** st11: arbitrary stateful processing via `transformWithState` —
    * Spark 4's state-v2 successor to mapGroupsWithState (typed per-key
    * state handles over the RocksDB store). The drive stages the events
    * fixture as TWO deterministic micro-batches (event_id parity split,
    * maxFilesPerTrigger=1, mod-times pin the order) so the ValueState
    * genuinely carries across batches: each batch emits the key's
    * updated profile, and the LAST update per user — selected by the
    * monotone event count — must equal the plain batch aggregate over
    * all events, which is exactly what the oracle computes. */
  def streamedTransformState(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables(s, d, "events")
      .select(col("event_id"), col("user_id"),
              round(col("value") * 100).cast("long").as("cents"))
    val dir = scratch(s"st11_src_${runSeq.incrementAndGet()}")
    stage(ev.filter(col("event_id") % 2 === 0), dir, 0)
    stage(ev.filter(col("event_id") % 2 === 1), dir, 1)
    val src = s.readStream.schema("event_id BIGINT, user_id BIGINT, cents BIGINT")
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val updates = src.select(col("user_id"), col("cents")).as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new SpendProcessor, TimeMode.None(), OutputMode.Append())
    drain(updates, "append", RocksDb).groupBy(col("userId").as("user_id"))
      .agg(max(struct(col("n"), col("sumCents"), col("maxCents"))).as("m"))
      .select(col("user_id"), col("m.n").as("n_events"),
              col("m.sumCents").as("sum_cents"), col("m.maxCents").as("max_cents"))
  }

  val queries: Map[String, Q] = Map(
    "st01_stream_window" -> (streamedEventCounts _),
    "st02_sessions"      -> (streamedSessions _),
    "st03_sessions_flush" -> (streamedSessionsFlushed _),
    "st04_stream_dedup"  -> (streamedDedup _),
    "st05_dedup_bounded" -> (streamedDedupBounded _),
    "st06_stream_enrich" -> (streamedEnriched _),
    "st07_stream_join"   -> (streamedAttribution _),
    "st08_upsert_sink"   -> (streamedUpsert _),
    "st09_stream_outer"  -> (streamedAttributionOuter _),
    "st10_incremental_resume" -> (streamedIncrementalResume _),
    "st11_transform_state" -> (streamedTransformState _),
    "st12_sliding_window" -> (streamedSlidingCounts _),
    "st13_stream_blobs"  -> (streamedBlobIngest _),
  )

  /** st13: STREAMING BINARY-BLOB INGESTION — the multimodal landing
    * zone (src09/mm01) as a stream: blobs land in a directory, a
    * binaryFile file-source stream picks them up in arrival batches
    * (`maxFilesPerTrigger=10` → three micro-batches over 30 staged
    * assets), each batch decodes the payload header map-only (the mm01
    * stub codec: width/height from the first four bytes) and a
    * complete-mode aggregate accumulates the corpus profile across
    * batches. This is the continuous-ingest half of the multimodal
    * surface: at 100 TB/day the landing bucket IS a stream, and the
    * blob bytes must stay map-side in every micro-batch exactly as
    * they do in batch mode — only (id, meta) reach the state store.
    * Payloads are the deterministic mm01 LCG assets, so the oracle is
    * the decode in closed form. */
  def streamedBlobIngest(s: SparkSession, d: String): DataFrame = {
    val dir = scratch(s"st13_blobs_${runSeq.incrementAndGet()}")
    Files.createDirectories(Paths.get(dir))
    // stage 30 assets as individual blob files (executor-side, the
    // src09 local-scheme path), the directory's only files; mtimes pin
    // a deterministic batch order
    s.range(30).foreach { i =>
      val len = 64 + (i % 32).toInt
      val bytes = Array.tabulate(len)(t =>
        (((i * 64L + t) * 1103515245L + 99L) % 2147483647L % 256L).toByte)
      val p = Paths.get(dir, f"asset_$i%03d.bin")
      Files.write(p, bytes)
      Files.setLastModifiedTime(p, FileTime.fromMillis(1700000000000L + i * 1000L))
      ()
    }
    val src = s.readStream.format("binaryFile")
      .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
      .option("maxFilesPerTrigger", "10")
      .load(dir)
    val decoded = src.select(
      regexp_extract(col("path"), "asset_(\\d+)\\.bin", 1).cast("long").as("asset_id"),
      (conv(hex(substring(col("content"), 1, 1)), 16, 10).cast("long") * 256 +
       conv(hex(substring(col("content"), 2, 1)), 16, 10).cast("long")).as("width"),
      (conv(hex(substring(col("content"), 3, 1)), 16, 10).cast("long") * 256 +
       conv(hex(substring(col("content"), 4, 1)), 16, 10).cast("long")).as("height"),
      col("length").as("n_bytes"))
    drain(decoded.agg(
      count(lit(1)).as("n_assets"), sum(col("asset_id")).as("sum_ids"),
      sum(col("width")).as("sum_w"), sum(col("height")).as("sum_h"),
      sum(col("n_bytes")).as("sum_bytes")), "complete")
  }


  val oracles: Map[String, String] = Map(
    // the staged-blob decode in closed form: byte t of asset i is
    // (i*64+t)*lcg mod 256, header = b0..b3, length = 64 + i%32
    "st13_stream_blobs" ->
      """WITH b AS (
           SELECT range AS i,
                  (range*64+0)*1103515245+99 AS h0, (range*64+1)*1103515245+99 AS h1,
                  (range*64+2)*1103515245+99 AS h2, (range*64+3)*1103515245+99 AS h3
           FROM range(30)),
         d AS (SELECT i,
                      (h0%2147483647%256)*256 + (h1%2147483647%256) AS w,
                      (h2%2147483647%256)*256 + (h3%2147483647%256) AS h,
                      64 + i%32 AS len
               FROM b)
         SELECT count(*) AS n_assets, CAST(sum(i) AS BIGINT) AS sum_ids,
                CAST(sum(w) AS BIGINT) AS sum_w, CAST(sum(h) AS BIGINT) AS sum_h,
                CAST(sum(len) AS BIGINT) AS sum_bytes
         FROM d""",
    // the final per-user ValueState must equal the all-history aggregate
    "st11_transform_state" ->
      """SELECT user_id, count(*) AS n_events,
                CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents,
                CAST(max(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS max_cents
         FROM events GROUP BY 1""",
    // doubled gen-1 rows (re-processing) or missing gen-2 rows (failed
    // resume) both break this equality
    "st10_incremental_resume" ->
      """SELECT event_type, count(*) AS n,
                CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents,
                CAST(sum(event_id) AS BIGINT) AS sum_ids
         FROM events GROUP BY 1""",
    "st01_stream_window" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
                count(*) AS n_events, round(sum(value), 2) AS sum_value
         FROM events GROUP BY 1, 2""",
    // each event expands to its two day-aligned 2-day windows — the same
    // row expansion the streaming engine performs before aggregating
    "st12_sliding_window" ->
      """WITH e AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS t,
                           event_type, value
                    FROM events),
         x AS (SELECT (t // 86400) * 86400 AS wstart, event_type, value FROM e
               UNION ALL
               SELECT ((t // 86400) - 1) * 86400 AS wstart, event_type, value FROM e)
         SELECT wstart, event_type, count(*) AS n_events,
                round(sum(value), 2) AS sum_value
         FROM x GROUP BY 1, 2""",
    "st06_stream_enrich" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, c_mktsegment,
                count(*) AS n_events, round(sum(value), 2) AS sum_value
         FROM events JOIN customer ON user_id = c_custkey
         GROUP BY 1, 2""",
    "st07_stream_join" ->
      """SELECT c.event_id AS click_id, p.event_id AS purch_id,
                c.user_id AS user_id, round(p.value, 2) AS purch_value
         FROM events c
         JOIN events p ON p.user_id = c.user_id
          AND c.event_type = 'click' AND p.event_type = 'purchase'
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR""",
    // matched pairs emit unconditionally; unmatched clicks only once the
    // global watermark — min of the two per-stream max(ts) − 1 h — has
    // passed the end of their match window (click_ts + 1 h). Later
    // unmatched clicks are still buffered in join state when the finite
    // drain terminates, exactly like the engine.
    "st09_stream_outer" ->
      """WITH c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
                    FROM events WHERE event_type = 'click'),
         p AS (SELECT event_id AS purch_id, user_id AS p_user, ts AS purch_ts, value
               FROM events WHERE event_type = 'purchase'),
         wm AS (SELECT least((SELECT max(ts) FROM events WHERE event_type = 'click'),
                             (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
                       - INTERVAL 1 HOUR AS w),
         j AS (SELECT c.click_id, c.user_id, c.click_ts,
                      p.purch_id, round(p.value, 2) AS purch_value
               FROM c LEFT JOIN p ON p.p_user = c.user_id
                AND p.purch_ts >= c.click_ts
                AND p.purch_ts <= c.click_ts + INTERVAL 1 HOUR)
         SELECT click_id, user_id, purch_id, purch_value
         FROM j, wm
         WHERE purch_id IS NOT NULL OR click_ts + INTERVAL 1 HOUR < wm.w""",
    "st08_upsert_sink" ->
      """SELECT count(*) AS n,
                CAST(sum(event_id) AS BIGINT) AS sum_ids,
                CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents,
                count(DISTINCT user_id) AS n_users
         FROM events WHERE event_type = 'purchase'""",
    "st02_sessions" ->
      """WITH e AS (
           SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events),
         m AS (
           SELECT user_id, t,
                  CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > 1800
                       THEN 1 ELSE 0 END AS new_s
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
         sess AS (
           SELECT user_id, t,
                  sum(new_s) OVER (PARTITION BY user_id ORDER BY t
                                   ROWS UNBOUNDED PRECEDING) AS sid
           FROM m),
         agg AS (
           SELECT user_id, sid, min(t) AS start_ts, max(t) AS end_ts,
                  count(*) AS n_events, max(t) - min(t) AS duration_sec
           FROM sess GROUP BY 1, 2)
         SELECT user_id, start_ts, end_ts, n_events, duration_sec
         FROM agg QUALIFY sid < max(sid) OVER (PARTITION BY user_id)""",
    "st03_sessions_flush" ->
      """WITH e AS (
           SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events),
         m AS (
           SELECT user_id, t,
                  -- native session_window MERGES adjacent windows (its
                  -- merge test is start <= currentEnd, inclusive), so a
                  -- gap of exactly 1800s continues the session; splits
                  -- happen only at diff > gap — verified at sf0.1, where
                  -- an exact-1800 pair exists (user 511)
                  CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > 1800
                       THEN 1 ELSE 0 END AS new_s
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
         sess AS (
           SELECT user_id, t,
                  sum(new_s) OVER (PARTITION BY user_id ORDER BY t
                                   ROWS UNBOUNDED PRECEDING) AS sid
           FROM m)
         SELECT user_id, min(t) AS start_ts, max(t) AS end_ts,
                count(*) AS n_events, max(t) - min(t) AS duration_sec
         FROM sess GROUP BY user_id, sid""",
    "st04_stream_dedup" ->
      """SELECT DISTINCT md5(trim(regexp_replace(lower(text),'\s+',' ','g'))) AS fp
         FROM documents""",
    "st05_dedup_bounded" ->
      """WITH f AS (
           SELECT DISTINCT md5(trim(regexp_replace(lower(text),'\s+',' ','g'))) AS fp
           FROM documents)
         SELECT fp, CAST(1700000000 AS BIGINT) AS epoch FROM f
         UNION ALL
         SELECT fp, CAST(1700200000 AS BIGINT) AS epoch FROM f
         UNION ALL
         SELECT 'heartbeat' AS fp, CAST(1700100000 AS BIGINT) AS epoch""",
  )
}
