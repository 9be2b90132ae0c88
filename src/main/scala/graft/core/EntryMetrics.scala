package graft.core

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-entry runtime breakdown (SURVEY §2A A19): the rebuild's analog of
  * the reference's per-task execution records — `TaskExecutionBreakdown` /
  * `LambdaExecutionBreakdown` in `TE/wukong_metrics.py:1-320`, which the
  * scheduler ingests per task (`SS/wukong/scheduler.py:4164-4435`) to
  * explain where a job's wall time went. Here the unit of account is the
  * benchmark ENTRY. One recorder listens on all three buses: the Spark bus
  * (jobs, stages), the session's `QueryExecutionListener` (Catalyst phases,
  * and executed plans while a [[capture]] asks for them) and its
  * `StreamingQueryListener` (micro-batch phases).
  *
  * Events arrive asynchronously, so live "current entry" tagging would
  * misattribute any event that lands after the entry returns. Instead the
  * caller records wall-clock WINDOWS (entry name, start, end) around each
  * rep, every event is buffered at its start time, and attribution joins
  * the two after [[drain]] — entries run sequentially, so windows are
  * disjoint and the join is exact. Memory is O(stages + jobs + queries +
  * batches), no per-task state (Spark sums task metrics into `StageInfo`). */
final class EntryMetrics private (spark: SparkSession)
    extends SparkListener with QueryExecutionListener {
  import EntryMetrics._

  // listener-bus threads write, the caller reads after drain()
  private val jobs = new ConcurrentHashMap[Int, (Long, Long)]()   // id -> (start, end)
  private val stages = new ConcurrentLinkedQueue[Stage]()
  private val events = new ConcurrentLinkedQueue[(Long, Breakdown)]()   // queries, batches
  private val windows = new ConcurrentLinkedQueue[Window]()
  private val runsStarted = ConcurrentHashMap.newKeySet[java.util.UUID]()
  private val runsEnded = ConcurrentHashMap.newKeySet[java.util.UUID]()
  @volatile private var plans: ConcurrentLinkedQueue[SparkPlan] = null

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.put(e.jobId, (e.time, Long.MaxValue)): Unit

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.computeIfPresent(e.jobId, (_, j) => (j._1, e.time)): Unit

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    if (m != null) stages.add(Stage(si.stageId, si.name, si.submissionTime.getOrElse(-1L),
      (for { a <- si.submissionTime; b <- si.completionTime } yield b - a).getOrElse(-1L),
      Breakdown(stages = 1, tasks = si.numTasks, runMs = m.executorRunTime, gcMs = m.jvmGCTime,
        shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
        fetchWaitMs = m.shuffleReadMetrics.fetchWaitTime,
        shuffleWriteMs = m.shuffleWriteMetrics.writeTime / 1000000L,
        spillMemBytes = m.memoryBytesSpilled, spillDiskBytes = m.diskBytesSpilled,
        inputBytes = m.inputMetrics.bytesRead, peakMemBytes = m.peakExecutionMemory))): Unit
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).fold(0L)(_.durationMs)
    events.add((ph.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis()),
      Breakdown(sqlQueries = 1, analysisMs = ms("analysis"),
        optimizationMs = ms("optimization"), planningMs = ms("planning"))))
    hold(qe)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = hold(qe)

  private def hold(qe: QueryExecution): Unit = Option(plans).foreach(_.add(qe.executedPlan))

  private val streamListener = new StreamingQueryListener {
    // called synchronously by the thread that starts the query
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      runsStarted.add(e.runId): Unit
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def ms(k: String): Long = Option(p.durationMs.get(k)).fold(0L)(_.longValue)
      events.add((java.time.Instant.parse(p.timestamp).toEpochMilli,
        Breakdown(batches = 1, batchPlanMs = ms("queryPlanning"), addBatchMs = ms("addBatch"),
          commitMs = ms("walCommit") + ms("commitOffsets")))): Unit
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      runsEnded.add(e.runId): Unit
  }

  /** Runs `body` as one rep of `name`: its result, its wall seconds, and a
    * window recorded even when `body` throws, with the codegen compiles
    * that ran in it (they run synchronously, inside the jobs and planning
    * the body waits for). A full GC runs first, OUTSIDE
    * the timed region: earlier reps leave checkpoint blocks / broadcasts
    * that only the ContextCleaner reclaims, and it only runs on driver GC —
    * without this, late reps pay accumulated cleanup debt (measured ~10×
    * inflation on the final bench queries vs their isolated cost). */
  def timed[T](name: String)(body: => T): (T, Double) = {
    System.gc()
    val (c0, cMs0) = codegenTotals()
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try { val out = body; (out, (System.nanoTime() - t0) / 1e9) }
    finally {
      val w1 = System.currentTimeMillis()
      val (c1, cMs1) = codegenTotals()
      windows.add(Window(name, w0, w1, c1 - c0, math.max(0.0, cMs1 - cMs0))): Unit
    }
  }

  /** The codegen compiles of each rep of `name`, in start order. */
  def compiles(name: String): Seq[Long] =
    windows.asScala.filter(_.name == name).toSeq.sortBy(_.startMs).map(_.compiles)

  /** Waits until every event posted before this call has been delivered,
    * or throws after `timeoutMs` (a silent give-up would under-report).
    * The Spark bus and the execution listener share one queue: once a
    * marker job's end arrives, every earlier event on it has. Streaming
    * events have their own queue, where a query's terminated event follows
    * its last progress: every query seen starting must be seen ending, or
    * still be running. */
  def drain(timeoutMs: Long = 30000L): Unit = {
    val marker = spark.sparkContext.parallelize(Seq(0), 1).countAsync()
    scala.concurrent.Await.ready(marker, scala.concurrent.duration.Duration.Inf)
    val markerId = marker.jobIds.head
    def delivered: Boolean = Option(jobs.get(markerId)).exists(_._2 != Long.MaxValue) && {
      val running = spark.streams.active.map(_.runId).toSet
      runsStarted.asScala.forall(r => runsEnded.contains(r) || running(r))
    }
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!delivered) {
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(s"listener events not delivered within $timeoutMs ms")
      Thread.sleep(5)
    }
  }

  /** Runs `body` and returns its result with the executed plan of every SQL
    * execution that ended during it, in the order they ended: the plans
    * they ran, AQE's query stages included — not the initial plan a
    * `DataFrame`'s own `queryExecution` shows after a write ran it. Plans
    * are held only for this call: an executed plan pins its broadcasts. */
  def capture[T](body: => T): (T, Seq[SparkPlan]) = {
    drain()   // executions that ended before the call stay out
    val held = new ConcurrentLinkedQueue[SparkPlan]()
    plans = held
    try {
      val out = body
      drain()
      (out, held.asScala.toSeq)
    } finally plans = null
  }

  /** Join every event to the window that covers its start time and
    * aggregate. Events outside every window (session setup, drain
    * markers, warmup) land under "_other" (summed; with no window, its
    * job-busy and driver-gap times are 0). Per entry, the reported
    * breakdown is the BEST rep's — the shortest window — not a sum across
    * reps: summing made gc_sec accumulate every loaded rep and outlier
    * re-run (r15 VERDICT #4: a16 gc_sec read 100.3 s while its wall fell),
    * and the best rep is the one the recorded wall time comes closest to.
    * Each entry also carries that rep's index among its windows in start
    * order (0 = first rep; -1 for "_other"). */
  def selected: Map[String, (Int, Breakdown)] = {
    val ws = windows.asScala.toVector.sortBy(_.startMs)
    def owner(t: Long): Int = ws.indexWhere(w => t >= w.startMs && t < w.endMs)
    val jobsBy = jobs.values.asScala.toVector.groupBy(j => owner(j._1))
    val recsBy = (stages.asScala.map(s => (s.submittedMs, s.b)) ++ events.asScala).toVector
      .groupBy(r => owner(r._1))
    def at(i: Int): Breakdown = {
      val js = jobsBy.getOrElse(i, Vector.empty)
      val sum = recsBy.getOrElse(i, Vector.empty).map(_._2).foldLeft(Breakdown())(_ + _)
      if (i < 0) sum.copy(jobs = js.size)
      else {
        val w = ws(i)
        val (busy, gap) = driverGap((w.startMs.toDouble, w.endMs.toDouble),
                                    js.map { case (s, e) => (s.toDouble, e.toDouble) })
        sum.copy(jobs = js.size, jobBusyMs = busy, driverGapMs = gap,
                 codegenCompiles = w.compiles, codegenMs = w.compileMs)
      }
    }
    val perEntry = ws.indices.groupBy(i => ws(i).name).map { case (name, reps) =>
      val best = reps.minBy(i => ws(i).endMs - ws(i).startMs)
      name -> (reps.indexOf(best), at(best))
    }
    perEntry + ("_other" -> (-1, at(-1)))
  }

  /** [[selected]] without the rep indices. */
  def breakdowns: Map[String, Breakdown] = selected.map { case (k, (_, b)) => k -> b }

  /** The stages of `name`'s best rep (the window [[selected]] picks), in
    * stage-id order. */
  def stageProfile(name: String): Seq[Stage] =
    windows.asScala.filter(_.name == name).minByOption(w => w.endMs - w.startMs).toSeq.flatMap { w =>
      stages.asScala.filter(s => s.submittedMs >= w.startMs && s.submittedMs < w.endMs).toSeq.sortBy(_.id)
    }

  /** One JSON object per entry, seconds/MB units, sorted by key — the
    * file the bench writes next to bench_out.json. */
  def toJson(extra: Map[String, String]): String = {
    def mb(b: Long) = f"${b / 1e6}%.2f"
    def sec(ms: Double) = f"${ms / 1e3}%.3f"
    val entries = selected.toSeq.sortBy(_._1).map { case (k, (rep, b)) =>
      s"${jstr(k)}:{" +
        s""""rep":$rep,"jobs":${b.jobs},"stages":${b.stages},"tasks":${b.tasks},""" +
        s""""run_sec":${sec(b.runMs)},"gc_sec":${sec(b.gcMs)},""" +
        s""""shuffle_read_mb":${mb(b.shuffleReadBytes)},"shuffle_write_mb":${mb(b.shuffleWriteBytes)},""" +
        s""""fetch_wait_sec":${sec(b.fetchWaitMs)},"shuffle_write_sec":${sec(b.shuffleWriteMs)},""" +
        s""""spill_mem_mb":${mb(b.spillMemBytes)},"spill_disk_mb":${mb(b.spillDiskBytes)},""" +
        s""""input_mb":${mb(b.inputBytes)},"peak_mem_mb":${mb(b.peakMemBytes)},""" +
        s""""job_busy_sec":${sec(b.jobBusyMs)},"driver_gap_sec":${sec(b.driverGapMs)},""" +
        f""""parallelism":${b.parallelism}%.2f,"sql_queries":${b.sqlQueries},""" +
        s""""analysis_sec":${sec(b.analysisMs)},"optimization_sec":${sec(b.optimizationMs)},""" +
        s""""planning_sec":${sec(b.planningMs)},"batches":${b.batches},""" +
        s""""batch_plan_sec":${sec(b.batchPlanMs)},"add_batch_sec":${sec(b.addBatchMs)},""" +
        s""""commit_sec":${sec(b.commitMs)},"codegen_compiles":${b.codegenCompiles},""" +
        s""""codegen_sec":${sec(b.codegenMs)}}"""
    }.mkString(",")
    val head = extra.toSeq.sortBy(_._1).map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString(",")
    // empty extra must not leave a leading comma (invalid JSON)
    Seq(head, s"\"entries\":{$entries}").filter(_.nonEmpty).mkString("{", ",", "}")
  }
}

object EntryMetrics {

  /** A new recorder, listening on `spark`'s Spark bus, execution listener
    * and streaming listener. */
  def attach(spark: SparkSession): EntryMetrics = {
    val m = new EntryMetrics(spark)
    spark.sparkContext.addSparkListener(m)
    spark.listenerManager.register(m)
    spark.streams.addListener(m.streamListener)
    m
  }

  /** One timed rep: its entry, wall-clock bounds and codegen work. */
  private final case class Window(name: String, startMs: Long, endMs: Long,
                                  compiles: Long, compileMs: Double)

  /** Codegen compiles so far in this JVM and their summed milliseconds,
    * from Spark's `CodegenMetrics` compilation-time histogram. The count
    * is exact; the sum is too while the histogram's reservoir still holds
    * every sample (its first 1,028), and past that it is the count times
    * the mean of the samples it keeps. */
  private[graft] def codegenTotals(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val n = h.getCount
    val kept = h.getSnapshot.getValues
    (n, if (kept.isEmpty) 0.0 else kept.sum.toDouble * n / kept.length)
  }

  /** What a window (or one event) cost. Each field means what its
    * counterpart in perfbench/metrics.py means: `jobBusyMs` is the union
    * of the window's job intervals clipped to it, `driverGapMs` the rest
    * of the window, the Catalyst and batch fields sum the SQL executions
    * and micro-batches that started in it (commit = walCommit +
    * commitOffsets); the codegen fields are the window's compiles and
    * their milliseconds (0 for events outside every window). */
  final case class Breakdown(
      jobs: Int = 0, stages: Int = 0, tasks: Int = 0, runMs: Long = 0L, gcMs: Long = 0L,
      shuffleReadBytes: Long = 0L, shuffleWriteBytes: Long = 0L, fetchWaitMs: Long = 0L,
      shuffleWriteMs: Long = 0L, spillMemBytes: Long = 0L, spillDiskBytes: Long = 0L,
      inputBytes: Long = 0L, peakMemBytes: Long = 0L, jobBusyMs: Double = 0.0, driverGapMs: Double = 0.0,
      sqlQueries: Int = 0, analysisMs: Long = 0L, optimizationMs: Long = 0L, planningMs: Long = 0L,
      batches: Int = 0, batchPlanMs: Long = 0L, addBatchMs: Long = 0L, commitMs: Long = 0L,
      codegenCompiles: Long = 0L, codegenMs: Double = 0.0) {
    def +(o: Breakdown): Breakdown = Breakdown(
      jobs + o.jobs, stages + o.stages, tasks + o.tasks, runMs + o.runMs, gcMs + o.gcMs,
      shuffleReadBytes + o.shuffleReadBytes, shuffleWriteBytes + o.shuffleWriteBytes,
      fetchWaitMs + o.fetchWaitMs, shuffleWriteMs + o.shuffleWriteMs,
      spillMemBytes + o.spillMemBytes, spillDiskBytes + o.spillDiskBytes, inputBytes + o.inputBytes,
      // peak is a per-stage pressure indicator: the worst stage, never a sum
      math.max(peakMemBytes, o.peakMemBytes), jobBusyMs + o.jobBusyMs, driverGapMs + o.driverGapMs,
      sqlQueries + o.sqlQueries, analysisMs + o.analysisMs, optimizationMs + o.optimizationMs,
      planningMs + o.planningMs, batches + o.batches, batchPlanMs + o.batchPlanMs,
      addBatchMs + o.addBatchMs, commitMs + o.commitMs,
      codegenCompiles + o.codegenCompiles, codegenMs + o.codegenMs)

    /** Executor run time per second of job-busy time (`spark.parallelism`). */
    def parallelism: Double = if (jobBusyMs > 0) runMs / jobBusyMs else 0.0
  }

  /** One completed stage: its id, callsite name, submission time, wall
    * time (submission to completion) and metrics. */
  final case class Stage(id: Int, name: String, submittedMs: Long, wallMs: Long, b: Breakdown)

  /** Length of the union of [start, end) intervals, clipped to [lo, hi)
    * (perfbench's `union_length`). */
  def unionLength(intervals: Seq[(Double, Double)],
                  lo: Double = Double.NegativeInfinity,
                  hi: Double = Double.PositiveInfinity): Double =
    intervals.map { case (s, e) => (s max lo, e min hi) }.filter { case (s, e) => e > s }.sorted
      .foldLeft(List.empty[(Double, Double)]) {
        case ((cs, ce) :: rest, (s, e)) if s <= ce => (cs, ce max e) :: rest
        case (merged, i) => i :: merged
      }.map { case (s, e) => e - s }.sum

  /** (job-busy, driver-gap) of a window: the union of the job intervals
    * inside it, and the rest of the window, when no Spark job ran
    * (perfbench's `driver_gap`). */
  def driverGap(window: (Double, Double), jobs: Seq[(Double, Double)]): (Double, Double) = {
    val busy = unionLength(jobs, window._1, window._2)
    (busy, (window._2 - window._1) - busy)
  }

  /** The final plan under an executed plan: the first adaptive plan's
    * current (after execution: final) physical plan, or `p` itself when
    * AQE did not wrap it. A captured write's plan loses its write node. */
  def finalPlan(p: SparkPlan): SparkPlan =
    p.collectFirst { case a: AdaptiveSparkPlanExec => a.executedPlan }.getOrElse(p)

  /** `s` as a JSON string literal. */
  def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
