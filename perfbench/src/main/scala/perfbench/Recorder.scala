package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Everything the benchmark observes, kept in memory and written once as
  * JSON when the run ends; run.py turns it into metrics.
  *
  * Times are epoch milliseconds (as doubles, from one nanoTime origin) so
  * harness spans line up with the epoch-ms timestamps Spark puts on its
  * listener events. Spans are opened only on the harness thread, so they
  * nest strictly and a layer's self time is its span minus its children.
  *
  * Untraced runs keep only the pass and request spans (needed for the
  * end-to-end metrics); traced runs also keep the layer spans and attach
  * the Spark, Catalyst and streaming listeners. */
final class Recorder(val traced: Boolean) {
  private val originNano = System.nanoTime()
  private val originMs = System.currentTimeMillis().toDouble
  def nowMs: Double = originMs + (System.nanoTime() - originNano) / 1e6

  final case class Span(id: Int, parent: Int, name: String, req: Int,
                        start: Double, var end: Double = -1)
  private val spans = ArrayBuffer[Span]()
  private var open: List[Span] = Nil
  private var requestId = -1

  /** Always-recorded spans: the pass and request boundaries. */
  private val structural = Set("pass", "request")

  def span[T](name: String)(body: => T): T =
    if (!traced && !structural(name)) body
    else {
      if (name == "request") requestId += 1
      val s = Span(spans.size, open.headOption.fold(-1)(_.id), name,
        if (open.isEmpty && name != "request") -1 else requestId, nowMs)
      spans += s
      open = s :: open
      try body finally { s.end = nowMs; open = open.tail }
    }

  // ---- JVM counters, read synchronously at pass boundaries -------------
  final case class Jvm(gcMs: Long, gcCount: Long, jitMs: Long, cpuMs: Double, stealMs: Double)
  def jvm(): Jvm = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val jit = ManagementFactory.getCompilationMXBean
    val cpuNs = ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }
    Jvm(gcs.map(_.getCollectionTime).sum, gcs.map(_.getCollectionCount).sum,
      if (jit != null && jit.isCompilationTimeMonitoringSupported) jit.getTotalCompilationTime else 0L,
      cpuNs / 1e6, stealMs())
  }
  /** CPU time the hypervisor gave to other guests while this machine's
    * CPUs wanted to run, summed over CPUs (/proc/stat, 10 ms ticks); 0
    * where the file is missing. */
  private def stealMs(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map(_.trim.split("\\s+")(8).toDouble * 10).getOrElse(0.0)
      finally src.close()
    } catch { case _: Exception => 0.0 }
  /** Heap in use after full collections: what the previous requests left
    * live (caches, broadcasts, pinned frames). The pause between the two
    * collections lets Spark's ContextCleaner release what the first one
    * found unreachable. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  // ---- listener state (listener-bus threads write, harness reads) ------
  private val jobs = new ConcurrentLinkedQueue[String]()
  private val stages = new ConcurrentLinkedQueue[String]()
  private val failedTasks = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val queries = new ConcurrentLinkedQueue[String]()
  private val batches = new ConcurrentLinkedQueue[String]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
  @volatile private var lastStageSubmitMs = 0L

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStarts.put(e.jobId, (e.time, e.stageIds.mkString("[", ",", "]")))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { case (start, stageIds) =>
        jobs.add(s"""{"id":${e.jobId},"start":$start,"end":${e.time},"stages":$stageIds}""")
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.reason != Success) failedTasks.merge(e.stageId, 1, Integer.sum)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      lastStageSubmitMs = math.max(lastStageSubmitMs, si.submissionTime.getOrElse(0L))
      if (m != null) stages.add(
        s"""{"id":${si.stageId},"attempt":${si.attemptNumber()},"tasks":${si.numTasks},""" +
        s""""run_ms":${m.executorRunTime},"cpu_ns":${m.executorCpuTime},""" +
        s""""shuffle_read":${m.shuffleReadMetrics.totalBytesRead},""" +
        s""""shuffle_write":${m.shuffleWriteMetrics.bytesWritten},""" +
        s""""fetch_wait_ms":${m.shuffleReadMetrics.fetchWaitTime},""" +
        s""""spill":${m.memoryBytesSpilled + m.diskBytesSpilled},""" +
        s""""input":${m.inputMetrics.bytesRead},"result":${m.resultSize}}""")
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def phase(p: String) = ph.get(p).fold(0L)(_.durationMs)
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
      queries.add(s"""{"start":$start,"analysis_ms":${phase("analysis")},""" +
        s""""optimization_ms":${phase("optimization")},"planning_ms":${phase("planning")}}""")
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).fold(0L)(_.longValue)
      batches.add(s"""{"start":${java.time.Instant.parse(p.timestamp).toEpochMilli},""" +
        s""""rows":${p.numInputRows},"planning_ms":${d("queryPlanning")},""" +
        s""""add_batch_ms":${d("addBatch")},"commit_ms":${d("walCommit") + d("commitOffsets")}}""")
    }
  }

  def attach(spark: SparkSession): Unit = if (traced) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until the listener bus has delivered every event of the timed
    * passes: run one marker job after them and wait for its stage. */
  def drain(spark: SparkSession): Unit = if (traced) {
    val marker = System.currentTimeMillis()
    spark.sparkContext.parallelize(1 to 2, 1).count()
    val deadline = marker + 30000
    while ((lastStageSubmitMs < marker || !jobStarts.isEmpty) &&
           System.currentTimeMillis() < deadline) Thread.sleep(20)
  }

  def json(head: Seq[(String, String)]): String = {
    val spanJson = spans.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"req":${s.req},""" +
      s""""start":${s.start},"end":${s.end}}""")
    val failed = failedTasks.asScala.map { case (k, v) => s""""$k":$v""" }
    val body = head ++ Seq(
      "spans" -> spanJson.mkString("[", ",", "]"),
      "jobs" -> jobs.asScala.mkString("[", ",", "]"),
      "stages" -> stages.asScala.mkString("[", ",", "]"),
      "failed_tasks" -> failed.mkString("{", ",", "}"),
      "queries" -> queries.asScala.mkString("[", ",", "]"),
      "batches" -> batches.asScala.mkString("[", ",", "]"))
    body.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",\n", "}\n")
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
