package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared test session: one small local SparkSession per suite run.
  * sf0.001 testdata keeps suites fast (~6k lineitem rows). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Runs `body` under a fresh job group and returns its result with the
    * number of Spark jobs it started. A sentinel job in the same group
    * marks the end: the listener bus delivers in order, so once the
    * sentinel's start arrives every earlier job of the group has too. */
  def countJobs[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val group = s"job-audit-${System.nanoTime}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val done = new java.util.concurrent.CountDownLatch(1)
    val lis = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val props = Option(j.properties)
        if (props.map(_.getProperty("spark.jobGroup.id")).contains(group)) {
          if (props.flatMap(p => Option(p.getProperty("job.audit.sentinel"))).isDefined)
            done.countDown()
          else jobs.incrementAndGet(): Unit
        }
      }
    }
    sc.addSparkListener(lis)
    try {
      sc.setJobGroup(group, "job audit")
      val out = try body finally {
        sc.setLocalProperty("job.audit.sentinel", "1")
        sc.parallelize(Seq(1), 1).count()
        sc.setLocalProperty("job.audit.sentinel", null)
        sc.clearJobGroup()
      }
      assert(done.await(30, java.util.concurrent.TimeUnit.SECONDS), "listener bus never drained")
      (out, jobs.get())
    } finally sc.removeSparkListener(lis)
  }

  /** The recorder attached to the shared session. */
  def metrics: graft.core.EntryMetrics = SparkSpec.metrics
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = graft.core.GraftSession.builder("local[4]", "4").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // same single-threaded netlib class init the bench/verify sessions
    // get — parallel linalg tasks racing the netlib InstanceBuilder
    // static init intermittently deadlocked local-mode stages.
    graft.core.GraftSession.breezeWarm
    s
  }
  lazy val metrics: graft.core.EntryMetrics = graft.core.EntryMetrics.attach(session)
}
