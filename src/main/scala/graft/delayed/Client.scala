package graft.delayed

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.concurrent.{Await, ExecutionContext, Future, Promise}
import scala.concurrent.duration.{Duration, FiniteDuration}
import scala.util.{Failure, Success, Try}
import java.util.concurrent.atomic.AtomicInteger

/** Futures facade — the rebuild of Wukong's Dask-Distributed client API
  * (SURVEY.md §2.B5): `submit` (client.py:1423), `map` (:1524), `gather`
  * (:1902), `scatter` (:2072), `as_completed`/`wait`/`fire_and_forget`
  * (client.py:4241, __init__.py:9-20).
  *
  * On Spark the "cluster" side of a future is a job: a submitted function
  * typically closes over Datasets and runs actions; the returned
  * `GraftFuture` resolves when the job completes. Failure propagates the
  * original exception (reference error-path fidelity,
  * TE/function.py:1810-1817 → scheduler.py:4147-4156).
  */
final class GraftFuture[T] private[delayed] (private[delayed] val underlying: Future[T]) {
  def result(atMost: Duration = Duration.Inf): T = Await.result(underlying, atMost)
  def isCompleted: Boolean = underlying.isCompleted
  def onComplete(f: Try[T] => Unit)(implicit ec: ExecutionContext): Unit =
    underlying.onComplete(f)
}

final class Client(val spark: SparkSession)(implicit ec: ExecutionContext = Delayed.defaultEc) {

  /** submit(func, *args): run one task asynchronously, get a future. */
  def submit[T](f: => T): GraftFuture[T] = new GraftFuture(Future(f))

  /** map(func, iterable): one future per element.
    *
    * Two regimes, split at [[Client.largeMapThreshold]]:
    *  - SMALL maps run on the driver thread pool. This is the
    *    orchestration use (each element function typically closes over
    *    Datasets and launches its own Spark jobs — those must not nest
    *    inside a Spark task).
    *  - LARGE maps are data parallelism, and 10⁶ driver futures would
    *    BE the bottleneck (Wukong ships the function to remote
    *    executors for exactly this reason, client.py:1524). They run as
    *    ONE Spark job via [[mapLarge]]; the futures facade is kept by
    *    resolving one promise per element from the job's single
    *    completion callback. Element functions in this regime must be
    *    executor-safe (no SparkSession/Dataset use inside `f`).
    */
  def map[A: scala.reflect.ClassTag, T: scala.reflect.ClassTag]
         (items: Seq[A])(f: A => T): Seq[GraftFuture[T]] =
    if (items.size >= Client.largeMapThreshold) mapLarge(items)(f)
    else items.map(a => submit(f(a)))

  /** Distributed map: one Spark job over `items`, one future per
    * element, all backed by the job's result array. Partition count
    * follows the session's default parallelism so the work spreads
    * across every executor (on a cluster: every node), never the
    * driver pool. */
  def mapLarge[A: scala.reflect.ClassTag, T: scala.reflect.ClassTag]
              (items: Seq[A], slices: Int = 0)(f: A => T): Seq[GraftFuture[T]] = {
    val parts = math.max(1, math.min(
      if (slices > 0) slices else spark.sparkContext.defaultParallelism, items.size))
    val jobF: Future[Array[T]] =
      Future(spark.sparkContext.parallelize(items, parts).map(f).collect())
        .recoverWith { case e: Throwable =>
          // name the regime so a map() that silently crossed the
          // threshold fails diagnosably, not with a bare
          // Task-not-serializable/NPE from inside the collect job
          Future.failed(new RuntimeException(
            s"large map (>= ${Client.largeMapThreshold} elements) runs on executors; " +
            "element functions must not use SparkSession/Datasets " +
            s"(see Client.largeMapThreshold). Underlying failure: ${e.getMessage}", e))
        }
    val promises = IndexedSeq.fill(items.size)(Promise[T]())
    jobF.onComplete {
      case scala.util.Success(arr) =>
        var i = 0; while (i < arr.length) { promises(i).success(arr(i)); i += 1 }
      case scala.util.Failure(e) => promises.foreach(_.tryFailure(e))
    }
    promises.map(p => new GraftFuture(p.future))
  }

  /** gather(futures): block for all results, first failure rethrown.
    * One countdown over the futures — the fan-in counter of SURVEY A3
    * applied to the client side: each future's one completion callback
    * decrements it, the last success or the first failure completes the
    * wait, so a failure surfaces even while earlier futures are still
    * running. */
  def gather[T](fs: Seq[GraftFuture[T]]): Seq[T] = {
    val all = Promise[Unit]()
    val left = new AtomicInteger(fs.size)
    if (fs.isEmpty) all.success(())
    fs.foreach(_.underlying.onComplete {
      case Success(_) => if (left.decrementAndGet() == 0) all.trySuccess(())
      case Failure(e) => all.tryFailure(e)
    }(ExecutionContext.parasitic))
    Await.result(all.future, Duration.Inf)
    fs.map(_.underlying.value.get.get)
  }

  /** scatter(data): ship a value to every executor once — broadcast. */
  def scatter[T: scala.reflect.ClassTag](v: T): Broadcast[T] =
    spark.sparkContext.broadcast(v)

  /** gather of a distributed frame back to the driver (small results). */
  def gatherRows(df: DataFrame): Array[Row] = df.collect()

  /** as_completed: futures in completion order. */
  def asCompleted[T](fs: Seq[GraftFuture[T]]): Iterator[Try[T]] = {
    val queue = new java.util.concurrent.LinkedBlockingQueue[Try[T]]()
    fs.foreach(_.underlying.onComplete(queue.put))
    Iterator.fill(fs.size)(queue.take())
  }

  /** wait(futures, timeout): done / not-done split. */
  def waitAll[T](fs: Seq[GraftFuture[T]], atMost: FiniteDuration): (Seq[GraftFuture[T]], Seq[GraftFuture[T]]) = {
    val all = Future.sequence(fs.map(_.underlying.transform(Try(_))(ec)))
    Try(Await.ready(all, atMost))
    fs.partition(_.isCompleted)
  }

  /** fire_and_forget: run for side effects, swallow the handle. */
  def fireAndForget[T](f: => T): Unit = { Future(f); () }
}

object Client {
  /** Above this size, [[Client.map]] runs as one Spark job instead of
    * per-element driver futures (see the map scaladoc for the regime
    * split). */
  val largeMapThreshold: Int = 10000
}
