package graft.delayed

import java.util.concurrent.atomic.{AtomicInteger, AtomicIntegerArray}
import scala.collection.immutable.ArraySeq
import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future, Promise}
import scala.concurrent.duration.Duration

/** The rebuild of Wukong's primary user entry point: arbitrary lazy task
  * DAGs (`dask.delayed` — reference README.md:125-201, evaluated by
  * `execute_task`/`pack_data`, TE/function.py:3808-3881).
  *
  * A `Delayed[T]` is a node in a DAG built by wrapping functions over
  * other `Delayed` values. Nothing runs until `compute()`. Evaluation
  * follows Wukong's static schedule (see [[Schedule]]): every node
  * carries a counter of unfinished dependencies (SURVEY A3, the Redis
  * `dep-counter`), and the thread whose decrement releases a node runs
  * it. A thread that finishes a node keeps the first dependent it
  * releases for itself ("become", A5) and hands every other released
  * dependent to the execution context ("invoke", A6), so each node runs
  * exactly once even under fan-out and independent branches run in
  * parallel. Node bodies may be driver-local functions or full Spark
  * actions — composing Spark jobs into a DAG is exactly the reference's
  * model of delayed collections.
  *
  * Error semantics mirror the reference (TE/function.py:1810-1817): the
  * first failing task short-circuits every dependent and the original
  * exception surfaces at `compute()`/`gather` with its message intact.
  */
sealed trait Delayed[+T] {
  private[delayed] def node: Node

  def map[U](f: T => U): Delayed[U] =
    Delayed.fromNode(new Node.Apply(args => f(args.head.asInstanceOf[T]), Seq(node)))

  def zip[U, R](other: Delayed[U])(f: (T, U) => R): Delayed[R] =
    Delayed.fromNode(new Node.Apply(
      args => f(args(0).asInstanceOf[T], args(1).asInstanceOf[U]),
      Seq(node, other.node)))

  /** Evaluate this node (and its whole upstream DAG). */
  def compute()(implicit ec: ExecutionContext = Delayed.defaultEc): T =
    Schedule.await(Seq(node)).head.asInstanceOf[T]

  def computeAsync()(implicit ec: ExecutionContext = Delayed.defaultEc): Future[T] =
    Schedule.run(Seq(node)).map(_.head.asInstanceOf[T])(ExecutionContext.parasitic)
}

/** A DAG vertex. Nodes are immutable and compared by reference: one
  * node object is one task, however many dependents share it. */
private[delayed] sealed abstract class Node
private[delayed] object Node {
  final class Value(val v: Any) extends Node
  final class Apply(val fn: Seq[Any] => Any, val deps: Seq[Node]) extends Node
}

/** One evaluation of the DAG reachable from some roots — Wukong's static
  * schedule, collapsed onto one driver thread pool.
  *
  * An iterative pass numbers the reachable nodes (shared nodes once),
  * lays their dependency and dependent edges out as flat index arrays,
  * and gives every task an atomic count of its unfinished task
  * dependencies (SURVEY A3: TE/function.py:1548-1681; literal values
  * count as finished). A thread that finishes a node stores its result
  * and decrements each dependent's counter; the decrement that reaches
  * zero owns the dependent, so every task runs exactly once. The first
  * dependent a thread releases it runs itself ("become", A5:
  * TE/function.py:2007-2022); the rest go to `ec` ("invoke", A6:
  * TE/function.py:2452-2522). A failing task never releases its
  * dependents; the evaluation fails with the task's own exception, and
  * threads stop picking up further tasks.
  *
  * Results live in a plain array: a result is written before the
  * counter decrement that publishes it, and the reader owns the node
  * only after observing that decrement, so the atomics order them.
  */
private[delayed] final class Schedule private (
    nodes: Array[Node], depStart: Array[Int], depIds: Array[Int],
    rootIds: Array[Int], ec: ExecutionContext) {
  private val n = nodes.length
  private val results = new Array[Any](n)
  // dependents of node i: out(outStart(i) until outStart(i + 1)), one
  // entry per task-to-task edge (a node listed twice as a dependency
  // counts, and is decremented, twice)
  private val outStart = new Array[Int](n + 1)
  private val out = new Array[Int](depIds.length)
  private val pending: AtomicIntegerArray = link()

  /** Fill `results` for literals and the dependent lists; return each
    * task's count of task dependencies. A method, not constructor code,
    * so the JIT compiles it like any other hot loop. */
  private def link(): AtomicIntegerArray = {
    val counts = new Array[Int](n)
    var i = 0
    while (i < n) {
      nodes(i) match {
        case v: Node.Value => results(i) = v.v
        case _: Node.Apply =>
          var e = depStart(i)
          while (e < depStart(i + 1)) {
            val d = depIds(e)
            if (nodes(d).isInstanceOf[Node.Apply]) { counts(i) += 1; outStart(d + 1) += 1 }
            e += 1
          }
      }
      i += 1
    }
    i = 0
    while (i < n) { outStart(i + 1) += outStart(i); i += 1 }
    val fill = outStart.clone()
    i = 0
    while (i < n) {
      if (nodes(i).isInstanceOf[Node.Apply]) {
        var e = depStart(i)
        while (e < depStart(i + 1)) {
          val d = depIds(e)
          if (nodes(d).isInstanceOf[Node.Apply]) { out(fill(d)) = i; fill(d) += 1 }
          e += 1
        }
      }
      i += 1
    }
    new AtomicIntegerArray(counts)
  }
  private val isRoot = new Array[Boolean](n)
  rootIds.foreach(r => isRoot(r) = nodes(r).isInstanceOf[Node.Apply])
  private val rootsLeft = new AtomicInteger(isRoot.count(identity))
  private val done = Promise[Seq[Any]]()
  @volatile private var failed = false

  private def start(): Future[Seq[Any]] = {
    if (rootsLeft.get() == 0) finish()
    else {
      // collected in full first: once tasks run, a zero count may be a
      // dependent some worker has already claimed
      val ready = (0 until n).filter(i => nodes(i).isInstanceOf[Node.Apply] && pending.get(i) == 0)
      ready.foreach(invoke)
    }
    done.future
  }

  private def finish(): Unit =
    done.trySuccess(ArraySeq.unsafeWrapArray(rootIds.map(results(_))))

  private def invoke(i: Int): Unit =
    try ec.execute(() => runFrom(i))
    catch { case t: Throwable => fail(t) }

  private def fail(t: Throwable): Unit = { failed = true; done.tryFailure(t) }

  /** Run task `i`, then keep becoming the first dependent each finished
    * task releases, until a task releases none. */
  private def runFrom(first: Int): Unit = {
    var i = first
    while (i >= 0 && !failed) {
      val from = depStart(i)
      val args = new Array[Any](depStart(i + 1) - from)
      var k = 0
      while (k < args.length) { args(k) = results(depIds(from + k)); k += 1 }
      var next = -1
      try {
        results(i) = nodes(i).asInstanceOf[Node.Apply].fn(ArraySeq.unsafeWrapArray(args))
        if (isRoot(i) && rootsLeft.decrementAndGet() == 0) finish()
        var e = outStart(i)
        while (e < outStart(i + 1)) {
          val d = out(e)
          if (pending.decrementAndGet(d) == 0) { if (next < 0) next = d else invoke(d) }
          e += 1
        }
      } catch { case t: Throwable => fail(t) }
      i = next
    }
  }
}

private[delayed] object Schedule {
  /** Evaluate `roots` together (shared nodes once); the future holds
    * their values in order. */
  def run(roots: Seq[Node])(implicit ec: ExecutionContext): Future[Seq[Any]] = {
    // Number the nodes in depth-first post-order on an explicit stack, so
    // DAG depth never touches the thread stack and a chain's nodes get
    // consecutive indices (the thread that walks a chain writes adjacent
    // counter and result slots). A node is popped once to push its
    // dependencies (marked `expanding`) and once more, above them all,
    // to be numbered.
    val ids = new java.util.IdentityHashMap[Node, Integer]()
    val order = mutable.ArrayBuffer.empty[Node]
    val depStart = mutable.ArrayBuilder.make[Int]
    val depIds = mutable.ArrayBuilder.make[Int]
    val stack = new java.util.ArrayDeque[Node]()
    roots.foreach { root =>
      stack.push(root)
      while (!stack.isEmpty) {
        val nd = stack.pop()
        val id = ids.get(nd)
        if (id == null) {
          ids.put(nd, expanding)
          stack.push(nd)
          nd match {
            case a: Node.Apply => a.deps.foreach(stack.push)
            case _: Node.Value =>
          }
        } else if (id.intValue < 0) {
          ids.put(nd, order.size)
          order += nd
          depStart += depIds.length
          nd match {
            case a: Node.Apply => a.deps.foreach(d => depIds += ids.get(d).intValue)
            case _: Node.Value =>
          }
        }
      }
    }
    depStart += depIds.length
    val rootIds = roots.iterator.map(r => ids.get(r).intValue).toArray
    new Schedule(order.toArray, depStart.result(), depIds.result(), rootIds, ec).start()
  }

  // marks a node whose dependencies are on the stack; indices are >= 0
  private val expanding: Integer = -1

  def await(roots: Seq[Node])(implicit ec: ExecutionContext): Seq[Any] =
    Await.result(run(roots), Duration.Inf)
}

object Delayed {
  /** Shared pool for driver-side DAG evaluation. Spark actions inside
    * nodes block a pool thread while executors do the real work, so the
    * pool is sized generously relative to cores. */
  implicit lazy val defaultEc: ExecutionContext =
    ExecutionContext.fromExecutor(java.util.concurrent.Executors.newFixedThreadPool(
      math.max(16, Runtime.getRuntime.availableProcessors()),
      (r: Runnable) => {   // daemon threads: an idle DAG pool must never pin the JVM open
        val t = new Thread(r, "graft-delayed")
        t.setDaemon(true)
        t
      }))

  private[delayed] def fromNode[T](n: Node): Delayed[T] =
    new Delayed[T] { val node: Node = n }

  /** Literal value → delayed (dask `delayed(3)`). */
  def value[T](v: T): Delayed[T] = fromNode(new Node.Value(v))

  /** delayed(f)(args…) — wrap a function call as a DAG node. */
  def apply[T](f: => T): Delayed[T] = fromNode(new Node.Apply(_ => f, Nil))

  def apply2[A, B, R](f: (A, B) => R)(a: Delayed[A], b: Delayed[B]): Delayed[R] =
    a.zip(b)(f)

  def sequence[T](ds: Seq[Delayed[T]]): Delayed[Seq[T]] =
    fromNode(new Node.Apply(args => args.map(_.asInstanceOf[T]), ds.map(_.node)))

  /** Evaluate several keys in one schedule — dask `get(dsk, keys)`
    * semantics: common subgraphs run once. */
  def computeAll[T](ds: Seq[Delayed[T]])(implicit ec: ExecutionContext = defaultEc): Seq[T] =
    Schedule.await(ds.map(_.node))(ec).asInstanceOf[Seq[T]]

  /** Pairwise tree reduction — the reference's 1024-leaf `operator.add`
    * tree (README.md:180-201): log-depth DAG, inner nodes evaluate in
    * parallel per level. */
  def treeReduce[T](leaves: Seq[Delayed[T]])(op: (T, T) => T): Delayed[T] = {
    require(leaves.nonEmpty, "treeReduce of no leaves")
    var level = leaves
    while (level.size > 1) {
      level = level.grouped(2).map {
        case Seq(a, b) => a.zip(b)(op)
        case Seq(a)    => a
      }.toSeq
    }
    level.head
  }
}

/** Raw Dask-graph-spec evaluator — `get(dsk, keys)`
  * (SS/wukong/client.py:2602): a graph is a map key → task, where a task
  * is either a literal, a reference to another key, or
  * `GraphTask(fn, args)` whose args may be keys (recursively packed, the
  * `pack_data` analog, TE/function.py:3849-3881). */
object DaskGraph {
  final case class GraphTask(fn: Seq[Any] => Any, args: Seq[Any])

  def get(dsk: Map[String, Any], keys: Seq[String])
         (implicit ec: ExecutionContext = Delayed.defaultEc): Seq[Any] = {
    // Post-order on an explicit stack, so graph depth never touches the
    // thread stack. A key maps to `expanding` from the push of its
    // dependencies until its node is built; meeting an expanding key
    // again is a cycle. When a task is built its key arguments already
    // are, so an argument that names a built key is a reference and
    // anything else a literal.
    val nodes = new java.util.HashMap[String, Node]()
    def node(arg: Any): Node = {
      val built = arg match {
        case k: String => nodes.get(k)
        case _         => null
      }
      if (built != null) built else new Node.Value(arg)
    }
    val stack = mutable.ArrayBuffer.empty[String]
    for (root <- keys) {
      stack += root
      while (stack.nonEmpty) {
        val key = stack.last
        val state = nodes.get(key)
        if (state == null) {
          val task = dsk(key)
          nodes.put(key, expanding)
          val args = task match {
            case GraphTask(_, args) => args
            case ref                => Seq(ref)   // alias or literal
          }
          args.foreach {
            case k: String if dsk.contains(k) =>
              val s = nodes.get(k)
              require(s ne expanding, s"cycle at $k")
              if (s == null) stack += k
            case _ =>
          }
        } else {
          if (state eq expanding) nodes.put(key, dsk(key) match {
            case GraphTask(fn, args) => new Node.Apply(fn, args.map(node))
            case ref                 => node(ref)
          })
          stack.dropRightInPlace(1)
        }
      }
    }
    Schedule.await(keys.map(nodes.get))
  }

  private val expanding: Node = new Node.Value(null)
}
