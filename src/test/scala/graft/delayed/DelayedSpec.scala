package graft.delayed

import graft.SparkSpec
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future, Promise}
import scala.concurrent.duration._

/** Delayed-DAG semantics vs an in-memory interpreter (SURVEY.md §5:
  * property-based mirror of the reference's delayed examples,
  * README.md:149-175). */
class DelayedSpec extends SparkSpec {

  // --- random arithmetic DAG: evaluate via Delayed vs direct recursion ---
  sealed trait Expr
  case class Lit(v: Long) extends Expr
  case class Add(a: Expr, b: Expr) extends Expr
  case class Mul(a: Expr, b: Expr) extends Expr
  case class Neg(a: Expr) extends Expr

  def genExpr(depth: Int): Gen[Expr] =
    if (depth <= 0) Gen.chooseNum(-100L, 100L).map(Lit)
    else Gen.frequency(
      2 -> Gen.chooseNum(-100L, 100L).map(Lit),
      3 -> Gen.lzy(for { a <- genExpr(depth - 1); b <- genExpr(depth - 1) } yield Add(a, b)),
      2 -> Gen.lzy(for { a <- genExpr(depth - 1); b <- genExpr(depth - 1) } yield Mul(a, b)),
      1 -> Gen.lzy(genExpr(depth - 1).map(Neg)))

  def evalDirect(e: Expr): Long = e match {
    case Lit(v) => v
    case Add(a, b) => evalDirect(a) + evalDirect(b)
    case Mul(a, b) => evalDirect(a) * evalDirect(b)
    case Neg(a) => -evalDirect(a)
  }

  def evalDelayed(e: Expr): Delayed[Long] = e match {
    case Lit(v) => Delayed.value(v)
    case Add(a, b) => evalDelayed(a).zip(evalDelayed(b))(_ + _)
    case Mul(a, b) => evalDelayed(a).zip(evalDelayed(b))(_ * _)
    case Neg(a) => evalDelayed(a).map(x => -x)
  }

  test("property: random arithmetic DAGs match the direct interpreter") {
    val gen = genExpr(6)
    for (n <- 0 until 200) {
      val e = gen.pureApply(Gen.Parameters.default, Seed(n.toLong))
      assert(evalDelayed(e).compute() == evalDirect(e), s"mismatch for seed $n: $e")
    }
  }

  test("1024-leaf pairwise tree reduction (reference README.md:180-201)") {
    val leaves = (1 to 1024).map(i => Delayed.value(i.toLong))
    assert(Delayed.treeReduce(leaves)(_ + _).compute() == 1024L * 1025 / 2)
  }

  test("~10k-node deep+wide DAG evaluates correctly with sane overhead (d03 shape)") {
    // 100 chains x depth 100 + fan-in tree — mirrors DelayedQueries.deepWideDag
    val chains = 100; val depth = 100
    def step(k: Int, i: Int): Long =
      ((k.toLong * depth + i) * 1103515245L + 5L) % 2147483647L % 1000L
    val chainResults = (0 until chains).map { k =>
      (0 until depth).foldLeft(Delayed.value(k.toLong))((acc, i) => acc.map(_ + step(k, i)))
    }
    val expected = (0 until chains).map(k =>
      k.toLong + (0 until depth).map(step(k, _)).sum).sum
    val t0 = System.nanoTime()
    assert(Delayed.treeReduce(chainResults)(_ + _).compute() == expected)
    val sec = (System.nanoTime() - t0) / 1e9
    assert(sec < 10.0, f"10k-node driver DAG took $sec%.1f s — scheduler overhead blew up")
  }

  test("shared subgraphs evaluate exactly once under fan-out") {
    val calls = new AtomicInteger(0)
    val shared = Delayed { calls.incrementAndGet(); 21L }
    val a = shared.map(_ * 2)
    val b = shared.map(_ + 1)
    assert(Delayed.computeAll(Seq(a, b)) == Seq(42L, 22L))
    assert(calls.get() == 1, "fan-out must not recompute the shared node")
  }

  test("errors short-circuit dependents and keep their message") {
    val boom = Delayed[Long] { throw new IllegalStateException("task exploded") }
    val downstream = boom.map(_ + 1)
    val e = intercept[IllegalStateException](downstream.compute())
    assert(e.getMessage == "task exploded")
  }

  test("computeAll: a repeated root and a root nested inside another run once each") {
    val calls = new AtomicInteger(0)
    val a = Delayed { calls.incrementAndGet(); 5L }
    val b = a.map(_ * 3)
    assert(Delayed.computeAll(Seq(b, b)) == Seq(15L, 15L))
    assert(calls.get() == 1)
    assert(Delayed.computeAll(Seq(b.map(_ + 1), a, b, Delayed.value(7L))) == Seq(16L, 5L, 15L, 7L))
    assert(calls.get() == 2, "one run per node per computeAll")
  }

  test("concurrent fan-in: 64 parents released together feed one child exactly once") {
    val gate = new CountDownLatch(1)
    val childRuns = new AtomicInteger(0)
    val parents = (0 until 64).map(i => Delayed { gate.await(); i.toLong })
    val child = Delayed.sequence(parents).map { vs => childRuns.incrementAndGet(); vs }
    val result = child.computeAsync()
    Thread.sleep(100)   // let every pool thread block on the gate
    gate.countDown()
    assert(Await.result(result, 30.seconds) == (0 until 64).map(_.toLong))
    assert(childRuns.get() == 1)
  }

  test("a failure while a sibling still runs: no dependent runs, the original exception returns") {
    val siblingStarted = new CountDownLatch(1)
    val siblingGo = new CountDownLatch(1)
    val dependentRuns = new AtomicInteger(0)
    val sibling = Delayed { siblingStarted.countDown(); siblingGo.await(); 1L }
    val boom = Delayed[Long] {
      siblingStarted.await()
      throw new IllegalStateException("task exploded mid-flight")
    }
    val viaBoom = boom.map { x => dependentRuns.incrementAndGet(); x }
    val joined = boom.zip(sibling) { (a, b) => dependentRuns.incrementAndGet(); a + b }
    val root = viaBoom.zip(joined) { (a, b) => dependentRuns.incrementAndGet(); a + b }
    val e = intercept[IllegalStateException](root.compute())
    assert(e.getMessage == "task exploded mid-flight")
    siblingGo.countDown()   // the sibling finishes after the failure surfaced
    Thread.sleep(200)
    assert(dependentRuns.get() == 0, "a dependent of the failed node ran")
  }

  test("a 100,000-deep chain evaluates through compute and DaskGraph.get; cycles still fail") {
    import DaskGraph._
    val depth = 100000
    val chain = (0 until depth).foldLeft(Delayed.value(0L))((d, _) => d.map(_ + 1))
    assert(chain.compute() == depth.toLong)
    val dsk: Map[String, Any] = Map("k0" -> 0L) ++ (1 to depth).map(i =>
      s"k$i" -> GraphTask(args => args.head.asInstanceOf[Long] + 1, Seq(s"k${i - 1}")))
    assert(DaskGraph.get(dsk, Seq(s"k$depth")) == Seq(depth.toLong))
    val cyclic = Map[String, Any](
      "a" -> GraphTask(_.head, Seq("b")), "b" -> GraphTask(_.head, Seq("c")), "c" -> "a")
    val e = intercept[IllegalArgumentException](DaskGraph.get(cyclic, Seq("a")))
    assert(e.getMessage.contains("cycle at a"))
  }

  test("raw graph get(dsk, keys) with packed args and aliases") {
    import DaskGraph._
    val dsk = Map[String, Any](
      "x" -> 1L,
      "y" -> GraphTask(args => args(0).asInstanceOf[Long] + 10L, Seq("x")),
      "alias" -> "y",
      "z" -> GraphTask(args => args(0).asInstanceOf[Long] * args(1).asInstanceOf[Long], Seq("y", "w")),
      "w" -> 3L)
    assert(DaskGraph.get(dsk, Seq("z", "alias", "x")) == Seq(33L, 11L, 1L))
  }

  test("client: submit / map / gather / as_completed / scatter") {
    val client = new Client(spark)
    val fs = client.map(Seq(1, 2, 3, 4))(i => i * i)
    assert(client.gather(fs) == Seq(1, 4, 9, 16))
    assert(client.asCompleted(fs).map(_.get).toSet == Set(1, 4, 9, 16))
    val b = client.scatter(Map("k" -> 7))
    val used = spark.sparkContext.parallelize(1 to 4, 2).map(_ * b.value("k")).collect()
    assert(used.toSeq == Seq(7, 14, 21, 28))
    val bad = client.submit[Int] { throw new RuntimeException("remote failure") }
    val err = intercept[RuntimeException](client.gather(Seq(bad)))
    assert(err.getMessage == "remote failure")
  }

  test("client: gather fails fast on a failure behind a future that never completes") {
    val client = new Client(spark)
    val never = new GraftFuture(Promise[Int]().future)
    val bad = client.submit[Int] { throw new IllegalArgumentException("late failure") }
    val waiting = Future(client.gather(Seq(never, bad)))(ExecutionContext.global)
    val e = intercept[IllegalArgumentException](Await.result(waiting, 10.seconds))
    assert(e.getMessage == "late failure")
  }

  test("client: a 10⁶-element map executes as ONE Spark job, not 10⁶ driver futures") {
    val client = new Client(spark)
    // TaskContext is non-null ONLY inside a Spark task — each element
    // records where it actually ran
    val (results, jobs) = countJobs(client.gather(client.map(1 to 1000000)(i =>
      (i.toLong * 2, org.apache.spark.TaskContext.get() != null))))
    assert(results.length == 1000000)
    assert(results.zipWithIndex.forall { case ((v, _), k) => v == (k + 1).toLong * 2 },
      "values must come back in element order")
    assert(results.forall(_._2), "every element must have run inside a Spark task")
    assert(jobs <= 2, s"expected one collect job, saw $jobs")
    // the small regime still uses the driver pool (element fns there
    // launch their own Spark jobs, which must not nest inside a task)
    val small = client.map(Seq(1, 2, 3))(_ => org.apache.spark.TaskContext.get() == null)
    assert(client.gather(small).forall(identity), "small maps stay on the driver pool")
    // failure in the large regime propagates to every element future
    val failing = client.mapLarge(1 to 20000)(i =>
      if (i == 12345) throw new IllegalStateException("element failure") else i)
    val e = intercept[Exception](client.gather(failing))
    assert(e.getMessage != null && e.getMessage.contains("element failure"))
  }

  test("delayed over Spark actions runs independent branches in parallel") {
    val t0 = System.nanoTime()
    val a = Delayed { Thread.sleep(300); 1 }
    val b = Delayed { Thread.sleep(300); 2 }
    assert(a.zip(b)(_ + _).compute() == 3)
    val ms = (System.nanoTime() - t0) / 1e6
    assert(ms < 550, s"branches ran sequentially: $ms ms")
  }

  test("d04: the futures fan-out equals one grouped aggregate; slices complete independently") {
    import org.apache.spark.sql.functions._
    val got = DelayedQueries.futuresMap(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.keySet == (0L until 16L).toSet, "one row per slice, order-independent")
    val expect = graft.core.Tables.orders(spark, sfDir)
      .groupBy((col("o_orderkey") % 16).as("s"))
      .agg(count(lit(1)), sum(round(col("o_totalprice") * 100).cast("long")))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expect)
  }
}
