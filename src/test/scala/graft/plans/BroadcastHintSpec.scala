package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Lint: Spark's size check (`autoBroadcastJoinThreshold`, plus AQE's
  * runtime conversion) is the only rule that broadcasts a DataFrame join
  * side. A `broadcast(...)` hint overrides that check, so it may sit only
  * on a side whose size is bounded by construction (a `limit(k)`, a
  * codebook, one row per language…), and a comment saying `bounded`
  * must name the bound within the six lines above the hint. A side that
  * grows with the input carries no hint. */
class BroadcastHintSpec extends AnyFunSuite {

  /** A `broadcast(` call that is not a method (`sc.broadcast(`), on a
    * line of code rather than of a comment. */
  private val hint = """(?<![\w.`])broadcast\(""".r
  private val boundWord = """\bbounded\b""".r

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
  }

  private def commentText(line: String): String =
    if (isComment(line)) line
    else line.indexOf("//") match { case -1 => ""; case i => line.substring(i) }

  /** `file:line` of every hint without a bound comment in `lines`. */
  private def unbounded(file: String, lines: IndexedSeq[String]): Seq[String] =
    lines.indices.filter { i =>
      !isComment(lines(i)) && hint.findFirstIn(lines(i)).isDefined &&
        !(math.max(0, i - 6) to i).exists(j => boundWord.findFirstIn(commentText(lines(j))).isDefined)
    }.map(i => s"$file:${i + 1}")

  test("the lint flags a bare hint and accepts a bound comment up to six lines above") {
    val bare = IndexedSeq("val x = a.join(broadcast(b), \"k\")")
    assert(unbounded("F", bare) == Seq("F:1"))
    val far = "// bounded: limit(5)" +: IndexedSeq.fill(6)("  .select(x)") :+ "  .join(broadcast(b), \"k\")"
    assert(unbounded("F", far) == Seq("F:8"))
    assert(unbounded("F", far.patch(1, Nil, 1)).isEmpty) // six lines above
    val notHints = IndexedSeq(
      "val b = spark.sparkContext.broadcast(x)",
      "  * and `broadcast()` once pinned the plan",
      "// unbounded: broadcast(x) would be wrong here")
    assert(unbounded("F", notHints).isEmpty)
  }

  test("every DataFrame broadcast hint under src/main names its bound") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
    val files = {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector finally s.close()
    }
    val offenders = files.sortBy(_.toString).flatMap { p =>
      val src = scala.io.Source.fromFile(p.toFile, "UTF-8")
      try unbounded(p.toString, src.getLines().toIndexedSeq) finally src.close()
    }
    assert(offenders.isEmpty,
      s"broadcast hints without a `bounded` comment in the 6 lines above:\n${offenders.mkString("\n")}")
  }
}
