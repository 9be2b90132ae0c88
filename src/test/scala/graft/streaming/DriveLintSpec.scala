package graft.streaming

import graft.SourceLint.{codeText, mainSources}
import org.scalatest.funsuite.AnyFunSuite

/** Lint: every streaming query under `src/main` starts and waits in one
  * place, [[Streams.drive]], and every memory sink is
  * [[Streams.drain]]'s, which drops the sink's temp view. So
  * `awaitTermination` may appear in code only inside `drive` and
  * `format("memory")` only inside `drain`. */
class DriveLintSpec extends AnyFunSuite {

  private val driveFile = "graft/streaming/Streams.scala"
  private val allowed = Map("""awaitTermination""".r -> "drive",
                            """format\("memory"\)""".r -> "drain")
  private val defName = """\bdef\s+(\w+)""".r

  /** Name of the innermost `def` at or above line `i`. */
  private def enclosingDef(lines: IndexedSeq[String], i: Int): Option[String] =
    (i to 0 by -1).iterator
      .flatMap(j => defName.findFirstMatchIn(codeText(lines(j))).map(_.group(1)))
      .nextOption()

  /** `file:line` of every start-and-wait or memory sink outside the drive. */
  private def outsideDrive(file: String, lines: IndexedSeq[String]): Seq[String] =
    lines.indices.filter { i =>
      allowed.exists { case (pat, home) =>
        pat.findFirstIn(codeText(lines(i))).isDefined &&
          !(file.endsWith(driveFile) && enclosingDef(lines, i).contains(home))
      }
    }.map(i => s"$file:${i + 1}")

  test("the lint flags a wait or memory sink outside the drive and ignores comments") {
    val src = IndexedSeq(
      "  /** waits with `awaitTermination` */",
      "  def drive(w: W): Unit = {",
      "    val q = w.start()",
      "    try q.awaitTermination() finally q.stop()",
      "  }",
      "  def drain(df: DataFrame): DataFrame = {",
      "    drive(df.writeStream.format(\"memory\"))",
      "  }",
      "  def entry(): Unit = {",
      "    q.awaitTermination() // waits",
      "    df.writeStream.format(\"memory\").start()",
      "  }")
    assert(outsideDrive(s"x/$driveFile", src) == Seq(s"x/$driveFile:10", s"x/$driveFile:11"))
    assert(outsideDrive("x/Other.scala", src) ==
      Seq(4, 7, 10, 11).map(n => s"x/Other.scala:$n"))
  }

  test("every streaming query under src/main starts and drains through the one drive") {
    val offenders = mainSources().flatMap { case (file, lines) => outsideDrive(file, lines) }
    assert(offenders.isEmpty,
      s"awaitTermination or a memory sink outside Streams.drive/drain:\n${offenders.mkString("\n")}")
  }
}
