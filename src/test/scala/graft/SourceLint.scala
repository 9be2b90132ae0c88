package graft

import scala.jdk.CollectionConverters._

/** Line-level helpers for the source lints: which lines are comments,
  * and the lines of every Scala file under `src/main`. */
object SourceLint {
  def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
  }

  /** The part of `line` that is comment: all of a comment line, or what
    * follows `//` on a code line. */
  def commentText(line: String): String =
    if (isComment(line)) line
    else line.indexOf("//") match { case -1 => ""; case i => line.substring(i) }

  /** The part of `line` that is code. */
  def codeText(line: String): String =
    if (isComment(line)) "" else line.indexOf("//") match { case -1 => line; case i => line.take(i) }

  /** Path and lines of every `.scala` file under `src/main/scala`, in
    * path order. Tests run from the repo root. */
  def mainSources(): Seq[(String, IndexedSeq[String])] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
    val files = {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector finally s.close()
    }
    files.sortBy(_.toString).map { p =>
      val src = scala.io.Source.fromFile(p.toFile, "UTF-8")
      try p.toString -> src.getLines().toIndexedSeq finally src.close()
    }
  }
}
