package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One commit implementation: outside `graft/Commit.scala` no main source
  * renames into place, deletes a tree by hand or writes a registry or topic
  * file in place. The scan reads code only; comments and string literals
  * are blanked first, so prose may still name the operations. */
class CommitGateSpec extends AnyFunSuite {

  private val Root = Paths.get("src/main/scala")

  /** Operations that belong to [[Commit]], and the directories a pattern
    * is limited to (empty: everywhere). */
  private val Forbidden: Seq[(String, Seq[String])] = Seq(
    "ATOMIC_MOVE" -> Nil,
    "Files.move(" -> Nil,
    "def deleteRecursively" -> Nil,
    ".rename(" -> Nil,
    "Files.write(" -> Seq("graft/avro/", "graft/streaming/"),
    "Files.writeString(" -> Seq("graft/avro/", "graft/streaming/"))

  /** Files that may use one of the patterns, with the reason. */
  private val Allowed: Map[(String, String), String] = Map(
    ("graft/LocalFs.scala", ".rename(") ->
      ("defines the `file` scheme's rename rule, which Hadoop's " +
        "FileOutputCommitter calls for every df.write"))

  /** `src` with comments and string/char literals replaced by spaces
    * (newlines kept, so line numbers still match). */
  private def codeOnly(src: String): String = {
    val out = new StringBuilder(src.length)
    var i = 0
    def past(token: String, from: Int): Int = src.indexOf(token, from) match {
      case -1 => src.length
      case j => j + token.length
    }
    def blank(until: Int): Unit = {
      while (i < until && i < src.length) {
        out += (if (src(i) == '\n') '\n' else ' ')
        i += 1
      }
    }
    while (i < src.length) {
      if (src.startsWith("//", i)) blank(past("\n", i) - 1)
      else if (src.startsWith("/*", i)) blank(past("*/", i + 2))
      else if (src.startsWith("\"\"\"", i)) blank(past("\"\"\"", i + 3))
      else if (src(i) == '"') {
        var j = i + 1
        while (j < src.length && src(j) != '"' && src(j) != '\n') j += (if (src(j) == '\\') 2 else 1)
        blank(j + 1)
      } else if (src(i) == '\'' && i + 2 < src.length &&
          (src(i + 2) == '\'' || src(i + 1) == '\\')) {
        blank(past("'", if (src(i + 1) == '\\') i + 3 else i + 2))
      } else { out += src(i); i += 1 }
    }
    out.toString
  }

  private def sources: Seq[Path] = {
    assert(Files.isDirectory(Root), s"run from the project root: no $Root")
    val w = Files.walk(Root)
    try w.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq.sorted finally w.close()
  }

  /** "file:line: pattern" for every forbidden use in `code` of `rel`. */
  private def violations(rel: String, code: String): Seq[String] =
    for {
      (line, n) <- code.split("\n", -1).toSeq.zipWithIndex
      (pattern, dirs) <- Forbidden
      if line.contains(pattern)
      if dirs.isEmpty || dirs.exists(rel.startsWith)
      if rel != "graft/Commit.scala" && !Allowed.contains(rel -> pattern)
    } yield s"$rel:${n + 1}: $pattern"

  test("the scan blanks comments and literals and keeps code") {
    val code = codeOnly(
      "val a = \"Files.move(\" // ATOMIC_MOVE\n/* .rename( */ val c = '\"'; Files.move(x)\n")
    assert(violations("graft/X.scala", code) === Seq("graft/X.scala:2: Files.move("))
  }

  test("stage-then-rename, recursive deletes and in-place registry writes live only in Commit") {
    val found = sources.flatMap { p =>
      violations(Root.relativize(p).toString, codeOnly(Files.readString(p)))
    }
    assert(found.isEmpty, "use graft.Commit instead:\n  " + found.mkString("\n  "))
    // every allow-list entry still matches a use, or it is stale
    Allowed.keys.foreach { case (rel, pattern) =>
      assert(codeOnly(Files.readString(Root.resolve(rel))).contains(pattern),
        s"stale allow-list entry $rel $pattern")
    }
  }
}
