package graft

import java.nio.file.{Files, Paths}

/** Regenerates SCALE.md's per-query table from the catalog's scale notes:
  * `sbt "runMain graft.NotesDump"` writes the file directly (no stdout
  * redirect, so sbt's own log lines can never leak into the document).
  * Everything from the file's first `## ` heading on is hand-kept
  * measurement prose, copied through unchanged. */
object NotesDump {
  def main(args: Array[String]): Unit = {
    val target = Paths.get(args.headOption.getOrElse("SCALE.md"))
    val prior = if (Files.exists(target)) Files.readString(target) else ""
    val handKept = prior.indexOf("\n## ") match {
      case -1 => ""
      case at => prior.substring(at)
    }
    val out = new StringBuilder
    out ++= "# SCALE — per-operator 100 TB strategy\n\n"
    out ++= "Generated from `GraftQuery.note` (source of truth lives next to each\n"
    out ++= "implementation). Regenerate: `sbt \"runMain graft.NotesDump\"`; the\n"
    out ++= "sections after the table are hand-kept and copied through.\n\n"
    out ++= "| query | oracle | 100 TB strategy |\n"
    out ++= "|---|---|---|\n"
    SparkEntry.catalog.foreach { q =>
      val oracle = if (q.oracle.isDefined) "duckdb" else "spec/rows"
      val note = q.note.replace("|", "\\|").replace("\n", " ")
      out ++= s"| `${q.name}` | $oracle | $note |\n"
    }
    out ++= handKept
    Files.writeString(target, out.toString)
    println(s"[notesdump] wrote $target (${SparkEntry.catalog.size} queries)")
  }
}
