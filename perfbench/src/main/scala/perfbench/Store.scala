package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** What the program left on disk: index-store shape and tree sizes. */
object Store {
  private def walk(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.toSeq finally s.close()
    }

  /** (regular files, bytes) under `root`; (0, 0) if it does not exist. */
  def tree(root: Path): (Long, Long) = {
    val files = walk(root).filter(Files.isRegularFile(_))
    (files.size.toLong, files.map(Files.size).sum)
  }

  /** `<prefix>.{versions,segments,bytes}`: versions (`v=N` dirs), data
    * files and their bytes of the index stores under `root`. */
  def layers(ctx: Ctx, root: Path, prefix: String = "store"): Unit = {
    val files = walk(root)
    val l = ctx.report.layers
    l(s"$prefix.versions") = files.count(p => Files.isDirectory(p) && p.getFileName.toString.matches("v=\\d+"))
    val data = files.filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith(".") &&
      !p.getFileName.toString.startsWith("_"))
    l(s"$prefix.segments") = data.size
    l(s"$prefix.bytes") = data.map(Files.size).sum
  }
}
