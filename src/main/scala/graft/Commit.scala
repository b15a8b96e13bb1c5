package graft

import java.io.{IOException, UncheckedIOException}
import java.nio.file.{DirectoryNotEmptyException, FileAlreadyExistsException, Files, LinkOption,
  NoSuchFileException, Path, StandardCopyOption}
import java.util.UUID

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The one commit rule of every local store: the topic sink's batches,
  * the materialized aggregate's versions, the index store's versions,
  * ingest's per-batch artifacts, pins, snapshots and takedowns,
  * `decontaminateAdmit`'s batches, Avro container outputs and their parts,
  * and the file registries' entries.
  *
  * [[publish]] stages into a private per-attempt path,
  * `<parent>/.staging-<name>/<random>`, then renames it into place without
  * ever replacing an existing target. The rename is the commit point:
  * readers see the old state or the whole new one. An existing target is
  * the replay result: `publish` returns false and changes nothing, and a
  * racer that loses the rename returns false the same way. Staging is
  * removed on every path: a failed attempt deletes its own, and the first
  * publish that finds the target committed drops `<parent>/.staging-<name>`
  * with whatever killed attempts left there. Dot-prefixed names are skipped
  * by Spark's file listing and by [[numbered]].
  *
  * The module stays on `java.nio` because Hadoop's local rename breaks the
  * no-replace rule: `RawLocalFileSystem.rename` onto a non-empty directory
  * succeeds and nests the source inside it. NIO's `ATOMIC_MOVE` is no
  * better on its own, since it replaces an existing file and an empty
  * directory. So a directory is renamed with `ATOMIC_MOVE` only after the
  * target was found absent (a racer's non-empty target makes the move
  * fail), and a file ([[publishFile]]) is published with
  * `Files.createLink`, which fails on any existing target. */
object Commit {

  private val NoSeam: String => Unit = _ => ()

  /** Commit the directory `write` fills (it is created empty before
    * `write` runs) as `target`. True when this call committed; false when
    * `target` was already committed or a racer committed it first. Any
    * non-fatal failure while `target` is committed is that replay result.
    * `interpose` is a test seam called at "staged" (complete, not yet
    * visible) and "installed". */
  def publish(target: Path, interpose: String => Unit = NoSeam)(write: Path => Unit): Boolean =
    commit(target, interpose)(
      staged => { Files.createDirectory(staged); write(staged) },
      staged =>
        if (Files.exists(target)) throw new FileAlreadyExistsException(target.toString)
        else Files.move(staged, target, StandardCopyOption.ATOMIC_MOVE))

  /** Commit the file `write` creates at the path it is given as `target`;
    * see [[publish]]. That path is named as `target` is, inside a directory
    * private to the attempt, so whatever else `write` leaves beside it (a
    * Hadoop `.crc`) is staging too. */
  def publishFile(target: Path, interpose: String => Unit = NoSeam)(write: Path => Unit): Boolean = {
    def file(staged: Path) = staged.resolve(target.getFileName)
    commit(target, interpose)(
      staged => { Files.createDirectory(staged); write(file(staged)) },
      staged => Files.createLink(target, file(staged)))
  }

  /** Commit `bytes` as the file `target`; see [[publish]]. */
  def publish(target: Path, bytes: Array[Byte], interpose: String => Unit): Boolean =
    publishFile(target, interpose)(Files.write(_, bytes))

  def publish(target: Path, bytes: Array[Byte]): Boolean = publish(target, bytes, NoSeam)

  private def commit(target: Path, interpose: String => Unit)
                    (stage: Path => Unit, install: Path => Unit): Boolean = {
    val attempts = stagingOf(target)
    if (Files.exists(target)) { tidy(attempts); return false }
    val staged = attempts.resolve(UUID.randomUUID().toString)
    val won =
      try {
        // inside the try: a winner dropping `attempts` meanwhile is a replay
        Files.createDirectories(attempts)
        stage(staged)
        interpose("staged")
        install(staged)
        true
      } catch {
        case NonFatal(_) if Files.exists(target) => false
        case t: Throwable =>
          tidy(staged)
          try Files.deleteIfExists(attempts)
          catch { case _: DirectoryNotEmptyException => () } // another attempt's
          throw t
      }
    tidy(attempts)
    if (won) interpose("installed")
    won
  }

  /** Atomically overwrite `file` with `bytes`: a reader sees the old
    * content or the new, never a truncated file. Last writer wins. Each
    * call stages in its own sibling file, so concurrent calls never touch
    * each other's staging. */
  def replace(file: Path, bytes: Array[Byte]): Unit = {
    Files.createDirectories(file.getParent)
    val staged = file.resolveSibling(s".staging-${file.getFileName}-${UUID.randomUUID()}")
    try {
      Files.write(staged, bytes)
      Files.move(staged, file, StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(staged)
    ()
  }

  /** The numbers `n` of the entries of `dir` named `<prefix><n>`, where
    * `<n>` is a non-negative Long written as `n.toString` writes it,
    * ascending. Other names are ignored, so one stray entry cannot poison
    * every later listing, and `<prefix><n>` names each listed entry. */
  def numbered(dir: Path, prefix: String): Seq[Long] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val st = Files.list(dir)
      try st.iterator().asScala.map(_.getFileName.toString)
        .collect { case n if n.startsWith(prefix) => n.drop(prefix.length) }
        .flatMap(d => d.toLongOption.filter(n => n >= 0 && n.toString == d))
        .toSeq.sorted
      finally st.close()
    }

  /** Delete `path` and everything under it; absent paths are fine. */
  def delete(path: Path): Unit = {
    if (Files.isDirectory(path, LinkOption.NOFOLLOW_LINKS)) {
      val st = try Files.list(path) catch { case _: NoSuchFileException => return }
      try st.iterator().asScala.foreach(delete) finally st.close()
    }
    Files.deleteIfExists(path)
    ()
  }

  private def stagingOf(target: Path): Path =
    target.resolveSibling(s".staging-${target.getFileName}")

  /** Best-effort [[delete]]: a concurrent attempt may be writing under the
    * same staging directory, and whichever attempt finishes last removes
    * what is left. */
  private def tidy(p: Path): Unit =
    try delete(p) catch { case _: IOException | _: UncheckedIOException => () }
}
