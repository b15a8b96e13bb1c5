package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without the shell fallbacks of its write
  * path. Without `libhadoop`, `RawLocalFileSystem` forks `chmod` for every
  * permission it sets (every file, `.crc` and directory it creates) and
  * `readlink` for every link status (every `FileContext` rename). This
  * subclass overrides exactly those two methods with NIO and leaves
  * everything else, including what lands on disk, to Hadoop. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  /** Plain rwx bits through NIO; the sticky bit falls back to `chmod`
    * (`FsPermission` carries no setuid/setgid bits). */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
      catch { case e: NoSuchFileException => throw new FileNotFoundException(e.getMessage) }

  /** A path that is not a symlink has its plain status as link status. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `FileSystem` binding for the `file` scheme (`fs.file.impl`): checksummed
  * like Hadoop's `LocalFileSystem`. It keeps the one rule of Hive's
  * `ProxyLocalFileSystem`, which hive-exec registers for `file` and which
  * the scheme resolved to without this binding: a rename onto an existing
  * file fails instead of replacing it. Hadoop's `FileOutputCommitter`
  * calls this rename for every `df.write` task and job commit. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean =
    !Files.isRegularFile(pathToFile(dst).toPath) && super.rename(src, dst)
}

/** `FileContext` binding for the `file` scheme
  * (`fs.AbstractFileSystem.file.impl`), shaped like Hadoop's
  * `LocalFs`/`RawLocalFs`. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeLocalFs.Raw(conf))

object ForkFreeLocalFs {
  private class Raw(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }
}
