package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system without shell forks. Without Hadoop's
  * native library (none ships with Spark's jars) `RawLocalFileSystem`
  * forks `chmod` for the permission of every file and directory it
  * creates, and `readlink` on every `getFileLinkStatus`, which
  * `FileContext.rename` calls on both paths; Structured Streaming commits
  * its offsets, commits and state files through that rename. A fork costs
  * 1.3–2.6 ms of JVM CPU against under 0.1 ms for the java.nio call
  * (SCALE.md, "Local I/O: shell forks and per-read schema inference"); a
  * log_chain run forked 6,613 processes. Both overrides
  * keep Hadoop's results: the permission bits its native chmod sets, and
  * the plain file status it returns for a path that is not a symlink. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    // java.nio has no sticky bit
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      // values() is in `ls` order (owner rwx, group rwx, others rwx), so
      // the constant of ordinal i is bit 8 - i of the mode
      val mode = permission.toShort
      Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermission.values
        .filter(b => (mode & (1 << (8 - b.ordinal))) != 0).toSet.asJava)
    }

  override def getFileLinkStatus(f: Path): FileStatus =
    // Hadoop reads the link with a forked `readlink` and takes a failure
    // for "not a link"; `isSymbolicLink` is false on any failure too
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over the
  * fork-free raw file system. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl` (what `FileContext` uses): Hadoop's
  * `LocalFs` rebuilt over the fork-free raw file system. `LocalFs` and its
  * `RawLocalFs` cannot be given another raw file system, so this repeats
  * `RawLocalFs`'s three overrides. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeLocalFs.Raw(uri, conf))

object ForkFreeLocalFs {
  final class Raw(uri: URI, conf: Configuration) extends DelegateToFileSystem(
      uri, new ForkFreeRawLocalFileSystem, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }
}
