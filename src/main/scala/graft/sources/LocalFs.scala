package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without its process forks. Hadoop without
  * libhadoop (no `NativeIO`) runs `chmod` for every `setPermission` and
  * `readlink` for every `getFileLinkStatus`. Spark's streaming checkpoint
  * manager calls both for each offset-log, commit-log, state-store delta
  * and `.crc` file it writes and renames. This class sets the same mode
  * bits through `java.nio`, and stats a path that is not a symlink
  * directly; the sticky bit and real symlinks still take Hadoop's path. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val mode = permission.toShort
      // values() runs owner rwx, group rwx, others rwx: bit 8 down to bit 0
      val bits = PosixFilePermission.values.zipWithIndex.collect {
        case (b, i) if (mode & (0x100 >> i)) != 0 => b
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, bits.toSet.asJava): Unit
    }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object LocalFs {
  /** The Spark confs that make a session's `file:` paths resolve to the
    * classes below, for both of Hadoop's filesystem APIs. */
  val Confs: Seq[(String, String)] = Seq(
    "spark.hadoop.fs.file.impl" -> classOf[GraftLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[GraftLocalFs].getName)
}

/** `fs.file.impl`: the checksummed `FileSystem` over the fork-free raw one. */
class GraftLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, the `FileContext` that Spark's
  * checkpoint manager writes through: Hadoop's `LocalFs` over the fork-free
  * raw filesystem.
  *
  * It is not a `org.apache.hadoop.fs.local.LocalFs`, so the checkpoint
  * manager's `isLocal` (an `instanceof LocalFs` check) is false. In
  * spark-sql 4.1.2 only `ChecksumCheckpointFileManager.isLocal` reads it,
  * by delegation, and nothing calls that. */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new GraftRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs`, whose constructors are package-private, over
  * [[ForkFreeRawLocalFileSystem]]. */
class GraftRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
