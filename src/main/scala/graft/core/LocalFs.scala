package graft.core

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The local filesystem with permissions set in-process.
  *
  * Without `libhadoop`, Hadoop's `RawLocalFileSystem.setPermission`
  * forks a `chmod` for every file, `.crc` file and directory it creates
  * (3–4 ms each on a 4-vCPU VM, NOTES "Local permissions in-process").
  * This one calls `Files.setPosixFilePermissions` with the same nine rwx
  * bits. A mode with a sticky bit, or a filesystem with no POSIX view,
  * takes Hadoop's own path, so every mode comes out as the stock
  * filesystem sets it.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath, NioRawLocalFileSystem.posix(mode)): Unit
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }
}

object NioRawLocalFileSystem {
  private val bits = PosixFilePermission.values // owner rwx, group rwx, others rwx

  /** The permission set of the nine low bits of `mode`. */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for (i <- bits.indices if (mode & (1 << (8 - i))) != 0) set.add(bits(i))
    set
  }
}

/** `file://` for `FileSystem.get`: Hadoop's checksummed local
  * filesystem (`.crc` written on create, verified on read) over
  * [[NioRawLocalFileSystem]].
  *
  * `rename` onto an existing file returns false, as Hadoop's filesystem
  * contract (and HDFS) has it. The local filesystem would replace the
  * file; Hive's `ProxyLocalFileSystem`, which Spark's jars register for
  * `file://` when nothing else is set, refuses, and so does this one.
  */
class GraftLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean = {
    val dstIsFile = try getFileStatus(dst).isFile catch { case _: FileNotFoundException => false }
    !dstIsFile && super.rename(src, dst)
  }
}

/** The raw `file://` filesystem for `FileContext`, as Hadoop's
  * `RawLocalFs` (whose constructors are package-private) but over
  * [[NioRawLocalFileSystem]]. */
class NioRawLocalFs(uri: URI, conf: Configuration) extends DelegateToFileSystem(
    uri, new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `file://` for `FileContext` (streaming checkpoints, atomic-replace
  * renames): checksummed, as Hadoop's `LocalFs`. */
class GraftLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))
