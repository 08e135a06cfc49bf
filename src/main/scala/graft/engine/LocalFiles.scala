package graft.engine

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system without a forked child process per
  * call. Without `libhadoop.so` (no native IO), `RawLocalFileSystem`
  * runs `chmod` for every file and directory it creates and
  * `readlink` for every `getFileLinkStatus`, which every FileContext
  * rename calls; each fork costs milliseconds (see [[GraftSession]]).
  * Here the permission bits are set through java.nio and a path
  * java.nio does not see as a symlink is stat'ed directly. Sticky
  * bits, a file system without POSIX attributes and real symlinks go
  * to Hadoop's own code. Everything else — checksums, rename, listing
  * — is Hadoop's. [[GraftSession.builder]] registers it for `file:`
  * as [[LocalFiles.Checked]] and [[LocalFiles.CheckedFs]]. */
class LocalFiles extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort.toInt
    if ((bits & ~0x1ff) != 0 || !setPosix(p, bits)) super.setPermission(p, permission)
  }

  private def setPosix(p: Path, bits: Int): Boolean =
    try { Files.setPosixFilePermissions(pathToFile(p).toPath, LocalFiles.posix(bits)); true }
    catch { case _: UnsupportedOperationException => false }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object LocalFiles {

  /** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` (`.crc`
    * side files kept) over [[LocalFiles]]. */
  final class Checked extends LocalFileSystem(new LocalFiles)

  /** `fs.AbstractFileSystem.file.impl`, the FileContext side that
    * Spark's streaming checkpoint manager renames through: Hadoop's
    * `LocalFs` shape (a `ChecksumFs` over a delegate) with
    * [[LocalFiles]] as the delegate. Hadoop constructs it by
    * reflection with (URI, Configuration); `file:` has one URI. */
  final class CheckedFs(uri: URI, conf: Configuration)
      extends ChecksumFs(new RawFs(conf))

  /** Hadoop's `RawLocalFs` (package-private there) over [[LocalFiles]]. */
  private final class RawFs(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new LocalFiles, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults()
    override def getServerDefaults(): FsServerDefaults =
      LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }

  private val ordered = PosixFilePermission.values().toSeq

  /** rwx bits (0777) as java.nio permissions: OWNER_READ is 0400, and
    * each later constant one bit lower. */
  private def posix(bits: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    ordered.zipWithIndex.foreach { case (p, i) =>
      if ((bits & (0x100 >> i)) != 0) set.add(p) }
    set
  }
}
