package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system without a process per call. Without
  * libhadoop, `RawLocalFileSystem` starts a `chmod` process for every
  * file it creates or directory it makes, and a `readlink` process for
  * every link-status lookup, which `FileContext` makes on each rename:
  * the option aggregation's state, WAL and offset commits started ~128
  * of them per micro-batch. This subclass does those two calls in the
  * JVM and leaves every other method Hadoop's own. [[GraftConf]]
  * registers it for the `file:` scheme only.
  */
class GraftRawLocalFileSystem extends RawLocalFileSystem {

  /** The mode bits `chmod` would set, through java.nio. A mode beyond
    * rwx (the sticky bit) and a file system without POSIX attributes
    * take the parent's path.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath,
        GraftRawLocalFileSystem.posix(mode))
      catch {
        case _: UnsupportedOperationException =>
          super.setPermission(p, permission)
      }
  }

  /** A path that is not a symbolic link has no status beyond its file
    * status (the parent returns exactly that once `readlink` finds no
    * link); only a real link asks the parent.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object GraftRawLocalFileSystem {
  // OWNER_READ (0400) down to OTHERS_EXECUTE (0001), in declaration order
  private val bits = PosixFilePermission.values.toSeq.zipWithIndex
    .map { case (b, i) => b -> (0x100 >> i) }

  /** The permission set of an rwx `mode` (0 to 0777). */
  def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    bits.foreach { case (b, bit) => if ((mode & bit) != 0) s.add(b) }
    s
  }
}

/** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over
  * [[GraftRawLocalFileSystem]], so `.crc` sidecars are written and
  * checked as before.
  */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: a `ChecksumFs` over
  * [[GraftRawLocalFs]], as Hadoop's `LocalFs` is over `RawLocalFs`; the
  * checkpoint manager's atomic overwrite-rename goes through it.
  */
class GraftLocalFs(uri: URI, conf: Configuration)
  extends ChecksumFs(new GraftRawLocalFs(uri, conf))

/** [[GraftRawLocalFileSystem]] behind the `FileContext` API, with the
  * four answers of Hadoop's `RawLocalFs`, whose constructors are
  * package-private: no default port, the local server defaults, and no
  * name rule.
  */
class GraftRawLocalFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new GraftRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  @deprecated("as AbstractFileSystem.getServerDefaults()", "")
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
