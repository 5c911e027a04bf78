package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The local file system without process forks. Without libhadoop, stock
  * `RawLocalFileSystem` runs `chmod` for every file and directory it
  * creates and `readlink` for every `FileContext` rename; each start costs
  * milliseconds, against microseconds for the same call through
  * `java.nio`. This class does those two calls in-process and leaves every
  * other behaviour (checksums, renames, listing) to the stock code.
  * [[graft.Sessions]] registers it for the `file` scheme through the two
  * wrappers below. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** The same mode bits as the stock `chmod`. A sticky bit (which
    * `PosixFilePermission` cannot express) or a store without a POSIX view
    * takes the stock path. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath,
        NioRawLocalFileSystem.posix(permission.toShort))
      catch {
        case _: UnsupportedOperationException =>
          super.setPermission(p, permission)
      }

  /** A path that is not a symlink gets `getFileStatus`, which is what the
    * stock method returns once its `readlink` prints nothing; a missing
    * path throws `FileNotFoundException` from there, as it does stock. A
    * real symlink takes the stock path. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioRawLocalFileSystem {
  /** `PosixFilePermission.values` runs from owner-read (0400) down to
    * others-execute (0001). */
  private def posix(mode: Short): java.util.Set[PosixFilePermission] = {
    val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (1 << (8 - i))) != 0) perms.add(p)
    }
    perms
  }
}

/** `fs.file.impl`: stock `LocalFileSystem` (checksummed) over
  * [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Stock `RawLocalFs` over [[NioRawLocalFileSystem]]; its constructors are
  * package-private, so its overrides are repeated here. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`, the `FileContext` view that Spark's
  * streaming checkpoint log renames through: stock `LocalFs` (checksummed)
  * over [[NioRawLocalFs]]. Like `LocalFs`, it always binds `file:///`. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
