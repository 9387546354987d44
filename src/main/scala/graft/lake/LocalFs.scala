package graft.lake

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, LinkOption, NoSuchFileException}
import java.nio.file.attribute.{BasicFileAttributes, PosixFilePermissions}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without the per-file process launches.
  *
  * Without libhadoop (the usual case for a pip- or tarball-installed
  * Spark) `RawLocalFileSystem` forks a `chmod` for every file and
  * directory it creates, and `getFileLinkStatus` forks a `readlink` —
  * eight of them per `FileContext` rename, which is how Structured
  * Streaming commits its checkpoint files. A fork costs milliseconds
  * each, and a lake write, a store publish, a sink delta or a
  * checkpoint commit makes dozens of them.
  *
  * This subclass overrides only those two calls, with the JDK's own
  * file attribute API: the same permission bits, the same statuses.
  * Sticky bits (which NIO cannot set) and real symlinks still take
  * Hadoop's own code path. [[graft.core.GraftSession.builder]]
  * registers it for the `file:` scheme through both Hadoop client
  * APIs — [[GraftLocalFileSystem]] for `FileSystem.get` and
  * [[GraftLocalFs]] for `FileContext` — each keeping Hadoop's
  * checksummed wrapper, so `.crc` siblings are written as before.
  */
class GraftRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))

  /** A non-link's status is its plain status; a missing path throws
    * [[FileNotFoundException]], as Hadoop's does; a symlink (dangling
    * or not) goes to Hadoop's code, which reads its target.
    */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val attrs = try Files.readAttributes(pathToFile(f).toPath,
      classOf[BasicFileAttributes], LinkOption.NOFOLLOW_LINKS)
    catch {
      case _: NoSuchFileException =>
        throw new FileNotFoundException(s"File $f does not exist")
    }
    if (attrs.isSymbolicLink) super.getFileLinkStatus(f) else getFileStatus(f)
  }
}

/** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over
  * [[GraftRawLocalFileSystem]].
  */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl` (the `FileContext` API): Hadoop's
  * `LocalFs` — a checksummed delegate to the raw local filesystem —
  * over [[GraftRawLocalFileSystem]].
  */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new GraftRawLocalFs(conf))

/** Hadoop's `RawLocalFs` over [[GraftRawLocalFileSystem]]. */
class GraftRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new GraftRawLocalFileSystem,
      conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
