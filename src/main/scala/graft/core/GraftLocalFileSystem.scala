package graft.core

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem, minus the two helper processes it forks
  * when no native `libhadoop` is loaded (Spark ships none).
  *
  * Stock `RawLocalFileSystem` runs every `setPermission` as a forked
  * `chmod` and every `getFileLinkStatus` as a forked `readlink`. A
  * streaming checkpoint file costs one of the first and four of the
  * second (`FileContext.rename` checks the link status of source and
  * destination, for the file and for its `.crc`), and the `readlink` is
  * handed the qualified `file:/…` string, so it always fails and never
  * finds a link. Here both go through `java.nio`:
  *   - `setPermission` sets the same nine posix bits the `chmod` would;
  *     a mode with the sticky bit, which nio cannot express, still
  *     goes to the stock path;
  *   - `getFileLinkStatus` answers `getFileStatus` unless the path
  *     really is a symlink, which the stock path then resolves.
  *
  * Checksums, the umask and permission bits are untouched.
  * `GraftSession.LocalFsConf` installs it as the session's `file:`
  * filesystem, as [[GraftLocalFileSystem]] (checksummed `FileSystem`)
  * and [[GraftLocalFs]] (checksummed `AbstractFileSystem`, what
  * `FileContext` and so Spark's streaming checkpoints use).
  */
class GraftRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      // a plain FsPermission prints the nine rwx bits; the FsCreateModes
      // a create passes prints its masked and unmasked modes
      val rwx = new FsPermission(permission.toShort).toString
      val file = pathToFile(p)
      try Files.setPosixFilePermissions(file.toPath,
        PosixFilePermissions.fromString(rwx)): Unit
      catch {
        case _: NoSuchFileException =>
          throw new FileNotFoundException(s"File $file does not exist")
      }
    }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed local `FileSystem` over
  * [[GraftRawLocalFileSystem]], as `LocalFileSystem` is over the stock raw
  * one.
  */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the checksummed local
  * `AbstractFileSystem` over [[GraftRawLocalFileSystem]], as Hadoop's
  * `LocalFs` is over `RawLocalFs`. Hadoop builds it reflectively from
  * `(URI, Configuration)`; like `LocalFs` it serves `file:///` whatever
  * the URI.
  */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new GraftRawLocalFs(conf))

/** Hadoop's `RawLocalFs` (whose constructors are package-private) over
  * [[GraftRawLocalFileSystem]]: the same port, server defaults and name
  * rule.
  */
private class GraftRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new GraftRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme,
      false) {
  override def getUriDefaultPort: Int = -1
  @deprecated("as in Hadoop's RawLocalFs", "")
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
