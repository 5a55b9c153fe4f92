package graft.core

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without a process per call.
  *
  * Without libhadoop (Spark's distribution ships none), `RawLocalFileSystem`
  * runs `chmod` through Hadoop's `Shell` for every file and directory
  * it creates with a permission, and `readlink` for every
  * `getFileLinkStatus` — which FileContext's rename asks several times
  * per call. Every streaming trigger writes an offset log, a commit
  * log and one delta per state store through those paths, so a
  * stream-stream join spent most of each trigger starting processes.
  *
  * This subclass answers both from `java.nio`: permissions are set
  * with `Files.setPosixFilePermissions` (a sticky bit, which NIO
  * cannot express, still goes to `super`), and a path that is not a
  * symbolic link reports its plain `getFileStatus` (a real link still
  * goes to `super`). Everything else — umask, `.crc` sidecars, rename
  * without overwrite — is the stock code path. [[Sessions]] registers
  * the two wrappers below for the `file` scheme.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed FileSystem API over
  * [[NioRawLocalFileSystem]], as `LocalFileSystem` is over the raw one. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the checksummed FileContext API
  * over [[NioRawLocalFileSystem]], as Hadoop's `LocalFs` is over
  * `RawLocalFs` (whose constructors are package-private, so its
  * overrides are repeated here). */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
    new DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
      override def getServerDefaults(f: Path): FsServerDefaults =
        LocalConfigKeys.getServerDefaults()
      override def isValidName(src: String): Boolean = true
    })
