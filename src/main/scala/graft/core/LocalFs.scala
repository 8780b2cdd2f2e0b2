package graft.core

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem every session runs on: Hadoop's
  * `RawLocalFileSystem` with its two process launches done in-process.
  *
  * Spark's jars ship no `libhadoop`, so the stock class shells out a
  * `chmod` on every `create` and `mkdir` (`setPermission`) and a
  * `readlink` on every `getFileLinkStatus` — two per `FileContext.rename`.
  * The streaming offset/commit logs, RocksDB snapshot uploads, parquet
  * part files and catalog commits make hundreds of these per pipeline
  * op, at ~3 ms a launch against ~0.02 ms for the same call through
  * `java.nio`. Results are the stock class's: a mode that needs a bit
  * `java.nio` cannot set (sticky), or a target carrying setuid/setgid/
  * sticky bits that `chmod` would keep, takes the stock path; so does
  * the link status of a real symlink.
  */
class GraftRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val path = pathToFile(p).toPath
    val specialBits = 0xe00 // setuid, setgid, sticky
    if (permission.getStickyBit ||
        (Files.getAttribute(path, "unix:mode").asInstanceOf[Int] & specialBits) != 0)
      super.setPermission(p, permission)
    else
      Files.setPosixFilePermissions(path, PosixFilePermissions.fromString(
        permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
          permission.getOtherAction.SYMBOL))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed `FileSystem` over [[GraftRawLocalFileSystem]]. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: `FileContext`'s view (Spark's
  * `CheckpointFileManager`, RocksDB uploads), checksummed like `LocalFs`
  * over a raw delegate that answers like `RawLocalFs`. */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new GraftRawLocalFs(uri, conf))

class GraftRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new GraftRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
