package graft.core

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system (`.crc` files kept) over
  * [[NoForkRawLocalFileSystem]]: every file, `.crc` and directory it
  * creates gets its mode without a forked `chmod`. */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem)

object NoForkLocalFileSystem {

  /** Route `file:` paths opened with `conf` through this file system.
    * Hadoop caches one `file:` instance per user, and whoever opened
    * `file:` first (an input write before any store existed) already
    * holds the cached plain one, which no later `fs.file.impl` reaches.
    * So `file:` instances for `conf` are not cached: each open builds a
    * fresh instance (microseconds), where evicting the shared cached one
    * would close it under its other holders and run their
    * delete-on-exit paths early. */
  def install(conf: Configuration): Unit = {
    conf.set("fs.file.impl", classOf[NoForkLocalFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    // what `FileContext` (Spark's streaming checkpoint) opens; not cached
    conf.set("fs.AbstractFileSystem.file.impl", classOf[NoForkLocalFs].getName)
  }
}

/** `FileContext`'s `file:` system, as Hadoop's `LocalFs` (checksummed,
  * `.crc` files kept) but over [[NoForkRawLocalFileSystem]]. Hadoop
  * builds it through this (URI, Configuration) constructor and, like
  * `LocalFs`, it ignores the URI: `file:` has one root. */
class NoForkLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NoForkRawLocalFs(conf))

/** Hadoop's `RawLocalFs` (whose constructors are package-private) over
  * [[NoForkRawLocalFileSystem]]. */
class NoForkRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new NoForkRawLocalFileSystem,
      conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  // the OS validates local names, as in RawLocalFileSystem
  override def isValidName(src: String): Boolean = true
}

/** `RawLocalFileSystem` whose `setPermission` sets the same mode bits
  * through `Files.setPosixFilePermissions`. Without Hadoop's native
  * library the stock call forks a `chmod` process per file, `.crc` and
  * directory a write creates. A sticky bit (no POSIX permission names
  * it) or a file store without POSIX permissions falls back to Hadoop's
  * own call. */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else
      // FsPermission renders a mode without sticky bit as `rwxr-x---`
      try Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString)): Unit
      catch {
        case _: UnsupportedOperationException => super.setPermission(p, permission)
      }
}
