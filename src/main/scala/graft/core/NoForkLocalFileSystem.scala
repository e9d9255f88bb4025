package graft.core

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
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
  }
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
