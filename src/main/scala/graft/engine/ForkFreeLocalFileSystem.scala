package graft.engine

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed `file:` filesystem over a raw filesystem whose
  * `setPermission` sets the mode through `java.nio` instead of forking
  * `chmod`. Without `libhadoop` the stock raw filesystem runs one `chmod`
  * child process for every file or directory it creates (every parquet
  * part, `_SUCCESS`, `.crc`, checkpoint and state-store file), which made
  * the per-file cost of a streaming micro-batch a process start, not I/O.
  * Modes are unchanged: the same `FsPermission` (already umasked by the
  * caller) lands as the same nine bits. A mode NIO cannot express (the
  * sticky bit) falls through to the stock `chmod`.
  * [[Engine.session]] installs it as `fs.file.impl`. */
class ForkFreeLocalFileSystem
    extends LocalFileSystem(new ForkFreeLocalFileSystem.Raw)

object ForkFreeLocalFileSystem {
  class Raw extends RawLocalFileSystem {
    // without the sticky bit, FsPermission renders as `rwxr-x---`
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString)): Unit
  }
}
