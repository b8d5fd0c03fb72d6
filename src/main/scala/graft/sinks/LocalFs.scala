package graft.sinks

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system over [[LocalFs.NioRaw]]: the
  * same `.crc` sidecars and read-side checks as the default
  * `LocalFileSystem`, with file modes set without a forked process.
  */
final class LocalFs extends LocalFileSystem(new LocalFs.NioRaw)

object LocalFs {

  /** `RawLocalFileSystem` whose `setPermission` sets the `rwx` bits
    * through `java.nio`, the same `chmod(2)` call Hadoop's native library
    * makes. Without that library, Hadoop forks `chmod` for every file and
    * directory it creates. A mode with the sticky bit (the one bit past
    * `rwx` that `FsPermission` carries), or a file system without POSIX
    * attributes, goes to Hadoop's own path.
    */
  final class NioRaw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else {
        val rwx = Seq(permission.getUserAction, permission.getGroupAction,
          permission.getOtherAction).map(_.SYMBOL).mkString
        try Files.setPosixFilePermissions(
          pathToFile(p).toPath, PosixFilePermissions.fromString(rwx))
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
      }
  }
}
