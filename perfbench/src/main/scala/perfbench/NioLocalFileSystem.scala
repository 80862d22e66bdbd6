package perfbench

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system, setting permissions through
  * java.nio instead of a forked `chmod`. Without the native Hadoop library,
  * `RawLocalFileSystem.setPermission` forks `/bin/chmod` for every file it
  * creates; the stream's checkpoints create several files per state
  * partition and batch, and on 4 cores the drains started about 860
  * processes a second, so their time followed the host's process-spawn
  * cost. With the native library the same call is one `chmod` system call,
  * which is what this does. Everything else (temp file, checksum file,
  * rename) is Hadoop's own code. */
final class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

final class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))
}
