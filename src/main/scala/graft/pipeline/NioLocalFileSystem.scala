package graft.pipeline

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

/** The `file` scheme of [[TableIO]]'s write job: Hadoop's raw local file
  * system, so no `.crc` sidecar is written, with permissions set through
  * `java.nio`. Without the native Hadoop library the raw file system
  * forks a `chmod` child process for every file and dir it creates.
  */
class NioLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, perm: FsPermission): Unit =
    Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(perm.toString))
}
