package graft.spark

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import scala.jdk.CollectionConverters._

/** The `file:` filesystem of every graft session (`Sessions.build`):
  * Hadoop's checksummed `LocalFileSystem` (`.crc` sidecars written and
  * verified as before) over a raw filesystem that sets permission bits
  * in-process. Without the native `libhadoop`, Hadoop's own
  * `RawLocalFileSystem.setPermission` forks a `chmod` process for every
  * file, `.crc` sidecar and directory a write creates.
  */
class InProcessLocalFileSystem extends LocalFileSystem(new InProcessRawLocalFileSystem)

class InProcessRawLocalFileSystem extends RawLocalFileSystem {

  /** The nine rwx bits through `java.nio`; a mode with sticky, setuid
    * or setgid bits, which `java.nio` cannot set, takes Hadoop's path.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, InProcessRawLocalFileSystem.posix(mode))
  }
}

private object InProcessRawLocalFileSystem {

  // OWNER_READ .. OTHERS_EXECUTE: mode bits 8 down to 0
  private val ByBit = PosixFilePermission.values().toSeq.reverse.zipWithIndex

  def posix(mode: Int): java.util.Set[PosixFilePermission] =
    ByBit.collect { case (perm, bit) if (mode & (1 << bit)) != 0 => perm }.toSet.asJava
}
