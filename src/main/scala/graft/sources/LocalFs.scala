package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's checksummed local file system, minus the `chmod` forks.
  * Without libhadoop (Apache Spark ships none), `RawLocalFileSystem`
  * sets a permission by running `chmod` in a child process, and a local
  * write does that for every data file, every `.crc` sidecar and every
  * task-attempt dir it creates. Here the same 9 permission bits are set
  * in-process through `java.nio`. With libhadoop loaded, or for a
  * sticky bit, Hadoop's own call runs.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (NativeIO.isAvailable || permission.getStickyBit) super.setPermission(p, permission)
      else {
        val bits = permission.toShort
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        // PosixFilePermission lists OWNER_READ .. OTHERS_EXECUTE, mode bit 8 .. 0
        PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
          if ((bits & (1 << (8 - i))) != 0) perms.add(perm)
        }
        Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
        ()
      }
  }
}
