package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed `file:` filesystem (`.crc` files included), with
  * a raw filesystem that sets POSIX modes in-process.
  *
  * Without the native `libhadoop`, `RawLocalFileSystem.setPermission`
  * forks `chmod` — and it runs on every `create` and every `mkdirs`, so
  * each parquet part file, state-store delta and streaming log entry
  * paid a process fork. [[graft.core.Graft.tune]] registers this class
  * as `fs.file.impl`.
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeLocalFileSystem.Raw)

object ForkFreeLocalFileSystem {

  /** `RawLocalFileSystem` with `setPermission` through
    * `Files.setPosixFilePermissions`. The sticky bit has no NIO
    * equivalent, and a non-POSIX file store has no modes: both take the
    * stock path.
    */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else
        try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission.toShort))
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }

  // PosixFilePermission.values runs OWNER_READ (mode bit 8) down to
  // OTHERS_EXECUTE (mode bit 0)
  private def posix(mode: Short): java.util.Set[PosixFilePermission] = {
    val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
      if ((mode & (1 << (8 - i))) != 0) perms.add(perm)
    }
    perms
  }
}
