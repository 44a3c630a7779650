package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.{FsAction, FsPermission}

/** The `file:` filesystem of every engine JVM (bound by `fs.file.impl` in
  * the `core-site.xml` resource): Hadoop's checksummed [[LocalFileSystem]]
  * over a raw filesystem that sets permissions through java.nio.
  *
  * Without `libhadoop`, `RawLocalFileSystem.setPermission` forks a `chmod`
  * process, and Hadoop calls it for every file and directory it creates
  * with a permission — each part file, `.crc` sidecar, `_SUCCESS` marker
  * and partition directory of a parquet write. `Files.setPosixFilePermissions`
  * sets the same bits in-process: user, group and other actions map one to
  * one; a mode with the sticky bit, which NIO cannot express, goes through
  * Hadoop's own path.
  *
  * Before this binding, `file:` resolved to Hive's `ProxyLocalFileSystem`,
  * the last `file` entry of `hive-exec`'s ServiceLoader list. Its only
  * override is a `rename` that refuses an existing destination file. No
  * engine rename relies on that refusal: each one in [[Compact]] targets a
  * directory, or a path deleted just before. */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission))
  }

  private def posix(permission: FsPermission): java.util.Set[PosixFilePermission] = {
    val out = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    def add(a: FsAction, r: PosixFilePermission, w: PosixFilePermission,
            x: PosixFilePermission): Unit = {
      if (a.implies(FsAction.READ)) out.add(r)
      if (a.implies(FsAction.WRITE)) out.add(w)
      if (a.implies(FsAction.EXECUTE)) out.add(x)
    }
    add(permission.getUserAction, OWNER_READ, OWNER_WRITE, OWNER_EXECUTE)
    add(permission.getGroupAction, GROUP_READ, GROUP_WRITE, GROUP_EXECUTE)
    add(permission.getOtherAction, OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE)
    out
  }
}
