package graft.operators

import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's local file system: Hadoop's checksummed [[LocalFileSystem]]
  * (`.crc` sidecars written, reads verified) over [[NioRawLocalFileSystem]].
  * Every store write and every driver-side store file operation on a
  * `file:` path goes through it ([[StoredTable.storeWriteOptions]],
  * [[StoredTable.fileSystem]]). Public with a no-argument constructor:
  * Hadoop instantiates it by name from `fs.file.impl`, in the driver and in
  * every task that writes.
  */
class SpawnFreeLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Hadoop's raw local file system with `setPermission` done in-process.
  *
  * Without the native Hadoop library, `RawLocalFileSystem.setPermission`
  * starts a `chmod` process, and Hadoop calls it for every file it creates
  * (each data file and each `.crc` sidecar) and every directory `mkdirs`
  * makes — a few milliseconds per call, paid for each of the many small
  * partition files a store batch writes. Here the nine `rwx` bits go
  * through `Files.setPosixFilePermissions` instead: the same mode, no
  * process. A mode with any bit outside `0777` (sticky, setuid, setgid),
  * or a platform without POSIX attributes, keeps Hadoop's own path.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if (NioRawLocalFileSystem.inProcess(mode))
      Files.setPosixFilePermissions(pathToFile(p).toPath, NioRawLocalFileSystem.posixSet(mode))
    else super.setPermission(p, permission)
  }
}

object NioRawLocalFileSystem {
  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** Whether `mode` is set in-process: POSIX attributes exist and no bit
    * lies outside `0777`.
    */
  private[graft] def inProcess(mode: Int): Boolean = posix && (mode & ~0x1ff) == 0

  /** The `PosixFilePermission` set of the nine bits of `mode`. The enum's
    * constants run owner r,w,x, group r,w,x, others r,w,x: bit 8 down to 0.
    */
  private[graft] def posixSet(mode: Int): java.util.Set[PosixFilePermission] = {
    val out = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (b, i) =>
      if ((mode & (1 << (8 - i))) != 0) out.add(b)
    }
    out
  }
}
