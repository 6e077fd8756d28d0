package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without its process forks.
  *
  * Without native libhadoop, `RawLocalFileSystem` runs a shell `chmod`
  * for every file and directory it creates and a `readlink` for every
  * `getFileLinkStatus` (which `FileContext.rename` calls twice). Each is
  * a process start of a few ms, and a streaming relay batch made about
  * a hundred of them. Here:
  *
  *  - `setPermission` sets the same mode bits through `java.nio`. Modes
  *    beyond the nine rwx bits (the sticky bit) and filesystems without
  *    a POSIX attribute view keep Hadoop's own path.
  *  - `getFileLinkStatus` answers a path that is not a symlink with
  *    `getFileStatus`, which is what Hadoop returns for it after its
  *    `readlink` came back empty; real symlinks keep Hadoop's path.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      // PosixFilePermission.values runs OWNER_READ (0400) down to
      // OTHERS_EXECUTE (0001): value i is mode bit 8 - i
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.zipWithIndex.foreach { case (pp, i) =>
        if ((mode & (1 << (8 - i))) != 0) perms.add(pp)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The `file` scheme's `FileSystem` (`fs.file.impl`): Hadoop's
  * checksummed `LocalFileSystem` over [[ForkFreeRawLocalFileSystem]].
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The `file` scheme's `AbstractFileSystem`
  * (`fs.AbstractFileSystem.file.impl`), which `FileContext` — and so
  * the streaming checkpoint — uses: Hadoop's `LocalFs` shape, a
  * `ChecksumFs` over a delegate to [[ForkFreeRawLocalFileSystem]].
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs` (whose constructor hard-wires the stock raw
  * filesystem) with the fork-free one inside; the overrides are
  * `RawLocalFs`'s own.
  */
private class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
