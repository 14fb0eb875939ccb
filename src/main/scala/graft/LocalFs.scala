package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** `RawLocalFileSystem` that does its two per-file shell calls in process.
  *
  * Without the native Hadoop library the stock class forks a shell for
  * `chmod` on every `create` and `mkdirs`, and for `readlink` twice on
  * every `FileContext` rename. A checkpoint file of a few bytes then costs
  * tens of milliseconds of process start-up. This subclass overrides only
  * those two calls, and only where the in-process answer is the stock one:
  *  - `setPermission` sets the same nine POSIX bits through
  *    `Files.setPosixFilePermissions`; a permission with the sticky bit,
  *    which NIO cannot set, goes to the stock `chmod`.
  *  - `getFileLinkStatus` of a path that is not a symlink is its
  *    `getFileStatus`, as the stock method returns (for a qualified
  *    `file:` path its `readlink` always fails, so it returns that for
  *    every such path). A real symlink goes to the stock method. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val bits = permission.toShort
      // PosixFilePermission lists owner rwx, group rwx, others rwx: bit 8 down to 0
      val perms = new java.util.HashSet[PosixFilePermission]()
      PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
        if ((bits & (1 << (8 - i))) != 0) perms.add(perm)
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The `file://` `FileSystem` (`fs.file.impl`): checksummed like Hadoop's
  * `LocalFileSystem`, over [[ForkFreeRawLocalFileSystem]].
  *
  * It keeps the one rule of the class it replaces. Hive's
  * `ProxyLocalFileSystem`, which hive-exec registers for the `file` scheme,
  * refuses a rename onto an existing file (returns `false`) rather than
  * moving the source into it. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean = !isExistingFile(dst) && super.rename(src, dst)

  private def isExistingFile(p: Path): Boolean =
    try getFileStatus(p).isFile catch { case _: FileNotFoundException => false }
}

/** The `file://` `FileContext` file system (`fs.AbstractFileSystem.file.impl`):
  * Hadoop's `LocalFs` over [[ForkFreeRawLocalFileSystem]]. Checksums and
  * `FileContext`'s atomic rename without overwrite, which Spark's default
  * checkpoint file manager relies on, are the stock ones. */
class ForkFreeLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs` (whose constructors are package-private) over
  * [[ForkFreeRawLocalFileSystem]]: the same four overrides. */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}
