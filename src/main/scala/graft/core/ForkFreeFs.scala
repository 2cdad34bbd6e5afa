package graft.core

import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without its shell fallbacks: the engine's
  * one `file:` filesystem, registered by [[Sessions.builder]] for both
  * Hadoop APIs (see there for why and for the cache hazard).
  *
  * Without `libhadoop`, `RawLocalFileSystem` starts a `chmod` process in
  * `setPermission`, which it calls on every file it creates and every
  * directory it makes, and a `readlink` process in `getFileLinkStatus`,
  * which `FileContext` calls four times per rename. This class does both
  * in-process; everything else, checksums included, is Hadoop's.
  *
  *  - `setPermission` sets exactly the mode bits Hadoop would pass to
  *    `chmod` (the caller has already applied the umask). A mode with
  *    bits outside `0777` (sticky) goes to Hadoop's `chmod`. One
  *    difference: GNU `chmod` with a four-digit mode keeps a directory's
  *    setgid bit, this clears it; no engine path relies on it.
  *  - `getFileLinkStatus` of a path that is not a symlink is its
  *    `getFileStatus`, which is what Hadoop returns after `readlink`
  *    reports no target (a missing path throws `FileNotFoundException`
  *    either way). A symlink, dangling or not, goes to Hadoop.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      // declaration order is owner rwx, group rwx, others rwx: bit 8 down to 0
      val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
        if ((mode & (1 << (8 - i))) != 0) set.add(perm)
      }
      Files.setPosixFilePermissions(nio(p), set)
    }
  }

  override def getFileLinkStatus(p: Path): FileStatus =
    if (Files.isSymbolicLink(nio(p))) super.getFileLinkStatus(p) else getFileStatus(p)

  private def nio(p: Path): NioPath = pathToFile(p).toPath
}

/** The `FileSystem` API's `file:` filesystem: Hadoop's checksummed
  * `LocalFileSystem` over [[ForkFreeRawLocalFileSystem]]. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The `FileContext` API's `file:` filesystem: Hadoop's `LocalFs`
  * (checksums over a delegate to the raw filesystem) over
  * [[ForkFreeRawLocalFileSystem]]. `FileContext` instantiates it by
  * reflection with this constructor. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs`, whose constructors are package-private, over
  * [[ForkFreeRawLocalFileSystem]]. */
private class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}
