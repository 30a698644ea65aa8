package graft.lake

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without forked helper processes. Without
  * the native libhadoop, `RawLocalFileSystem` runs `chmod` in a child
  * process for every file it creates and every directory it makes, and
  * `readlink` for every `getFileLinkStatus` (a FileContext rename — each
  * streaming checkpoint log entry — makes several). Each fork costs a few
  * ms, serially on the writing thread. This class does the same work
  * through java.nio.
  */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {
  /** The same POSIX bits `chmod` would set (it follows symlinks, as nio
    * does); java.nio has no sticky bit, so that rare case keeps the fork.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val bits = permission.toShort
      // PosixFilePermission's ordinals run OWNER_READ (0400) … OTHERS_EXECUTE (0001)
      val perms = PosixFilePermission.values.filter(x => (bits & (1 << (8 - x.ordinal))) != 0)
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms.toSet.asJava)
    }

  /** Hadoop's version forks `readlink` on `f.toString`, which for a
    * qualified `file:` path never names a link; a real symlink keeps
    * Hadoop's handling, anything else is its plain status.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed `file:` FileSystem (`fs.file.impl`): `.crc` files as
  * Hadoop's LocalFileSystem writes them, over [[NoForkRawLocalFileSystem]].
  */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem)

/** Hadoop's `RawLocalFs` over [[NoForkRawLocalFileSystem]]: its
  * constructors are package-private and hard-wire the stock raw class, so
  * its port, server-default and name overrides are repeated here.
  */
class NoForkRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NoForkRawLocalFileSystem, conf, uri.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  @deprecated("use getServerDefaults(Path)", "")
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `file:` AbstractFileSystem (`fs.AbstractFileSystem.file.impl`),
  * which FileContext — Spark's streaming checkpoint manager — uses.
  */
class NoForkLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NoForkRawLocalFs(uri, conf))
