package graft.core

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system without process launches. Without
  * Hadoop's native library, the stock class forks `chmod` for every
  * file and directory it creates, and (on the FileContext route) forks
  * `readlink` for every link check a `rename` makes. Here both go
  * through java.nio; every other call is the stock one. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  /** The same 9 mode bits the `chmod` fork would set (owner, group,
    * others; `PosixFilePermission.values` is in that bit order). */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort
    val perms = PosixFilePermission.values.zipWithIndex.collect {
      case (perm, i) if ((bits >> (8 - i)) & 1) == 1 => perm
    }
    Files.setPosixFilePermissions(pathToFile(p).toPath, perms.toSet.asJava)
  }

  /** Not a symlink: the plain status, which is what the stock class
    * returns when `readlink` prints nothing (a missing path throws
    * `FileNotFoundException`). A real symlink takes the stock route. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the stock checksummed `LocalFileSystem` (`.crc`
  * files kept) over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, the FileContext route (Structured
  * Streaming's checkpoint files): the stock `local.LocalFs` layout, a
  * `ChecksumFs` over a delegate to [[NioRawLocalFileSystem]], with
  * `local.RawLocalFs`'s server defaults and name rule. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
  new DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  })
