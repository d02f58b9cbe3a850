package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The local `file:` filesystem without a process per call. Without
  * libhadoop, stock `RawLocalFileSystem` forks `chmod` for every file
  * it creates and every directory it makes, and `readlink` for every
  * link-status lookup, which `FileContext` makes on every rename of a
  * checkpoint file. These two calls go through `java.nio` instead; everything
  * else, `.crc` checksums included, is the stock filesystem.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val mode = Seq(permission.getUserAction, permission.getGroupAction,
        permission.getOtherAction).map(_.SYMBOL).mkString
      try Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(mode))
      catch { case e: NoSuchFileException => throw new FileNotFoundException(e.getMessage) }
    }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** [[NioRawLocalFileSystem]] with `.crc` checksums: the `fs.file.impl`. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The `FileContext` side (`fs.AbstractFileSystem.file.impl`), which
  * streaming checkpoints use: Hadoop's `LocalFs` over
  * [[NioRawLocalFileSystem]]. Hadoop's own classes cannot be reused, as
  * their constructors are package-private and build the stock
  * filesystem; the overrides mirror `org.apache.hadoop.fs.local.RawLocalFs`.
  */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))

class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
