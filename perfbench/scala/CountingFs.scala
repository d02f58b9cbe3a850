package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The `file:` FileSystem with a count of the calls made on it: opens,
  * creates, renames, deletes, listings, status lookups and permission
  * or time changes, from the driver and the executor threads alike.
  * The traced run installs it as `fs.file.impl`; every call goes on to
  * the stock local filesystem unchanged.
  */
class CountingLocalFileSystem extends LocalFileSystem(new CountingRawLocalFileSystem)

object CountingLocalFileSystem {
  val ops = new AtomicLong()
}

class CountingRawLocalFileSystem extends RawLocalFileSystem {
  import CountingLocalFileSystem.ops
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    ops.incrementAndGet(); super.open(f, bufferSize)
  }
  override def append(f: Path, bufferSize: Int, progress: Progressable): FSDataOutputStream = {
    ops.incrementAndGet(); super.append(f, bufferSize, progress)
  }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    ops.incrementAndGet(); super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    ops.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { ops.incrementAndGet(); super.rename(src, dst) }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    ops.incrementAndGet(); super.delete(p, recursive)
  }
  override def listStatus(f: Path): Array[FileStatus] = { ops.incrementAndGet(); super.listStatus(f) }
  override def mkdirs(f: Path): Boolean = { ops.incrementAndGet(); super.mkdirs(f) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    ops.incrementAndGet(); super.mkdirs(f, permission)
  }
  override def getFileStatus(f: Path): FileStatus = { ops.incrementAndGet(); super.getFileStatus(f) }
  override def setOwner(p: Path, username: String, groupname: String): Unit = {
    ops.incrementAndGet(); super.setOwner(p, username, groupname)
  }
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    ops.incrementAndGet(); super.setPermission(p, permission)
  }
  override def setTimes(p: Path, mtime: Long, atime: Long): Unit = {
    ops.incrementAndGet(); super.setTimes(p, mtime, atime)
  }
}
