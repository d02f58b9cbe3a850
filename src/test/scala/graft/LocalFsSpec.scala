package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import graft.sources.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileAlreadyExistsException, FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.SparkConf

/** The fork-free `file:` filesystem behaves as the stock local one on
  * the same paths: permissions, link status, missing paths, rename
  * and `.crc` checksums. Only the binding test touches the session,
  * and no test starts a Spark job.
  */
class LocalFsSpec extends SparkSuite {

  private val root = URI.create("file:///")

  private def conf(umask: String = "022"): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  private def init[T <: FileSystem](fs: T, c: Configuration = conf()): T = {
    fs.initialize(root, c); fs
  }

  private def tmp(prefix: String): java.nio.file.Path = Files.createTempDirectory(prefix)

  /** Every path under `dir`, relative, with its POSIX mode. */
  private def modes(dir: java.nio.file.Path): Map[String, String] =
    Files.walk(dir).iterator().asScala.filter(_ != dir).map { p =>
      dir.relativize(p).toString ->
        java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toMap

  /** The fields of a status (`FileStatus.equals` compares the path
    * only), or the class of the exception raised instead.
    */
  private def outcome(status: => FileStatus): Either[Class[_], Product] =
    scala.util.Try(status).toEither.left.map(_.getClass).map { s =>
      (s.getPath, s.isFile, s.isDirectory, s.isSymlink, if (s.isSymlink) s.getSymlink else null,
        s.getLen, s.getModificationTime, s.getPermission, s.getOwner, s.getGroup)
    }

  test("create and mkdirs leave the stock file and dir modes under the session umask") {
    for (umask <- Seq("022", "027", "077")) {
      val trees = Seq[FileSystem](init(new LocalFileSystem, conf(umask)),
        init(new NioLocalFileSystem, conf(umask))).map { fs =>
        val dir = tmp("graft-lfs-mode-")
        val base = new Path(dir.toUri)
        fs.create(new Path(base, "a/f.txt")).close()
        fs.create(new Path(base, "g.txt"), new FsPermission("640"),
          false, 4096, 1.toShort, 1 << 20, null).close()
        fs.mkdirs(new Path(base, "d/e"))
        fs.mkdirs(new Path(base, "m"), new FsPermission("750"))
        modes(dir)
      }
      assert(trees(0).keySet.exists(_.endsWith(".crc")))
      assert(trees(1) == trees(0), s"umask $umask")
    }
  }

  test("a sticky-bit mode falls back to the stock chmod and is applied") {
    val stock = init(new RawLocalFileSystem)
    val perm = new FsPermission("1777")
    val dirs = Seq[FileSystem](stock, init(new NioRawLocalFileSystem)).map { fs =>
      val d = new Path(tmp("graft-lfs-sticky-").toUri)
      fs.setPermission(d, perm)
      stock.getFileStatus(d).getPermission
    }
    assert(dirs(0).getStickyBit && dirs(1) == dirs(0))
  }

  test("setPermission on a missing path raises FileNotFoundException") {
    val missing = new Path(tmp("graft-lfs-missing-").toUri.toString + "nope")
    intercept[FileNotFoundException] {
      init(new NioRawLocalFileSystem).setPermission(missing, FsPermission.getFileDefault)
    }
  }

  test("getFileLinkStatus equals stock for a file, a dir, a symlink and a dangling symlink; missing raises") {
    val dir = tmp("graft-lfs-link-")
    val file = Files.write(dir.resolve("f.txt"), "abc".getBytes)
    val sub = Files.createDirectory(dir.resolve("sub"))
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    val stock = init(new LocalFileSystem)
    val ours = init(new NioLocalFileSystem)
    // both spellings: stock reads a link only through a scheme-less path
    for (p <- Seq(file, sub, link, dangling); path <- Seq(new Path(p.toUri), new Path(p.toString)))
      assert(outcome(ours.getFileLinkStatus(path)) == outcome(stock.getFileLinkStatus(path)), path)
    val l = ours.getFileLinkStatus(new Path(link.toString))
    assert(l.isSymlink && l.getSymlink == new Path(file.toUri))
    assert(ours.getFileLinkStatus(new Path(dangling.toString)).isSymlink)
    intercept[FileNotFoundException](ours.getFileLinkStatus(new Path(dir.resolve("none").toUri)))
  }

  test("FileContext rename: no overwrite raises FileAlreadyExistsException, OVERWRITE replaces") {
    def write(fc: FileContext, p: Path, s: String): Unit = {
      val out = fc.create(p, EnumSet.of(CreateFlag.CREATE))
      out.write(s.getBytes); out.close()
    }
    val contexts = Seq(FileContext.getLocalFSFileContext(conf()),
      FileContext.getFileContext(new NioLocalFs(root, conf()), conf()))
    for (fc <- contexts) {
      val base = new Path(tmp("graft-lfs-rename-").toUri)
      val (src, dst) = (new Path(base, "src"), new Path(base, "dst"))
      write(fc, src, "new"); write(fc, dst, "old")
      intercept[FileAlreadyExistsException](fc.rename(src, dst))
      assert(new String(Files.readAllBytes(Paths.get(dst.toUri))) == "old")
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      assert(!fc.util.exists(src))
      assert(new String(Files.readAllBytes(Paths.get(dst.toUri))) == "new")
    }
  }

  test("a corrupted byte is caught by the .crc side file") {
    // written through FileSystem and through FileContext, read back
    // through FileSystem (FileContext's open skips the check, as stock)
    val data = Array.tabulate[Byte](4096)(i => (i % 251).toByte)
    val fs = init(new NioLocalFileSystem)
    val fc = FileContext.getFileContext(new NioLocalFs(root, conf()), conf())
    val dir = tmp("graft-lfs-crc-")
    val (viaFs, viaFc) = (new Path(dir.resolve("f.bin").toUri), new Path(dir.resolve("g.bin").toUri))
    val out = fs.create(viaFs); out.write(data); out.close()
    val out2 = fc.create(viaFc, EnumSet.of(CreateFlag.CREATE)); out2.write(data); out2.close()
    for (p <- Seq(viaFs, viaFc)) {
      assert(Files.exists(dir.resolve(s".${p.getName}.crc")))
      val ch = Files.newByteChannel(Paths.get(p.toUri), StandardOpenOption.WRITE)
      try ch.position(1000).write(java.nio.ByteBuffer.wrap(Array[Byte](-1))) finally ch.close()
      val in = fs.open(p)
      try intercept[ChecksumException](in.readFully(new Array[Byte](data.length))) finally in.close()
    }
  }

  test("the session binds the fork-free filesystem to file: for FileSystem and FileContext") {
    val hc = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.getFileSystemClass("file", hc) == classOf[NioLocalFileSystem])
    assert(new Path("file:///tmp").getFileSystem(hc).isInstanceOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(hc).getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }

  test("a preset fs.file.impl is kept") {
    assert(GraftSession.fileImpl(new SparkConf(false)) == classOf[NioLocalFileSystem].getName)
    val preset = new SparkConf(false).set(GraftSession.FileImplKey, "x.CountingFs")
    assert(GraftSession.fileImpl(preset) == "x.CountingFs")
  }
}
