package graft

import java.io.{FileNotFoundException, RandomAccessFile}
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext, FileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.core.{NioLocalFileSystem, NioLocalFs}

/** The session's `file:` implementation ([[NioLocalFileSystem]],
  * [[NioLocalFs]]) behaves as Hadoop's stock local file system does —
  * modes, checksums, links — and starts no process on the commit path's
  * operations. */
class LocalFsSpec extends SparkSpec {

  private val root = URI.create("file:///")

  private def conf(umask: Option[String], afs: String): Configuration = {
    val c = new Configuration()
    umask.foreach(c.set("fs.permissions.umask-mode", _))
    c.set("fs.AbstractFileSystem.file.impl", afs)
    c
  }

  /** Uncached instances, so each sees its own configuration. */
  private def stockFs(c: Configuration): FileSystem = init(new org.apache.hadoop.fs.LocalFileSystem(), c)
  private def nioFs(c: Configuration): FileSystem = init(new NioLocalFileSystem(), c)
  private def init(fs: FileSystem, c: Configuration): FileSystem = { fs.initialize(root, c); fs }

  private val stockAfs = "org.apache.hadoop.fs.local.LocalFs"
  private val nioAfs = classOf[NioLocalFs].getName

  /** Creates dirs and files through both APIs under a fresh dir, and
    * returns every created path's mode, keyed by its relative name. */
  private def modes(fs: FileSystem, fc: FileContext): Map[String, String] = {
    val dir = Paths.get(tmpDir())
    val base = new Path(dir.toString)
    fs.mkdirs(new Path(base, "fs/a/b"))
    fs.create(new Path(base, "fs/a/b/f")).close()
    fc.mkdir(new Path(base, "fc/a/b"), FsPermission.getDirDefault, true)
    for (n <- Seq("f", "g", "h"))
      fc.create(new Path(base, s"fc/a/b/$n"), EnumSet.of(CreateFlag.CREATE)).close()
    fc.rename(new Path(base, "fc/a/b/f"), new Path(base, "fc/a/b/moved"), Options.Rename.OVERWRITE)
    fc.rename(new Path(base, "fc/a/b/g"), new Path(base, "fc/a/b/h"), Options.Rename.OVERWRITE)
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(_ != dir).map { p =>
      dir.relativize(p).toString -> PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toMap
    finally walk.close()
  }

  for ((umask, file, directory) <- Seq((None, "rw-r--r--", "rwxr-xr-x"),
                                       (Some("077"), "rw-------", "rwx------")))
    test(s"modes match the stock local file system (umask ${umask.getOrElse("default")})") {
      val stock = modes(stockFs(conf(umask, stockAfs)), FileContext.getFileContext(conf(umask, stockAfs)))
      val nio = modes(nioFs(conf(umask, nioAfs)), FileContext.getFileContext(conf(umask, nioAfs)))
      val dirs = Seq("fs", "fs/a", "fs/a/b", "fc", "fc/a", "fc/a/b")
      val files = Seq("fs/a/b/f", "fs/a/b/.f.crc", "fc/a/b/moved", "fc/a/b/.moved.crc",
        "fc/a/b/h", "fc/a/b/.h.crc")
      val expected = (dirs.map(_ -> directory) ++ files.map(_ -> file)).toMap
      assert(stock == expected)
      assert(nio == expected)
    }

  test("checksums: .crc is written and a flipped data byte fails the read") {
    val fs = nioFs(new Configuration())
    val dir = tmpDir()
    val f = new Path(dir, "data")
    val out = fs.create(f)
    out.write(Array.fill[Byte](4096)(7))
    out.close()
    assert(Files.isRegularFile(Paths.get(dir, ".data.crc")))
    val raf = new RandomAccessFile(Paths.get(dir, "data").toFile, "rw")
    try { raf.seek(100); raf.write(8) } finally raf.close()
    val in = fs.open(f)
    try intercept[ChecksumException](in.readAllBytes()) finally in.close()
  }

  test("links: a real symlink reports its target; a missing path throws") {
    val dir = Files.createTempDirectory("graft_localfs")
    val target = Files.createFile(dir.resolve("target"))
    val link = Files.createSymbolicLink(dir.resolve("link"), target)
    val linkPath = new Path(link.toString)
    val stock = stockFs(new Configuration()).getFileLinkStatus(linkPath)
    val nio = nioFs(new Configuration()).getFileLinkStatus(linkPath)
    assert(nio.isSymlink && stock.isSymlink)
    assert(nio.getSymlink == stock.getSymlink)
    assert(nio.getSymlink.toUri.getPath == target.toString)
    val fc = FileContext.getFileContext(conf(None, nioAfs))
    val viaFc = fc.getFileLinkStatus(linkPath)
    assert(viaFc.isSymlink && viaFc.getSymlink.toUri.getPath == target.toString)
    assert(!fc.getFileLinkStatus(new Path(target.toString)).isSymlink)
    val missing = new Path(dir.resolve("missing").toString)
    intercept[FileNotFoundException](nioFs(new Configuration()).getFileLinkStatus(missing))
    intercept[FileNotFoundException](fc.getFileLinkStatus(missing))
  }

  test("the session resolves file: to the java.nio file system on every route") {
    val p = new Path(tmpDir())
    assert(p.getFileSystem(spark.sparkContext.hadoopConfiguration).isInstanceOf[NioLocalFileSystem])
    assert(p.getFileSystem(spark.sessionState.newHadoopConf()).isInstanceOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(spark.sessionState.newHadoopConf())
      .getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }

  /** A forked process costs the JVM ~3.7 KB of launch data written down
    * a pipe, which `wchar` counts; the files here are a few bytes each. */
  test("fork guard: 20 mkdirs, creates and FileContext renames write under 8 KB") {
    val io = Paths.get("/proc/self/io")
    assume(Files.isReadable(io), "needs /proc/self/io")
    def wchar(): Long = Files.readAllLines(io).asScala
      .collectFirst { case l if l.startsWith("wchar:") => l.stripPrefix("wchar:").trim.toLong }.get
    val base = new Path(tmpDir())
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fc = FileContext.getFileContext(spark.sessionState.newHadoopConf())
    val before = wchar()
    (1 to 20).foreach { i =>
      val d = new Path(base, s"d$i")
      fs.mkdirs(d)
      val out = fs.create(new Path(d, "f"))
      out.write(i)
      out.close()
      fc.rename(new Path(d, "f"), new Path(base, "out"), Options.Rename.OVERWRITE)
    }
    val written = wchar() - before
    assert(written < 8192, s"$written bytes written")
  }
}
