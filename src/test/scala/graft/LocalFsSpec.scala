package graft

import java.io.{FileNotFoundException, RandomAccessFile}
import java.net.URI
import java.nio.file.{Files, LinkOption, Paths}
import java.util.EnumSet

import scala.jdk.CollectionConverters._
import scala.util.Try

import graft.sources.{ForklessLocalFileSystem, ForklessLocalFs, ForklessRawLocalFileSystem}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, ChecksumException, CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The session's fork-free `file://`: both Hadoop APIs resolve to it,
  * it leaves the modes and `.crc` checksums the stock local FS leaves,
  * and answers link-status probes as the stock raw FS does. It runs in
  * the shared suite JVM on purpose: Hadoop caches one `FileSystem` per
  * scheme and user, so an instance cached before the first session
  * would show up here as the stock class.
  */
class LocalFsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession
    .builder("graft-localfs-test", "local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  private def conf = spark.sparkContext.hadoopConfiguration
  private val root = URI.create("file:///")

  /** No fork-free settings: the stock local FS. Stock instances are
    * built directly, so Hadoop's `FileSystem` cache never holds one.
    */
  private val stockConf = new Configuration()

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int] & 0xfff

  /** Relative path -> mode of everything under `dir`. */
  private def modes(dir: java.nio.file.Path): Map[String, Int] = {
    val s = Files.walk(dir)
    try s.iterator.asScala.filter(_ != dir).map(p => dir.relativize(p).toString -> mode(p)).toMap
    finally s.close()
  }

  private def write(out: org.apache.hadoop.fs.FSDataOutputStream): Unit =
    try out.write("payload".getBytes("UTF-8"))
    finally out.close()

  /** Dirs, files and their `.crc` sidecars through both APIs, as the
    * pipeline and the streaming checkpoints create them.
    */
  private def populate(fs: FileSystem, fc: FileContext, dir: java.nio.file.Path): Unit = {
    val at = (rel: String) => new Path(dir.resolve(rel).toUri)
    assert(fs.mkdirs(at("fs/d")))
    write(fs.create(at("fs/d/part-0")))
    write(fs.create(at("fs/private"), new FsPermission("600"), true, 4096, 1.toShort, 1L << 26, null))
    assert(fs.mkdirs(at("fs/sticky")))
    fs.setPermission(at("fs/sticky"), new FsPermission("1777"))
    fc.mkdir(at("fc/d"), FsPermission.getDirDefault, true)
    write(fc.create(at("fc/d/.tmp"), EnumSet.of(CreateFlag.CREATE)))
    fc.rename(at("fc/d/.tmp"), at("fc/d/commit"), Options.Rename.OVERWRITE)
    write(fc.create(at("fc/private"), EnumSet.of(CreateFlag.CREATE), Options.CreateOpts.perms(new FsPermission("600"))))
  }

  test("a session resolves file:/// to the fork-free FS through FileSystem and FileContext") {
    val fs = FileSystem.get(root, spark.sessionState.newHadoopConf())
    assert(fs.getClass == classOf[ForklessLocalFileSystem], s"FileSystem.get(file:///) is ${fs.getClass.getName}")
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass == classOf[ForklessRawLocalFileSystem])
    assert(new Path("/tmp").getFileSystem(conf) eq fs)
    val afs = FileContext.getFileContext(root, conf).getDefaultFileSystem
    assert(afs.getClass == classOf[ForklessLocalFs], s"FileContext(file:///) is ${afs.getClass.getName}")
  }

  test("files, .crc sidecars and dirs get the stock local FS's modes through both APIs") {
    assume(FsPermission.getUMask(conf).toShort == Integer.parseInt("022", 8), "Hadoop's default umask")
    val tmp = Files.createTempDirectory("graft-localfs-modes")
    val stockFs = new LocalFileSystem()
    stockFs.initialize(root, stockConf)
    val stockFc = FileContext.getFileContext(AbstractFileSystem.get(root, stockConf), stockConf)
    populate(FileSystem.get(root, conf), FileContext.getFileContext(root, conf), tmp.resolve("forkless"))
    populate(stockFs, stockFc, tmp.resolve("stock"))
    val got = modes(tmp.resolve("forkless"))
    assert(got == modes(tmp.resolve("stock")))
    val oct = (s: String) => Integer.parseInt(s, 8)
    Seq("fs", "fs/d", "fc", "fc/d").foreach(d => assert(got(d) == oct("755"), d))
    Seq("fs/d/part-0", "fs/d/.part-0.crc", "fc/d/commit", "fc/d/.commit.crc").foreach(f => assert(got(f) == oct("644"), f))
    Seq("fs/private", "fc/private").foreach(f => assert(got(f) == oct("600"), f))
    assert(got("fs/sticky") == oct("1777"), "the sticky bit takes the inherited chmod")

    val out = tmp.resolve("spark")
    spark.range(10).write.parquet(out.toString)
    val written = modes(out)
    assert(written.keySet.exists(_.endsWith(".parquet")) && written.contains("_SUCCESS") && written.contains("._SUCCESS.crc"))
    assert(written.forall { case (_, m) => m == oct("644") }, written)
    assert(mode(out) == oct("755"))
  }

  test("a flipped byte in a written part file fails the read with ChecksumException") {
    val out = Files.createTempDirectory("graft-localfs-crc").resolve("t").toString
    spark.range(0, 2000).selectExpr("id", "cast(id AS string) AS s").coalesce(1).write.parquet(out)
    def read() = spark.read.parquet(out).selectExpr("sum(id)", "max(s)").collect()
    assert(read().head.getLong(0) == (0L until 2000L).sum)
    val part = Files.list(Paths.get(out)).iterator.asScala.find(_.toString.endsWith(".parquet")).get
    val raf = new RandomAccessFile(part.toFile, "rw")
    try { raf.seek(4); val b = raf.read(); raf.seek(4); raf.write(b ^ 0xff) }
    finally raf.close()
    val e = intercept[Exception](read())
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(_.isInstanceOf[ChecksumException]), chain.map(_.getClass.getName))
  }

  test("getFileLinkStatus on a file, a symlink and a missing path equals the stock raw FS's answer") {
    val tmp = Files.createTempDirectory("graft-localfs-links")
    val file = Files.writeString(tmp.resolve("file"), "x")
    val link = Files.createSymbolicLink(tmp.resolve("link"), file)
    val forkless = new ForklessRawLocalFileSystem
    val stock = new RawLocalFileSystem
    Seq(forkless, stock).foreach(_.initialize(root, stockConf))
    def view(st: FileStatus) =
      (st.getPath, st.isFile, st.isDirectory, st.isSymlink, Try(st.getSymlink).toOption, st.getLen,
        st.getModificationTime, st.getPermission, st.getOwner, st.getGroup)
    val paths = Seq(file, link).flatMap(p => Seq(new Path(p.toString), new Path(p.toUri)))
    paths.foreach(p => assert(view(forkless.getFileLinkStatus(p)) == view(stock.getFileLinkStatus(p)), p))
    assert(forkless.getFileLinkStatus(new Path(link.toString)).isSymlink, "a real symlink still reads as one")
    val missing = new Path(tmp.resolve("missing").toString)
    intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
    intercept[FileNotFoundException](forkless.getFileLinkStatus(missing))
  }
}
