package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}

import scala.util.{Failure, Success, Try}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.engine.LocalFiles

/** [[LocalFiles]], the fork-free `file:` filesystem [[graft.engine.Sessions.tune]]
  * installs: the shared session resolves both Hadoop entry points to it, and
  * its two rewritten operations give what the stock `RawLocalFileSystem`
  * gives. */
class LocalFilesSpec extends SparkSpecBase {

  private def stock = { val fs = new RawLocalFileSystem; fs.initialize(URI.create("file:///"), new Configuration); fs }
  private def graftRaw = { val fs = new LocalFiles.Raw; fs.initialize(URI.create("file:///"), new Configuration); fs }
  private def octal(s: String) = Integer.parseInt(s, 8)
  private def mode(p: java.nio.file.Path) = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & octal("7777")

  test("the shared session resolves file: to LocalFiles for FileSystem and FileContext") {
    for (conf <- Seq(spark.sparkContext.hadoopConfiguration, spark.sessionState.newHadoopConf())) {
      val fs = FileSystem.get(URI.create("file:///"), conf)
      assert(fs.getClass == classOf[LocalFiles.Local])
      assert(fs.asInstanceOf[LocalFileSystem].getRawFileSystem.getClass == classOf[LocalFiles.Raw])
      assert(FileSystem.getLocal(conf).getClass == classOf[LocalFiles.Local])
      assert(FileContext.getLocalFSFileContext(conf).getDefaultFileSystem.getClass ==
        classOf[LocalFiles.LocalFs])
    }
  }

  test("setPermission leaves the same mode bits as the stock chmod") {
    val (a, b) = (stock, graftRaw)
    val root = Paths.get(tmpDir("lf-perm"))
    val modes = Seq("0000", "0600", "0644", "0700", "0755", "0777", "1777")
    for (m <- modes; dir <- Seq(false, true)) {
      val perm = new FsPermission(octal(m).toShort)
      val ps = Seq("stock", "graft").map { side =>
        val p = root.resolve(s"$side-$m-$dir")
        if (dir) Files.createDirectory(p) else Files.createFile(p)
        p
      }
      a.setPermission(new Path(ps(0).toString), perm)
      b.setPermission(new Path(ps(1).toString), perm)
      assert(Files.getPosixFilePermissions(ps(0)) == Files.getPosixFilePermissions(ps(1)), s"$m dir=$dir")
      assert(mode(ps(0)) == octal(m) && mode(ps(1)) == octal(m), s"$m dir=$dir")
    }
    // chmod keeps a directory's set-group-ID bit under a four-digit mode
    val ds = Seq("stock-sgid", "graft-sgid").map(n => Files.createDirectory(root.resolve(n)))
    ds.foreach(d => Files.setAttribute(d, "unix:mode", Integer.valueOf(octal("2700"))))
    a.setPermission(new Path(ds(0).toString), new FsPermission(octal("0755").toShort))
    b.setPermission(new Path(ds(1).toString), new FsPermission(octal("0755").toShort))
    assert(mode(ds(0)) == mode(ds(1)))
  }

  test("getFileLinkStatus and getLinkTarget equal the stock results") {
    val (a, b) = (stock, graftRaw)
    val root = Paths.get(tmpDir("lf-link"))
    val file = Files.write(root.resolve("file.txt"), "four".getBytes)
    val dir = Files.createDirectory(root.resolve("dir"))
    val link = Files.createSymbolicLink(root.resolve("link"), file)
    val dangling = Files.createSymbolicLink(root.resolve("dangling"), Paths.get("gone.txt"))
    // The stock code reads no link at a scheme-qualified path, so there a
    // dangling link is a missing file.
    def same(x: Try[FileStatus], y: Try[FileStatus], what: String): Unit = (x, y) match {
      case (Success(x), Success(y)) =>
        assert(x.isSymlink == y.isSymlink, what)
        if (x.isSymlink) assert(x.getSymlink == y.getSymlink, what)
        assert(x.getLen == y.getLen, what)
        assert(x.isDirectory == y.isDirectory, what)
        assert(x.getPath == y.getPath, what)
      case (Failure(x), Failure(y)) => assert(x.getClass == y.getClass, what)
      case _ => fail(s"$what: stock $x, graft $y")
    }
    for (p <- Seq(file, dir, link, dangling); qualified <- Seq(false, true)) {
      val hp = if (qualified) new Path(p.toUri) else new Path(p.toString)
      same(Try(a.getFileLinkStatus(hp)), Try(b.getFileLinkStatus(hp)), hp.toString)
    }
    for (p <- Seq(link, dangling)) {
      val hp = new Path(p.toString)
      assert(b.getFileLinkStatus(hp).isSymlink)
      assert(b.getFileLinkStatus(hp).getSymlink.toUri.getScheme == "file")
      assert(a.getLinkTarget(hp) == b.getLinkTarget(hp))
    }
    val missing = new Path(root.resolve("missing").toString)
    intercept[FileNotFoundException](a.getFileLinkStatus(missing))
    intercept[FileNotFoundException](b.getFileLinkStatus(missing))
  }

  test("rename gives the results of the file: class Hadoop picks without the key") {
    val conf = new Configuration
    val stockFs = org.apache.hadoop.util.ReflectionUtils.newInstance(
      FileSystem.getFileSystemClass("file", conf), conf)
    stockFs.initialize(URI.create("file:///"), conf)
    val graftFs = new LocalFiles.Local
    graftFs.initialize(URI.create("file:///"), conf)
    def outcome(fs: FileSystem, root: java.nio.file.Path): (Seq[Boolean], Seq[String]) = {
      def f(n: String) = new Path(root.resolve(n).toString)
      for (n <- Seq("a", "b", "c")) fs.create(f(n)).close()
      fs.mkdirs(f("d"))
      val renamed = Seq(fs.rename(f("a"), f("b")), fs.rename(f("c"), f("e")), fs.rename(f("d"), f("g")))
      val tree = Files.walk(root).toArray.map(p => root.relativize(p.asInstanceOf[java.nio.file.Path]).toString)
      (renamed, tree.sorted.toSeq)
    }
    val (x, y) = (outcome(stockFs, Paths.get(tmpDir("lf-ren"))), outcome(graftFs, Paths.get(tmpDir("lf-ren"))))
    assert(x == y, s"stock ${stockFs.getClass.getName}")
  }

  test("a partitioned parquet write reads back equal, each part with its .crc") {
    val s = spark
    import s.implicits._
    val rows = (1 to 40).map(i => (2020 + i % 3, 1 + i % 4, i.toLong, s"v$i"))
    val out = tmpDir("lf-write") + "/t.parquet"
    rows.toDF("year", "month", "id", "v").write.partitionBy("year", "month").parquet(out)
    val back = spark.read.parquet(out).select("year", "month", "id", "v")
      .as[(Int, Int, Long, String)].collect().sortBy(_._3).toSeq
    assert(back == rows)
    val parts = Files.walk(Paths.get(out)).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-"))
    assert(parts.length >= 12)
    parts.foreach(p => assert(Files.exists(p.resolveSibling(s".${p.getFileName}.crc")), p))
  }
}
