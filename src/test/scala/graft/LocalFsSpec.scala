package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.util.{Fs, NioLocalFileSystem, NioLocalFs}

/** The `file:` scheme binding of the launch profile ([[NioLocalFs]]): it
  * reaches a forked JVM through both Hadoop APIs, it writes what Hadoop's
  * stock local file system writes, and the engine's local writes start no
  * `chmod` or `readlink` process.
  */
class LocalFsSpec extends AnyFunSuite with SparkSessionFixture {

  private val sfDir = "/root/testdata/sf0.001"

  private def local(fs: LocalFileSystem): LocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private lazy val stock = local(new LocalFileSystem())
  private lazy val nio = local(new NioLocalFileSystem)

  private def octal(s: String): Int = Integer.parseInt(s, 8)
  private def perm(s: String) = FsPermission.createImmutable(octal(s).toShort)

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int]

  /** Every path under `root` (relative) with its st_mode. */
  private def tree(root: JPath): Map[String, Int] = {
    val w = Files.walk(root)
    try w.iterator().asScala.filter(_ != root)
      .map(p => root.relativize(p).toString -> mode(p)).toMap
    finally w.close()
  }

  /** Runs `op` once with each file system, each in its own fresh
    * directory, and returns the two resulting trees. */
  private def both(op: (FileSystem, Path) => Unit): (Map[String, Int], Map[String, Int]) = {
    def one(fs: FileSystem): Map[String, Int] = {
      val root = Files.createTempDirectory("graft_localfs")
      try { op(fs, new Path(root.toUri)); tree(root) }
      finally Fs.deleteQuietly(root)
    }
    (one(stock), one(nio))
  }

  private def summary(s: FileStatus) =
    (s.getPath, s.getLen, s.isDirectory, s.isSymlink, s.getModificationTime,
      s.getPermission, s.getOwner, s.getGroup,
      if (s.isSymlink) Some(s.getSymlink) else None)

  test("the launch profile binds file: to the in-process classes in both APIs") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.getLocal(conf).isInstanceOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(conf).getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }

  test("created files, mkdirs and setPermission leave the stock modes and .crc files") {
    val created = both { (fs, d) =>
      val out = fs.create(new Path(d, "f"))
      out.write(1); out.close()
    }
    assert(created._1.keySet == Set("f", ".f.crc"))
    assert(created._1 == created._2)

    val nested = both((fs, d) => assert(fs.mkdirs(new Path(d, "a/b/c"))))
    assert(nested._1.keySet == Set("a", "a/b", "a/b/c"))
    assert(nested._1 == nested._2)

    for (m <- Seq("600", "750")) {
      val p = perm(m)
      val set = both { (fs, d) =>
        fs.create(new Path(d, "f")).close()
        fs.mkdirs(new Path(d, "g"))
        fs.setPermission(new Path(d, "f"), p)
        fs.setPermission(new Path(d, "g"), p)
      }
      assert((set._1("f") & octal("777")) == p.toShort, s"0$m")
      assert(set._1 == set._2, s"0$m")
    }
  }

  test("setPermission keeps a directory's setgid bit, as chmod 0nnn does") {
    val modes = both { (fs, d) =>
      val g = new Path(d, "g")
      fs.mkdirs(g)
      Files.setAttribute(java.nio.file.Paths.get(g.toUri), "unix:mode",
        Integer.valueOf(octal("2755")))
      fs.setPermission(g, perm("750"))
    }
    assert(modes._1 == modes._2)
  }

  test("getFileLinkStatus matches the stock method; a missing path still throws") {
    val root = Files.createTempDirectory("graft_localfs")
    try {
      val file = Files.write(root.resolve("f"), Array[Byte](1, 2, 3))
      val dir = Files.createDirectory(root.resolve("d"))
      val link = Files.createSymbolicLink(root.resolve("l"), file)
      // qualified (file:/...) and bare paths both reach the status methods
      val paths = Seq(file, dir, link).flatMap(p =>
        Seq(new Path(p.toUri), new Path(p.toString)))
      paths.foreach { p =>
        assert(summary(nio.getFileLinkStatus(p)) == summary(stock.getFileLinkStatus(p)), p)
      }
      assert(nio.getFileLinkStatus(new Path(link.toString)).isSymlink)
      val missing = new Path(root.resolve("missing").toUri)
      intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
      intercept[FileNotFoundException](nio.getFileLinkStatus(missing))
      val chmodMissing = Seq(stock, nio).map(fs =>
        intercept[java.io.IOException](fs.setPermission(missing, FsPermission.getFileDefault))
          .getClass)
      assert(chmodMissing.distinct.size == 1, chmodMissing)
    } finally Fs.deleteQuietly(root)
  }

  test("a manifest sink stream, an append and a MERGE start no chmod or readlink") {
    val store = Files.createTempDirectory("graft_localfs_store").toString
    val jfr = Files.createTempFile("graft_localfs", ".jfr")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      Registry.all("stream_manifest_sink")(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val fmt = "graft.sources.ManifestTable"
      spark.range(0, 100).selectExpr("id", "id * 10 AS v")
        .write.format(fmt).option("path", store).mode("append").save()
      spark.conf.set("spark.sql.catalog.graft_cat", "graft.sources.GraftCatalog")
      spark.range(50, 150).selectExpr("id", "id * 20 AS v")
        .createOrReplaceTempView("localfs_merge_src")
      spark.sql(s"""MERGE INTO graft_cat.`$store` AS t USING localfs_merge_src AS s
        ON t.id = s.id WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
      assert(spark.read.format(fmt).option("path", store).load().count() == 150)
    } finally {
      rec.stop()
      rec.dump(jfr)
      rec.close()
      Fs.deleteQuietly(java.nio.file.Paths.get(store))
    }
    val commands =
      try RecordingFile.readAllEvents(jfr).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command").trim.split("\\s+").head.split('/').last)
      finally Files.deleteIfExists(jfr)
    val counts = commands.groupBy(identity).map { case (c, n) => c -> n.size }
    info(s"child processes by command: $counts")
    assert(counts.getOrElse("chmod", 0) == 0, counts)
    assert(counts.getOrElse("readlink", 0) == 0, counts)
  }
}
