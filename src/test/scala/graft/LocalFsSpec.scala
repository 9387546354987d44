package graft

import java.io.FileNotFoundException
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import graft.lake.{GraftLocalFileSystem, GraftLocalFs, GraftRawLocalFileSystem}
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Path}
import scala.jdk.CollectionConverters._

/** The `file:` scheme of a graft session ([[graft.lake.GraftRawLocalFileSystem]]):
  * the same permission bits and link statuses as stock Hadoop, with no
  * process launched per call.
  */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private def conf = spark.sparkContext.hadoopConfiguration
  /** The session's Hadoop config with `file:` back on Hadoop's own class. */
  private def stockConf = {
    val c = new org.apache.hadoop.conf.Configuration(conf)
    c.set("fs.file.impl", classOf[LocalFileSystem].getName)
    c
  }
  private def mode(p: java.nio.file.Path) =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("a graft session resolves file: to the graft classes through FileSystem.get and FileContext") {
    val fs = FileSystem.get(new java.net.URI("file:///"), conf)
    assert(fs.isInstanceOf[GraftLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[GraftRawLocalFileSystem])
    assert(FileContext.getFileContext(conf).getDefaultFileSystem.isInstanceOf[GraftLocalFs])
  }

  test("files and directories get stock Hadoop's POSIX bits under the default umask, .crc siblings included") {
    val dir = Files.createTempDirectory("graft_localfs_bits")
    // stock Hadoop (a fresh uncached instance of its own class) and the
    // graft class, each creating a nested directory and a file
    val stock = FileSystem.newInstance(dir.toUri, stockConf)
    assert(!stock.isInstanceOf[GraftLocalFileSystem])
    def made(fs: FileSystem, tag: String): Seq[(String, String)] = {
      val root = new Path(dir.toUri.toString, tag)
      val out = fs.create(new Path(root, "sub/part-0"))
      out.write(Array[Byte](1, 2, 3))
      out.close()
      fs.mkdirs(new Path(root, "empty"))
      val walk = Files.walk(Paths.get(dir.toString, tag))
      try walk.iterator().asScala.toSeq
        .map(p => Paths.get(dir.toString, tag).relativize(p).toString -> mode(p)).sorted
      finally walk.close()
    }
    val graft = made(FileSystem.get(dir.toUri, conf), "graft")
    val hadoop = made(stock, "stock")
    stock.close()
    assert(graft === hadoop)
    assert(graft.toMap === Map("" -> "rwxr-xr-x", "sub" -> "rwxr-xr-x",
      "sub/part-0" -> "rw-r--r--", "sub/.part-0.crc" -> "rw-r--r--",
      "empty" -> "rwxr-xr-x"))
    // a Spark write through the session: every file 0644, every directory 0755
    val lake = dir.resolve("lake")
    Seq(1, 2, 3).toDF("x").write.parquet(lake.toString)
    val walk = Files.walk(lake)
    val modes = try walk.iterator().asScala.toSeq.map(p => (Files.isDirectory(p), mode(p)))
      finally walk.close()
    assert(modes.exists(!_._1) && modes.forall { case (isDir, m) =>
      m == (if (isDir) "rwxr-xr-x" else "rw-r--r--") }, modes.toString)
  }

  test("getFileLinkStatus reports a symlink and its target, a plain file as itself, and a missing path as FileNotFoundException") {
    val dir = Files.createTempDirectory("graft_localfs_links")
    val target = Files.write(dir.resolve("target"), Array[Byte](1, 2))
    val link = Files.createSymbolicLink(dir.resolve("link"), target)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    val fs = FileSystem.get(dir.toUri, conf)
    val fc = FileContext.getFileContext(conf)
    // Hadoop reads a link's target from the path string, so only a
    // scheme-less path is seen as a link, by stock Hadoop and by graft
    def p(f: java.nio.file.Path) = new Path(f.toString)
    for (st <- Seq(fs.getFileLinkStatus(p(link)), fc.getFileLinkStatus(p(link)))) {
      assert(st.isSymlink)
      assert(st.getSymlink.toUri.getPath === target.toString)
    }
    for (st <- Seq(fs.getFileLinkStatus(p(target)), fc.getFileLinkStatus(p(target)))) {
      assert(!st.isSymlink && st.isFile && st.getLen === 2L)
    }
    intercept[FileNotFoundException](fs.getFileLinkStatus(p(dir.resolve("missing"))))
    intercept[FileNotFoundException](fc.getFileLinkStatus(p(dir.resolve("missing"))))
    // every status (or exception) equals stock Hadoop's, for both path
    // forms — a dangling link behind a qualified path is missing to both
    val stock = FileSystem.newInstance(dir.toUri, stockConf)
    def view(on: FileSystem, path: Path) = scala.util.Try(on.getFileLinkStatus(path))
      .map(st => (st.getPath, st.isSymlink, if (st.isSymlink) st.getSymlink.toString else "",
        st.isFile, st.isDirectory, st.getLen))
      .toEither.left.map(_.getClass.getName)
    try for (f <- Seq(link, dangling, target, dir, dir.resolve("missing"));
             path <- Seq(p(f), new Path(f.toUri)))
      assert(view(fs, path) === view(stock, path), path)
    finally stock.close()
  }
}
