package graft

import java.net.URI
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import graft.lake.GraftRawLocalFileSystem
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession

/** The local filesystem under a `probe:` scheme, counting `listStatus`
  * calls per path and able to run a hook just before one — Spark's own
  * mock-filesystem pattern: a local filesystem subclass with its own
  * URI, registered as `fs.probe.impl`. A spec addresses a root as
  * `probe:///tmp/...`; everything else behaves as on `file:`.
  */
class ProbeFileSystem extends GraftRawLocalFileSystem {
  override def getUri: URI = URI.create("probe:///")
  override def getScheme: String = "probe"

  override def listStatus(f: Path): Array[FileStatus] = {
    val p = ProbeFileSystem.key(f)
    ProbeFileSystem.hook(p,
      ProbeFileSystem.counts.computeIfAbsent(p, _ => new AtomicInteger)
        .incrementAndGet())
    super.listStatus(f)
  }
}

object ProbeFileSystem {
  private val counts = new ConcurrentHashMap[String, AtomicInteger]()

  /** Runs before each listing with the listed path and its count so
    * far (this listing included).
    */
  @volatile var hook: (String, Int) => Unit = (_, _) => ()

  def key(f: Path): String = f.toUri.getPath.stripSuffix("/")

  /** A fresh `probe:` directory, with the scheme registered on
    * `spark`'s Hadoop configuration.
    */
  def tmpDir(spark: SparkSession, tag: String): String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.probe.impl", classOf[ProbeFileSystem].getName)
    "probe://" + java.nio.file.Files.createTempDirectory(s"graft_probe_$tag")
  }

  /** `body`'s result and the number of times it listed `root`. */
  def listingsOf[T](root: String)(body: => T): (T, Int) = {
    val c = counts.computeIfAbsent(key(new Path(root)), _ => new AtomicInteger)
    c.set(0)
    val out = body
    (out, c.get)
  }
}
