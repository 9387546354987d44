package graft

import java.net.URI
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import graft.lake.GraftRawLocalFileSystem
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, Path}
import org.apache.spark.sql.SparkSession

/** The local filesystem under a `probe:` scheme, counting listings and
  * status probes per path and able to run a hook just before a listing
  * — Spark's own mock-filesystem pattern: a local filesystem subclass
  * with its own URI, registered as `fs.probe.impl`. A spec addresses a
  * root as `probe:///tmp/...`; everything else behaves as on `file:`.
  */
class ProbeFileSystem extends GraftRawLocalFileSystem {
  import ProbeFileSystem._

  override def getUri: URI = URI.create("probe:///")
  override def getScheme: String = "probe"

  override def listStatus(f: Path): Array[FileStatus] = {
    hook(key(f), bump(listings, f))
    inside(super.listStatus(f))
  }

  /** Counts a caller's status probes (`exists`, `getFileStatus`), not
    * the ones the local filesystem makes inside its own `open` (of the
    * file it opens) and `listStatus` (of each entry it lists): those are
    * part of the read or the listing the caller asked for.
    */
  override def getFileStatus(f: Path): FileStatus = {
    if (!nested.get) bump(statuses, f)
    super.getFileStatus(f)
  }

  override def exists(f: Path): Boolean = {
    if (!nested.get) bump(statuses, f)
    inside(super.exists(f))
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    inside(super.open(f, bufferSize))

  private def inside[T](call: => T): T = {
    val outer = nested.get
    nested.set(true)
    try call finally nested.set(outer)
  }
}

object ProbeFileSystem {
  private val listings = new ConcurrentHashMap[String, AtomicInteger]()
  private val statuses = new ConcurrentHashMap[String, AtomicInteger]()
  private val nested = ThreadLocal.withInitial[Boolean](() => false)

  private def bump(counts: ConcurrentHashMap[String, AtomicInteger],
                   f: Path): Int =
    counts.computeIfAbsent(key(f), _ => new AtomicInteger).incrementAndGet()

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

  private def counted[T](counts: ConcurrentHashMap[String, AtomicInteger],
                         path: String)(body: => T): (T, Int) = {
    val c = counts.computeIfAbsent(key(new Path(path)), _ => new AtomicInteger)
    c.set(0)
    val out = body
    (out, c.get)
  }

  /** `body`'s result and the number of times it listed `root`. */
  def listingsOf[T](root: String)(body: => T): (T, Int) =
    counted(listings, root)(body)

  /** `body`'s result and the number of status probes it made of `path`. */
  def statusesOf[T](path: String)(body: => T): (T, Int) =
    counted(statuses, path)(body)
}
