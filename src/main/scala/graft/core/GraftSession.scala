package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine, and the only
  * `SparkSession.builder()` in the engine: every main (`Verify`, `Bench`,
  * `Profile`, `PlanDump`, `ScaleBench`) goes through [[getOrCreate]], so
  * the plan a bench times runs under the same SQL config as the plan
  * `Verify` checks against the DuckDB oracle (`HarnessSpec` pins this).
  *
  * Tuned for the driver's local[32] single-JVM harness but written for a
  * real cluster: AQE on (runtime partition coalescing + skew-join
  * handling), shuffle partitions sized to the local core count (a cluster
  * deployment overrides via `--conf`), UTC session time zone so results
  * match the DuckDB oracle bit-for-bit. The `file:` scheme resolves to
  * [[graft.lake.GraftRawLocalFileSystem]] through both Hadoop client
  * APIs, so local writes and streaming checkpoint commits start no
  * `chmod` or `readlink` process (`HarnessSpec` pins the resolution).
  * Every session carries [[graft.functions.GraftExtensions]]: the
  * engine's SQL functions, and filter literals held in codegen
  * reference slots so a new key compiles no new class.
  */
object GraftSession {
  def builder(appName: String = "graft", cores: Int = defaultCores): SparkSession.Builder =
    SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(localFs.map { case (k, v) => s"spark.hadoop.$k" -> v })
      .withExtensions(new graft.functions.GraftExtensions)

  /** The Hadoop settings that resolve `file:` to the graft local
    * filesystem, for `FileSystem.get` and for `FileContext`.
    */
  val localFs: Map[String, String] = Map(
    "fs.file.impl" -> classOf[graft.lake.GraftLocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[graft.lake.GraftLocalFs].getName)

  /** The one core-count rule: `SPARK_GRAFT_CPUS`, else min(32, nproc). */
  def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(
      math.min(32, Runtime.getRuntime.availableProcessors()))

  def getOrCreate(appName: String = "graft"): SparkSession = {
    val spark = builder(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
