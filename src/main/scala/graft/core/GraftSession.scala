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
  * match the DuckDB oracle bit-for-bit.
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
