package graft

import java.util.Locale
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** What the timing mains (`Bench`, `Profile`, `PlanDump`, `ScaleBench`)
  * share: one warmup, one min-of-N timing loop with one failure rule,
  * `/proc/loadavg`, and the locale-independent number format their JSON
  * lines are parsed with.
  */
object Harness {

  /** Run first-job, codegen and — when `sfDir` is given — parquet-reader,
    * string and sort initialization once, so per-cell timings measure
    * plans rather than JVM warmup.
    */
  def warmup(spark: SparkSession, sfDir: Option[String]): Unit = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    sfDir.foreach { dir =>
      try spark.read.parquet(s"$dir/region.parquet")
        .selectExpr("upper(trim(r_name)) AS n", "r_regionkey")
        .where("n LIKE '%A%'").orderBy("n").count()
      catch { case NonFatal(_) => () }
    }
  }

  /** Seconds for each of `reps` runs of `run(rep)` (rep is 0-based); a
    * run that throws reads `None` and is reported on stderr under
    * `label`. Only non-fatal errors are caught: after a fatal one, such
    * as a driver OOM, the JVM is undefined and later timings would be
    * garbage, so the run must end loudly.
    */
  def timeReps(label: String, reps: Int)(run: Int => Any): Seq[Option[Double]] =
    (0 until reps).map { rep =>
      val t0 = System.nanoTime()
      try { run(rep); Some((System.nanoTime() - t0) / 1e9) }
      catch { case NonFatal(e) =>
        System.err.println(s"$label failed: $e")
        None
      }
    }

  /** A cell's time: the minimum over its reps, or `None` — a failed
    * cell — when any rep failed. A time-to-failure is no query time, and
    * keeping the fastest surviving rep would let a crash read as a fast
    * cell.
    */
  def best(times: Seq[Option[Double]]): Option[Double] =
    if (times.contains(None)) None else Some(times.flatten.min)

  def timeMin(label: String, reps: Int)(run: Int => Any): Option[Double] =
    best(timeReps(label, reps)(run))

  /** `SPARK_GRAFT_REPEAT` (> 1), else 1: how many reps a filtered run
    * times per cell.
    */
  def repeat: Int =
    sys.env.get("SPARK_GRAFT_REPEAT").flatMap(_.toIntOption).filter(_ > 1).getOrElse(1)

  /** One-minute load average at call time, or -1 where unreadable: a
    * loaded box inflates every cell, so runs stamp it to self-describe.
    */
  def loadavg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.split("\\s+")(0).toDouble finally src.close()
    } catch { case NonFatal(_) => -1.0 }

  /** `v` with `digits` decimals and a '.' separator whatever the JVM
    * locale, so the JSON lines parse everywhere.
    */
  def fmt(v: Double, digits: Int = 3): String =
    s"%.${digits}f".formatLocal(Locale.ROOT, v)
}
