package graft
import graft.Harness.fmt
import graft.core.GraftSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev tool (guide §1: measure first): run ONE bench entry and print a
  * per-JOB timing breakdown — job id, wall seconds, stage/task counts,
  * and the callsite/description Spark recorded — so a multi-job cell
  * (the store-step folds, the iterative graph queries, the sampled
  * choosers) shows WHERE its seconds go instead of one opaque total.
  * Usage: runMain graft.Profile <queryName>, with the sf directory in
  * `SPARK_GRAFT_SF_DIR` and the rep count in `SPARK_GRAFT_REPEAT`, as
  * for `Bench`.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.getOrCreate("graft-profile")
    // same warmup as Bench so first-job init lands outside the timing
    Harness.warmup(spark, Some(sfDir))
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    @volatile var lastEnd = 0L
    @volatile var taskTimeMs = 0L
    val lines = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val p = Option(j.properties)
        val desc = p.flatMap(x => Option(x.getProperty("spark.job.description")))
          .orElse(p.flatMap(x => Option(x.getProperty("callSite.short"))))
          .getOrElse("?")
        val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
          .getOrElse("-")
        val stages = j.stageInfos.size
        val gap = if (lastEnd == 0) 0L else j.time - lastEnd
        starts.put(j.jobId, (j.time, f"gap=${gap / 1e3}%6.3fs exec=$exec stages=$stages $desc"))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        lastEnd = j.time
        Option(starts.get(j.jobId)).foreach { case (t0, desc) =>
          lines.add(f"  job ${j.jobId}%3d ${(j.time - t0) / 1e3}%7.3fs  $desc")
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        taskTimeMs += s.stageInfo.taskMetrics.executorRunTime
    })
    val fn = SparkEntry.benchQueries(name)
    (1 to Harness.repeat).foreach { r =>
      lines.clear(); taskTimeMs = 0L
      var n = 0L
      val sec = Harness.timeMin(s"[profile] $name", 1)(_ => n = fn(spark, sfDir).count())
      Thread.sleep(300) // let the listener bus drain the final job-end
      lines.forEach(println(_))
      println(s"[profile] $name rep=$r rows=$n " +
        s"time=${sec.fold("failed")(fmt(_) + "s")} jobs=${lines.size} " +
        s"executorRunTime=${fmt(taskTimeMs / 1e3, 1)}s")
    }
    spark.stop()
  }
}
