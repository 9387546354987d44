package graft
import graft.Harness.fmt
import graft.core.GraftSession
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.ExplainMode

/** Dev tool for the "is this the plan you'd want at 100 TB" loop and the
  * optimization rounds' `plans/` evidence: for each named bench entry,
  * write `<outDir>/<query>_<suffix>.txt` holding the pre-execution
  * `.explain("formatted")` text plus the executed (AQE-final) plan and
  * its shuffle/scan/reuse/codegen counts, and print the counts. A query
  * that throws gets no file and makes the run exit 1.
  * Usage: runMain graft.PlanDump <outDir> <suffix> <query...> [sfDir via
  * SPARK_GRAFT_SF_DIR, default sf0.01]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.getOrCreate("graft-plandump")
    Harness.warmup(spark, Some(sfDir))
    Files.createDirectories(Paths.get(outDir))
    val failed = names.filter { name =>
      val df = SparkEntry.benchQueries(name)(spark, sfDir)
      val formatted = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      var n = 0
      // collect (not count) so THIS df's adaptive plan is executed and
      // finalized — count() would plan a separate query and leave
      // df.queryExecution at the initial, pre-AQE plan.
      val sec = Harness.timeMin(s"[explain] $name", 1)(_ => n = df.collect().length)
      sec.foreach { s =>
        val p = df.queryExecution.executedPlan.toString
        def c(pat: String) = pat.r.findAllIn(p).size
        val summary = s"[explain] $name rows=$n time=${fmt(s, 2)}s " +
          s"exchanges=${c("Exchange hashpartitioning")} " +
          s"reused=${c("ReusedExchange")} scans=${c("Scan parquet")} " +
          s"codegenSpans=${c("""\*\(\d""")}"
        Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
          (s"== $name @ $sfDir ==\n\n-- explain(formatted), pre-execution --\n" +
            formatted + "\n-- executed (AQE-final) plan --\n" + p +
            "\n" + summary + "\n").getBytes(StandardCharsets.UTF_8))
        println(summary)
      }
      sec.isEmpty
    }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
