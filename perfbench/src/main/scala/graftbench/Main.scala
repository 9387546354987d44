package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.io.Source
import scala.util.Try

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** The metric names the benchmark reports, with their units. */
object Metrics {

  /** Gated end-to-end metrics; every workload reports each of them. */
  val endToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "main_s" -> "s",
    "step_p50_ms" -> "ms", "items_per_s" -> "1/s")

  /** Per-layer metrics; every traced run reports each (0 where a layer
    * did no work in that workload).
    */
  val perLayer: Seq[(String, String)] =
    Layers.Reported.flatMap(l => Seq(s"$l.jobs" -> "count", s"$l.busy_s" -> "s",
      s"$l.executor_s" -> "s", s"$l.shuffle_bytes" -> "B", s"$l.exchanges" -> "count")) ++
    Seq("total.jobs" -> "count", "total.driver_gap_s" -> "s", "total.busy_s" -> "s",
      "total.wall_s" -> "s", "total.executor_s" -> "s", "total.shuffle_bytes" -> "B",
      "total.exchanges" -> "count", "total.scans" -> "count",
      "lake.bytes_written" -> "B", "lake.files_written" -> "count", "lake.bytes_read" -> "B",
      "serve.plan_ms_p50" -> "ms", "serve.jobs_per_req" -> "count",
      "serve.rows_scanned_per_row" -> "ratio", "serve.files_read_per_lookup" -> "count",
      "stream.jobs_per_batch" -> "count", "stream.driver_gap_ms_per_batch" -> "ms",
      "stream.planning_ms_p50" -> "ms", "stream.store_bytes_written_per_batch" -> "B",
      "stream.write_amp" -> "ratio", "stream.store_bytes_on_disk" -> "B",
      "stream.live_segments" -> "count", "stream.admitted_frac" -> "ratio",
      "stream.source_reads_per_row" -> "ratio",
      "textops.kept_frac" -> "ratio", "jvm.peak_rss_mb" -> "MB")
}

/** Runs one workload and prints its metrics. The last line of standard
  * output is the result object; the lines before it name every metric
  * with its unit. Exits 1 when an output check fails, 2 on bad usage.
  *
  * {{{
  * graftbench.Main --workload lifecycle|curate --seed N
  *                 --seconds S --trace 0|1 [--work DIR]
  * }}}
  */
object Main {
  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3

  /** `cores` is the host's: the session runs at `local[nproc]`. */
  private final case class Opts(workload: String, seed: Long, seconds: Int,
                                trace: Boolean, work: File, cores: Int)

  private def parse(args: Array[String]): Either[String, Opts] = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    for {
      w <- kv.get("workload").toRight("--workload is required")
      seed <- kv.get("seed").flatMap(s => Try(s.toLong).toOption).toRight("--seed N is required")
      secs <- kv.get("seconds").flatMap(s => Try(s.toInt).toOption).filter(_ > 0)
        .toRight("--seconds S (a positive integer) is required")
      trace <- kv.getOrElse("trace", "0") match {
        case "0" => Right(false)
        case "1" => Right(true)
        case t => Left(s"--trace must be 0 or 1, got $t")
      }
    } yield Opts(w, seed, secs, trace, new File(kv.getOrElse("work", "perfbench/.work")),
      Runtime.getRuntime.availableProcessors())
  }

  def main(args: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val mainStart = System.currentTimeMillis()
    val opts = parse(args) match {
      case Right(o) => o
      case Left(msg) => System.err.println(s"graftbench: $msg"); sys.exit(2)
    }
    val wl = Workload.byName(opts.workload).getOrElse {
      System.err.println(s"graftbench: unknown workload ${opts.workload}; " +
        s"one of ${Workload.all.map(_.name).mkString(", ")}")
      sys.exit(2)
    }
    sys.exit(run(wl, opts, jvmStart, mainStart))
  }

  private def session(o: Opts, work: File): SparkSession = {
    val spark = GraftSession.builder("graftbench", o.cores)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // first-job, codegen and parquet set-up land here, not in the timings
    spark.range(1000000).selectExpr("sum(id)").collect()
    val warm = new File(work, "warm").getPath
    spark.range(1000).selectExpr("id", "cast(id as string) s").write.mode("overwrite")
      .parquet(warm)
    spark.read.parquet(warm).where("id > 10").groupBy("s").count().collect()
    spark
  }

  private def run(wl: Workload, o: Opts, jvmStart: Long, mainStart: Long): Int = {
    val tag = s"${wl.name}-s${o.seed}-t${if (o.trace) 1 else 0}"
    val work = new File(o.work, s"run-$tag-${ProcessHandle.current().pid()}").getAbsoluteFile
    val results = new File(o.work, "results")
    Workload.deleteTree(work)
    work.mkdirs()
    results.mkdirs()
    var spark: SparkSession = null
    try {
      // set-up, repeated: a fresh session (the first one is cold) and
      // freshly generated inputs each time
      var inputs: wl.Inputs = null.asInstanceOf[wl.Inputs]
      val setups = (0 until SetupReps).map { i =>
        val t0 = System.nanoTime()
        if (spark != null) spark.stop()
        spark = session(o, work)
        inputs = wl.prepare(new File(work, s"in-$i"), o.seed)
        (System.nanoTime() - t0) / 1e9
      }
      val boot = (mainStart - jvmStart) / 1e3
      val setupS = boot + Stats.median(setups)

      val ledger = if (o.trace) Some(new Ledger(spark, tag).attach()) else None
      val ctx = Ctx(spark, new File(work, "run"), o.seed, o.seconds,
        ledger.getOrElse(NoTrace), ledger)
      val out = wl.run(ctx, inputs)
      val rss = peakRssMb()
      val endToEnd = mutable.LinkedHashMap("setup_s" -> (setupS, "s")) ++= out.endToEnd
      val named = mutable.LinkedHashMap("setup_s" -> (setupS, "s")) ++= out.named ++=
        Seq("peak_rss_mb" -> (rss, "MB"),
          "ops_failed_frac" -> (out.attempts.failedFrac, "ratio"))

      val missing = Metrics.endToEnd.map(_._1).filterNot(endToEnd.contains)
      if (missing.nonEmpty) out.check(s"run reports ${missing.mkString(", ")}", ok = false)

      val layer = ledger.map { lg =>
        lg.detach()
        layerMetrics(lg, out, rss)
      }
      val (rows, bytes) = wl.inputSize(inputs)
      val record = Json.obj(
        "workload" -> wl.name, "seed" -> o.seed, "seconds" -> o.seconds,
        "trace" -> o.trace, "cores" -> o.cores,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "spark" -> spark.version, "jdk" -> System.getProperty("java.version"),
        "input_rows" -> rows, "input_bytes" -> bytes,
        "setup_runs_s" -> setups, "jvm_boot_s" -> boot,
        "attempted" -> out.attempts.attempted, "failed" -> out.attempts.failed,
        "errors" -> out.attempts.errors,
        "end_to_end" -> metricMap(endToEnd),
        "named" -> metricMap(named),
        "info" -> out.info,
        "checks" -> out.checks.map { case (n, ok, d) => Json.obj("check" -> n, "ok" -> ok,
          "detail" -> d) })
      layer.foreach { case (metrics, selfS) =>
        record ++= Seq("per_layer" -> metrics, "self_time_s" -> selfS,
          "trace_overhead" -> overhead(results, wl.name, o.seed, endToEnd))
        val spans = ledger.get.spansWithJobs(out.window._1, out.window._2)
        write(new File(results, s"$tag-spans.jsonl"), spans.map { s =>
          Json.render(Json.obj("run" -> tag, "id" -> s.id, "name" -> s.name,
            "layer" -> s.layer, "start_ms" -> s.start, "end_ms" -> s.end,
            "parent" -> s.parent))
        }.mkString("", "\n", "\n"))
      }
      write(new File(results, s"$tag.json"), Json.render(record) + "\n")

      // every named figure, then the result line
      named.foreach { case (n, (v, u)) => println(s"metric $n = $v $u") }
      out.checks.foreach { case (n, ok, d) =>
        println(s"check ${if (ok) "ok  " else "FAIL"} $n${if (d.isEmpty) "" else s": $d"}")
      }
      println("info " + Json.render(record.clone() --= Seq("checks", "per_layer", "self_time_s")))
      val reported: collection.Map[String, Any] = layer match {
        case Some((metrics, _)) =>
          mutable.LinkedHashMap(Metrics.perLayer.map { case (n, u) =>
            n -> Json.obj("value" -> metrics.getOrElse(n, 0.0), "unit" -> u) }: _*)
        case None => metricMap(endToEnd.filter { case (n, _) => Metrics.endToEnd.exists(_._1 == n) })
      }
      println(Json.render(Json.obj("correct" -> out.correct,
        "attempted" -> out.attempts.attempted, "failed" -> out.attempts.failed,
        "metrics" -> reported)))
      if (out.correct) 0 else 1
    } finally {
      if (spark != null) spark.stop()
      Workload.deleteTree(work)
    }
  }

  private def metricMap(m: collection.Map[String, (Double, String)]) =
    mutable.LinkedHashMap(m.toSeq.map { case (n, (v, u)) =>
      n -> Json.obj("value" -> v, "unit" -> u) }: _*)

  /** Per-layer figures over the measured window, and self time per layer. */
  private def layerMetrics(lg: Ledger, out: Outcome,
                           rssMb: Double): (Map[String, Double], Map[String, Double]) = {
    val (w0, w1) = out.window
    val t = lg.tallies(w0, w1)
    val per = Layers.Reported.flatMap { l =>
      val x = t(l)
      Seq(s"$l.jobs" -> x.jobs.toDouble, s"$l.busy_s" -> x.busyS,
        s"$l.executor_s" -> x.executorS, s"$l.shuffle_bytes" -> x.shuffleBytes.toDouble,
        s"$l.exchanges" -> x.exchanges.toDouble)
    }
    val tot = t("total")
    val wallS = (w1 - w0) / 1e3
    val totals = Seq("total.jobs" -> tot.jobs.toDouble,
      "total.driver_gap_s" -> (wallS - tot.busyS), "total.busy_s" -> tot.busyS,
      "total.wall_s" -> wallS, "total.executor_s" -> tot.executorS,
      "total.shuffle_bytes" -> tot.shuffleBytes.toDouble,
      "total.exchanges" -> tot.exchanges.toDouble, "total.scans" -> tot.scans.toDouble,
      "lake.bytes_written" -> t("lake").bytesWritten.toDouble,
      "lake.bytes_read" -> t("lake").bytesRead.toDouble,
      "jvm.peak_rss_mb" -> rssMb)
    val metrics = (per ++ totals ++ out.layerExtras).toMap
    (metrics, Ledger.selfTimeS(lg.spansWithJobs(w0, w1)))
  }

  /** Traced minus untraced, per end-to-end metric, against the newest
    * untraced result of the same workload (the same seed if there is one).
    */
  private def overhead(results: File, workload: String, seed: Long,
                       traced: collection.Map[String, (Double, String)]): Any = {
    val same = new File(results, s"$workload-s$seed-t0.json")
    val candidates = Option(results.listFiles).toSeq.flatten
      .filter(f => f.getName.startsWith(s"$workload-s") && f.getName.endsWith("-t0.json"))
    val base = if (same.isFile) Some(same) else candidates.sortBy(-_.lastModified).headOption
    base.flatMap(f => Try(new ObjectMapper().readTree(f).path("end_to_end")).toOption.map { e2e =>
      Json.obj("baseline" -> f.getName, "delta" -> mutable.LinkedHashMap(traced.toSeq.collect {
        case (n, (v, u)) if e2e.path(n).has("value") =>
          n -> Json.obj("value" -> (v - e2e.path(n).path("value").asDouble), "unit" -> u)
      }: _*))
    }).getOrElse("no untraced result of this workload yet")
  }

  private def peakRssMb(): Double =
    Try(Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).get)
      .getOrElse(0.0)

  private def write(f: File, s: String): Unit =
    Files.write(f.toPath, s.getBytes(StandardCharsets.UTF_8))
}
