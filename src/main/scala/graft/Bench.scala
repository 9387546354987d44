package graft
import graft.Harness.fmt
import graft.core.GraftSession
import scala.util.control.NonFatal
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // calibration (SCALING.md "Benchmark protocol"): a loaded box
    // inflates every cell ~uniformly, so the run stamps enough context
    // to self-describe — /proc/loadavg at start/end and, after the
    // run, the median per-entry ratio vs the committed quiet-min map.
    // A median far above ~1.3 means the box was busy and the run's
    // absolute numbers are environmental, not code.
    val loadStart = Harness.loadavg()
    val spark = GraftSession.getOrCreate("graft-bench")
    Harness.warmup(spark, Some(sfDir))
    // Optional name filter (exact or substring) for local iteration on
    // one query's plan; the driver passes no args and benches the lot.
    val picked =
      if (args.isEmpty) SparkEntry.benchQueries
      else SparkEntry.benchQueries.filter { case (n, _) => args.exists(n.contains) }
    // SPARK_GRAFT_REPEAT=N (filtered runs only — the full surface stays
    // single-shot): time each picked query N times and record the MIN,
    // printing every rep. The quiet-A/B tool for a single noisy cell
    // (SCALING.md protocol): 10 reps of a 0.3 s query cost 3 s and
    // separate scheduling noise from plan cost without 10 JVM launches.
    val reps = if (args.isEmpty) 1 else Harness.repeat
    // A cell that throws is FAILED, not timed: its time-to-failure is
    // no query time, and folding it would plant a bogus floor. Failed
    // cells leave `queries` and are listed under "failed" instead.
    val results: Seq[(String, Option[Double])] =
      picked.toSeq.sortBy(_._1).map { case (name, fn) =>
        val times = Harness.timeReps(s"bench: $name", reps)(_ => fn(spark, sfDir).count())
        if (reps > 1)
          println(s"""{"metric":"repeat","query":"$name","reps":[${times.map(_.fold("null")(fmt(_))).mkString(",")}]}""")
        name -> Harness.best(times)
      }
    val timed = results.collect { case (n, Some(t)) => n -> t }
    val failed = results.collect { case (n, None) => n }
    // The driver parses JSON from a bounded tail of the build output. At
    // 87 queries a single line with the full per-query map overflows that
    // window and the total is lost (BENCH_r03 parsed=null). So: emit the
    // per-query detail first, sharded into short lines, and end with one
    // short summary line carrying the total plus only the slowest queries
    // — the final line is always intact within any reasonable tail.
    def toJson(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    def names(ns: Seq[String]): String = ns.map("\"" + _ + "\"").mkString("[", ",", "]")
    // repeat runs emit NO queries_part lines: a warm min-of-N is
    // systematically below a protocol single-shot measurement, and the
    // part lines are exactly what tools/foldbench.py parses — printing
    // them would let a repeat log silently fold biased-low floors
    if (reps == 1) results.grouped(12).zipWithIndex.foreach { case (part, i) =>
      val partTimed = part.collect { case (n, Some(t)) => n -> t }
      val partFailed = part.collect { case (n, None) => n }
      println(s"""{"metric":"queries_part","part":${i + 1},"queries":${toJson(partTimed)},"failed":${names(partFailed)}}""")
    }
    val total = timed.map(_._2).sum
    val slowest = timed.sortBy(-_._2).take(8)
    // median per-entry ratio vs BENCH_QUERIES.json (the committed
    // quiet min-of-N map — the same statistic tools/foldbench.py
    // computes); the map is a flat {"queries":{name:sec,...}}, so the
    // pair-scan is anchored to the braces after `"queries":` — scanning
    // the whole file would also capture metadata keys (e.g.
    // "value": 187.464), which is benign for name lookups today but one
    // colliding future key away from a wrong ratio
    val committedTxt: String =
      try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("BENCH_QUERIES.json")),
        java.nio.charset.StandardCharsets.UTF_8)
      catch { case NonFatal(_) => "" }
    val committedQueriesObj: String =
      """"queries"\s*:\s*\{""".r.findFirstMatchIn(committedTxt).map { m =>
        val close = committedTxt.indexOf('}', m.end) // flat object, no nesting
        if (close >= 0) committedTxt.substring(m.end, close) else ""
      }.getOrElse("")
    val committed: Map[String, Double] =
      """"([^"]+)"\s*:\s*([0-9]+\.?[0-9]*)""".r
        .findAllMatchIn(committedQueriesObj)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    // the committed map's floors are per scale factor: comparing a run
    // at a different SPARK_GRAFT_SF_DIR against them would emit a
    // confidently wrong median — on mismatch, compare nothing and say so
    val committedSf: Option[String] =
      """"sf"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(committedTxt).map(_.group(1))
    val sfMismatch = committedSf.exists(_ != sfDir)
    // repeat runs compare nothing: a warm min-of-N is systematically
    // below the quiet single-shot floors, so its "median ratio" would
    // self-describe a merely-warm log as quiet — same rationale as the
    // queries_part suppression above; the "reps" field makes the mode
    // visible in the block either way
    val ratios =
      if (sfMismatch || reps > 1) Seq.empty[Double]
      else timed.flatMap { case (n, v) =>
        committed.get(n).filter(_ > 0).map(v / _) }.sorted
    val medianRatio =
      if (ratios.isEmpty) -1.0
      else if (ratios.size % 2 == 1) ratios(ratios.size / 2)
      else (ratios(ratios.size / 2 - 1) + ratios(ratios.size / 2)) / 2
    val calib = s""""calibration":{"median_ratio_vs_quiet_map":${fmt(medianRatio)},""" +
      s""""entries_compared":${ratios.size},"reps":$reps,"sf_mismatch":$sfMismatch,""" +
      s""""loadavg_start":${fmt(loadStart)},"loadavg_end":${fmt(Harness.loadavg())}}"""
    // Early queries_part lines can scroll out of the driver's bounded tail
    // capture, so the complete map is also written to a file — the one
    // durable record of every per-query timing.
    val fullJson =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${toJson(timed)},"failed":${names(failed)},$calib,"sf":"$sfDir"}"""
    // Single-run timings land in BENCH_LAST_RUN.json — NOT in
    // BENCH_QUERIES.json, which holds the protocol-governed quiet
    // min-of-N map (SCALING.md "Benchmark protocol") and must not be
    // clobbered by every load-noisy driver run. A filtered run writes
    // nothing durable at all.
    if (args.isEmpty)
      java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_LAST_RUN.json"),
        fullJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // `slowest` (not `queries`): this is a subset — summing it would NOT
    // reproduce the total. Full map: BENCH_LAST_RUN.json + the part lines.
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","failed":${failed.size},"slowest":${toJson(slowest)},$calib,"queries_file":"BENCH_LAST_RUN.json","sf":"$sfDir"}""")
    spark.stop()
  }
}
