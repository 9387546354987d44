package graftbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.lit

import graft.Pipeline
import graft.lake.LakeStorage
import graft.serve.QueryService

/** The batch lifecycle: `Pipeline.runFull` over a business-owners CSV
  * (CSV → lake → demographics report → star schema → integrity gate),
  * then one closed-loop client reading the published lake and the
  * warehouse views until the run's time is up.
  */
object Lifecycle extends Workload {
  type Inputs = (File, Gen.OwnersTruth)
  val name = "lifecycle"

  /** Input rows. The reference file has 324,542; this size keeps one
    * run inside the benchmark's time box on 4 cores.
    */
  val Rows = 10000
  /** One cycle of the read mix is four each of the five API requests and
    * one SQL query on each of two warehouse views; the read phase sends
    * whole cycles, at least [[MinCycles]] (see [[Ctx.more]]). The first
    * cycle settles the JVM on the read paths: its requests are sent and
    * checked but not timed.
    */
  val PerKind = 4
  val CycleLength = 5 * PerKind + 2
  val MinCycles = 4
  val PageSize = 20

  def prepare(dir: File, seed: Long): Inputs = {
    val csv = new File(dir, "business_owners.csv")
    (csv, Gen.owners(seed, Rows, csv))
  }

  def inputSize(in: Inputs): (Long, Long) = (in._2.rows.toLong, in._2.bytes)

  /** One request of the read mix: a name, the call, and a check of its
    * rows against the generator's truth (None when they agree).
    */
  private final case class Req(kind: String, call: () => Array[Row],
                               check: Array[Row] => Option[String])

  private def requests(lake: DataFrame, spark: org.apache.spark.sql.SparkSession,
                       truth: Gen.OwnersTruth, seed: Long): Iterator[Req] = {
    val r = new Random(seed ^ 0x5eedL)
    val accounts = truth.accountRows.keys.toIndexedSeq.sorted
    def account(): Long = accounts(r.nextInt(accounts.size))
    def term(): String = truth.nameWords(r.nextInt(truth.nameWords.size))
    def rows(expect: Int)(got: Array[Row]): Option[String] =
      if (got.length == expect) None else Some(s"${got.length} rows, expected $expect")
    Iterator.from(0).map { i =>
      i % CycleLength / PerKind match {
        case 0 =>
          val t = term()
          Req("search", () => QueryService.search(lake, "Legal Name", t).collect(),
            rows(truth.searchCount(t)))
        case 1 =>
          val a = account()
          Req("pointLookup",
            () => QueryService.pointLookup(lake, "Account Number", lit(a)).collect(),
            rows(truth.accountRows(a)))
        case 2 =>
          val a = account()
          Req("paginateAfter", () => QueryService.paginateAfter(lake,
              "Account Number", Some(lit(a)), PageSize).collect(),
            got => rows(math.min(PageSize, truth.rowsAbove(a)))(got).orElse {
              val ks = got.map(_.getAs[Long]("Account Number"))
              if (ks.forall(_ > a) && ks.sameElements(ks.sorted)) None
              else Some("page keys out of order or not after the cursor")
            })
        case 3 =>
          val a = account()
          Req("groupCollect", () => QueryService.groupCollect(
              QueryService.pointLookup(lake, "Account Number", lit(a)),
              "Account Number", Seq("Legal Name"), Seq("Title")).collect(),
            rows(1))
        case 4 =>
          val t = term()
          val offset = if (r.nextBoolean()) 0 else 10
          Req("paginateWithMeta", () => QueryService.paginateWithMeta(
              QueryService.search(lake, "Legal Name", t),
              Seq("Account Number", "Owner Full Name", "Title"), offset, 10).collect(),
            got => {
              val n = truth.searchCount(t)
              rows(math.max(0, math.min(10, n - offset)))(got).orElse(
                got.find(_.getAs[Long]("total_count") != n)
                  .map(x => s"total_count ${x.getAs[Long]("total_count")}, expected $n"))
            })
        case _ if i % CycleLength == CycleLength - 2 =>
          Req("sql.v_role_distribution", () => spark.sql(
              "SELECT title, total_businesses FROM v_role_distribution").collect(),
            got => rows(truth.roleBusinesses.size)(got).orElse {
              val bad = got.filter(x => truth.roleBusinesses.get(x.getString(0))
                .forall(_ != x.getAs[Long]("total_businesses")))
              if (bad.isEmpty) None else Some(s"role counts differ: ${bad.take(3).mkString}")
            })
        case _ =>
          val a = account()
          Req("sql.v_business_ownership_summary", () => spark.sql(
              s"SELECT * FROM v_business_ownership_summary WHERE account_number = $a")
              .collect(),
            rows(1))
      }
    }
  }

  def run(ctx: Ctx, in: Inputs): Outcome = {
    val (csv, truth) = in
    val spark = ctx.spark
    val out = new Outcome
    val att = out.attempts
    val lakeRoot = new File(ctx.work, "lake").getPath
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()

    val etl = att.run(ctx.tracer.span("Pipeline.runFull", "pipeline") {
      Pipeline.runFull(spark, csv.getPath, lakeRoot)
    })
    val etlS = (System.nanoTime() - t0) / 1e9

    // read phase: one closed-loop client over the published lake
    val results = ArrayBuffer.empty[(Req, Array[Row])]
    val reqSpans = ArrayBuffer.empty[(String, Int, Int)]
    var r0 = System.nanoTime()
    var settled = att.latenciesMs.size
    if (etl.isDefined) {
      val lake = LakeStorage.readLatest(spark, lakeRoot, "processed", "business_owners")
      val it = requests(lake, spark, truth, ctx.seed)
      var sent = 0
      while (sent % CycleLength != 0 || ctx.more(sent / CycleLength, MinCycles, t0)) {
        if (sent == CycleLength) {
          r0 = System.nanoTime()
          settled = att.latenciesMs.size
        }
        sent += 1
        val q = it.next()
        att.run(ctx.tracer.span(s"QueryService.${q.kind}", "serve") {
          val got = q.call()
          ctx.spanId.foreach(id => reqSpans += ((q.kind, id, got.length)))
          got
        }).foreach(got => results += ((q, got)))
      }
    }
    val readS = (System.nanoTime() - r0) / 1e9
    out.window = (w0, System.currentTimeMillis())

    // requests after the settling cycle
    val lat = att.latenciesMs.drop(settled)
    if (lat.nonEmpty) {
      val p50 = Stats.percentile(lat, 0.50)
      val p75 = Stats.percentile(lat, 0.75)
      val p95 = Stats.percentile(lat, 0.95)
      out.endToEnd ++= Seq("main_s" -> (etlS, "s"), "step_p50_ms" -> (p50.value, "ms"),
        "items_per_s" -> (lat.size / readS, "1/s"))
      out.named ++= Seq("etl_s" -> (etlS, "s"), "serve_p50_ms" -> (p50.value, "ms"),
        "serve_p75_ms" -> (p75.value, "ms"), "serve_p95_ms" -> (p95.value, "ms"),
        "serve_qps" -> (lat.size / readS, "1/s"))
      out.info ++= Seq("requests" -> results.size, "serve_p95_samples_beyond" -> p95.beyond(0.95),
        "request_mix" -> results.groupBy(_._1.kind).map { case (k, v) => k -> v.size })
    }

    // serve-layer figures from the request spans
    ctx.ledger.foreach { lg =>
      lg.drain()
      val firstJob = reqSpans.flatMap { case (_, id, _) =>
        lg.spanJobs(id).headOption.map(_._1 - lg.allSpans.find(_.id == id).get.start)
      }
      val reads = reqSpans.map { case (kind, id, n) => (kind, lg.spanReads(id), n) }
      val lookups = reads.filter(_._1 == "pointLookup")
      out.layerExtras ++= Seq(
        "serve.plan_ms_p50" -> (if (firstJob.isEmpty) 0.0
                                else Stats.median(firstJob.map(_.toDouble).toSeq)),
        "serve.jobs_per_req" -> reqSpans.map(x => lg.spanJobs(x._2).size).sum.toDouble /
          math.max(1, reqSpans.size),
        "serve.rows_scanned_per_row" -> reads.map(_._2._2).sum.toDouble /
          math.max(1, reads.map(_._3).sum),
        "serve.files_read_per_lookup" -> lookups.map(_._2._1).sum.toDouble /
          math.max(1, lookups.size))
      val (bytes, files) = Workload.diskUsage(new File(lakeRoot))
      out.layerExtras += "lake.files_written" -> files.toDouble
      out.info += "lake_bytes_on_disk" -> bytes
    }

    // output checks against the generator's truth
    etl match {
      case None => out.check("runFull completes", ok = false, att.errors.mkString("; "))
      case Some(res) =>
        out.check("integrity gate passes", res.integrityPassed)
        val processed = LakeStorage.readLatest(spark, lakeRoot, "processed",
          "business_owners").count()
        out.check("processed rows equal input rows", processed == truth.rows,
          s"$processed processed, ${truth.rows} generated")
        val q = spark.read.json(res.paths("quality_report")).collect().head
        val total = q.getAs[Long]("total_records")
        val unique = q.getAs[Long]("unique_businesses")
        out.check("quality report total_records", total == truth.rows,
          s"$total, expected ${truth.rows}")
        out.check("quality report unique_businesses", unique == truth.uniqueBusinesses,
          s"$unique, expected ${truth.uniqueBusinesses}")
        val roles = LakeStorage.readLatest(spark, lakeRoot, "aggregated",
          "role_distribution").collect()
          .map(x => x.getAs[String]("Title") -> x.getAs[Long]("cnt")).toMap
        out.check("role distribution equals generated title counts",
          roles == truth.titleCounts,
          s"engine $roles, generated ${truth.titleCounts}")
        val wrong = results.flatMap { case (q, got) => q.check(got).map(q.kind + ": " + _) }
        out.check("every request returns the rows the truth implies",
          results.nonEmpty && wrong.isEmpty, wrong.take(5).mkString("; "))
    }
    out
  }
}
