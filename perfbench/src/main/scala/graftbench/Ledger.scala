package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.GraftBenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftBenchSqlBridge, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One traced interval. Times are epoch milliseconds, the clock Spark
  * stamps its job events with. `parent` is -1 for a root span.
  */
final case class Span(id: Int, name: String, layer: String, start: Long,
                      end: Long, parent: Int)

/** Opens spans around calls into the engine. The untraced run uses
  * [[NoTrace]], so end-to-end timings carry no tracing cost.
  */
trait Tracer {
  def span[T](name: String, layer: String)(body: => T): T
}

object NoTrace extends Tracer {
  def span[T](name: String, layer: String)(body: => T): T = body
}

/** Per-layer figures over one window of a run. */
final case class LayerTally(jobs: Int, busyS: Double, executorS: Double,
                            shuffleBytes: Long, exchanges: Int, scans: Int,
                            bytesRead: Long, bytesWritten: Long)

/** The traced run's collector. It listens to Spark's job, stage and SQL
  * execution events, reads each execution's executed plan (exchanges,
  * file scans, files read) from the query execution its end event
  * carries, and records the benchmark's own spans. Each job is charged to a layer by, in order:
  * the innermost engine frame of its SQL execution's call site (or of
  * the root execution's), the innermost engine frame of its own call
  * site, the layer of the span it ran under, and otherwise
  * [[Layers.Unattributed]].
  */
final class Ledger(spark: SparkSession, val runId: String)
    extends SparkListener with Tracer with AdaptiveSparkPlanHelper {

  private final case class Job(id: Int, start: Long, end: Long,
                               exec: Option[Long], batch: Option[Long],
                               span: Option[Int], stages: Seq[Int],
                               callSite: String)
  private final case class Stage(executorMs: Long, shuffleWrite: Long,
                                 bytesRead: Long, recordsRead: Long,
                                 bytesWritten: Long)
  private final case class Exec(id: Long, root: Option[Long], time: Long,
                                details: String)
  private final case class Plan(exchanges: Int, scans: Int, filesRead: Long)

  private val sc = spark.sparkContext
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[Int, Stage]()
  private val execs = new ConcurrentHashMap[Long, Exec]()
  private val plans = new ConcurrentHashMap[Long, Plan]()
  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[(Int, String)]
  private var nextSpan = 0
  private val batchSpans = new ConcurrentHashMap[Long, Int]()
  // a stage listed by several jobs (a reused shuffle) is charged once,
  // to the first job that lists it
  private val stageOwner = new ConcurrentHashMap[Int, Int]()

  def attach(): this.type = {
    sc.addSparkListener(this)
    this
  }

  def detach(): Unit = {
    drain()
    sc.removeSparkListener(this)
  }

  /** Wait until every posted event has reached the listeners. */
  def drain(): Unit = GraftBenchBridge.drainListeners(sc)

  // ---- spans -------------------------------------------------------

  def span[T](name: String, layer: String)(body: => T): T = {
    val (id, parent) = synchronized {
      nextSpan += 1
      (nextSpan, open.headOption.map(_._1).getOrElse(-1))
    }
    val prev = sc.getLocalProperty(Ledger.SpanKey)
    sc.setLocalProperty(Ledger.SpanKey, id.toString)
    open = (id, layer) :: open
    val start = System.currentTimeMillis()
    try body
    finally {
      val end = System.currentTimeMillis()
      open = open.tail
      sc.setLocalProperty(Ledger.SpanKey, prev)
      synchronized { spans += Span(id, name, layer, start, end, parent) }
    }
  }

  /** Record a span measured elsewhere (a streaming batch, from its
    * progress report); jobs tagged with `batchId` become its children.
    */
  def addBatchSpan(name: String, layer: String, start: Long, end: Long,
                   parent: Int, batchId: Long): Int = synchronized {
    nextSpan += 1
    spans += Span(nextSpan, name, layer, start, end, parent)
    batchSpans.put(batchId, nextSpan)
    nextSpan
  }

  /** Id of the innermost open span, -1 when none is open. */
  def currentSpan: Int = open.headOption.map(_._1).getOrElse(-1)

  def allSpans: Seq[Span] = synchronized(spans.toSeq)

  // ---- listener ----------------------------------------------------

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val callSite = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details)
      .getOrElse("")
    jobs.put(e.jobId, Job(e.jobId, e.time, -1L,
      prop("spark.sql.execution.id").flatMap(s => Try(s.toLong).toOption),
      prop("streaming.sql.batchId").flatMap(s => Try(s.toLong).toOption),
      prop(Ledger.SpanKey).flatMap(s => Try(s.toInt).toOption),
      e.stageIds, callSite))
    e.stageIds.foreach(s => stageOwner.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.computeIfPresent(e.jobId, (_, j) => j.copy(end = e.time))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val m = e.stageInfo.taskMetrics
    if (m != null) {
      val s = Stage(m.executorRunTime, m.shuffleWriteMetrics.bytesWritten,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.outputMetrics.bytesWritten)
      stages.merge(e.stageInfo.stageId, s, (a, b) => Stage(
        a.executorMs + b.executorMs, a.shuffleWrite + b.shuffleWrite,
        a.bytesRead + b.bytesRead, a.recordsRead + b.recordsRead,
        a.bytesWritten + b.bytesWritten))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execs.put(s.executionId,
        Exec(s.executionId, s.rootExecutionId, s.time, s.details))
    case x: SparkListenerSQLExecutionEnd =>
      GraftBenchSqlBridge.queryExecution(x).foreach(qe => recordPlan(x.executionId, qe))
    case _ => ()
  }

  private def recordPlan(executionId: Long, qe: QueryExecution): Unit = Try {
    val plan = qe.executedPlan
    val exchanges = collectWithSubqueries(plan) { case x: Exchange => x }.size
    val files = collectWithSubqueries(plan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      case _: BatchScanExec => 0L
    }
    plans.put(executionId, Plan(exchanges, files.size, files.sum))
  }

  // ---- attribution -------------------------------------------------

  private def execLayer(id: Long): Option[String] =
    Option(execs.get(id)).flatMap { x =>
      Layers.moduleOf(x.details).orElse(
        x.root.filter(_ != id).flatMap(r => Option(execs.get(r)))
          .flatMap(r => Layers.moduleOf(r.details)))
    }

  private def spanLayer(id: Int): Option[String] = synchronized {
    spans.find(_.id == id).map(_.layer).orElse(open.find(_._1 == id).map(_._2))
  }.filter(Layers.Reported.contains)

  private def layerOf(j: Job): String =
    j.exec.flatMap(execLayer)
      .orElse(Layers.moduleOf(j.callSite))
      .orElse(j.span.flatMap(spanLayer))
      .getOrElse(Layers.Unattributed)

  private def jobsIn(w0: Long, w1: Long): Seq[Job] =
    jobs.values.asScala.toSeq.filter(j => j.start >= w0 && j.start <= w1)
      .map(j => if (j.end < 0) j.copy(end = w1) else j).sortBy(_.id)

  private def stageOf(j: Job): Seq[Stage] =
    j.stages.filter(s => stageOwner.get(s) == j.id)
      .flatMap(s => Option(stages.get(s)))

  /** Per-layer tallies over the window, plus the key `"total"`. Layers
    * with no work are present with zeros.
    */
  def tallies(w0: Long, w1: Long): Map[String, LayerTally] = {
    val js = jobsIn(w0, w1)
    val byLayer = js.groupBy(layerOf)
    // an execution's plan is charged like its first job; an execution
    // that ran no job is charged by its call site alone
    val execJob = js.flatMap(j => j.exec.map(_ -> j)).groupBy(_._1)
      .map { case (e, xs) => e -> layerOf(xs.map(_._2).minBy(_.id)) }
    val execIds = execs.values.asScala.filter(x => x.time >= w0 && x.time <= w1)
      .map(_.id).toSet ++ execJob.keySet
    val planLayer = execIds.toSeq.flatMap { e =>
      Option(plans.get(e)).map { p =>
        val layer = execJob.get(e).orElse(execLayer(e)).getOrElse(Layers.Unattributed)
        layer -> p
      }
    }.groupBy(_._1)

    def tally(jobs: Seq[Job], ps: Seq[Plan]): LayerTally = {
      val st = jobs.flatMap(stageOf)
      LayerTally(jobs.size,
        Ledger.unionMs(jobs.map(j => (j.start, j.end)), w0, w1) / 1e3,
        st.map(_.executorMs).sum / 1e3, st.map(_.shuffleWrite).sum,
        ps.map(_.exchanges).sum, ps.map(_.scans).sum,
        st.map(_.bytesRead).sum, st.map(_.bytesWritten).sum)
    }
    val per = Layers.Reported.map { l =>
      l -> tally(byLayer.getOrElse(l, Nil), planLayer.getOrElse(l, Nil).map(_._2))
    }.toMap
    per + ("total" -> tally(js, planLayer.values.flatten.map(_._2).toSeq))
  }

  /** Jobs run under one span (directly, not through a child span). */
  def spanJobs(spanId: Int): Seq[(Long, Long)] =
    jobs.values.asScala.toSeq.filter(_.span.contains(spanId)).sortBy(_.id)
      .map(j => (j.start, j.end))

  /** Files read and records read by the scans of one span's jobs. */
  def spanReads(spanId: Int): (Long, Long) = {
    val js = jobs.values.asScala.toSeq.filter(_.span.contains(spanId))
    val files = js.flatMap(_.exec).distinct.flatMap(e => Option(plans.get(e)))
      .map(_.filesRead).sum
    (files, js.flatMap(stageOf).map(_.recordsRead).sum)
  }

  /** Jobs of one streaming batch, by the batch id Spark tags them with. */
  def batchJobs(batchId: Long): Seq[(Long, Long)] =
    jobs.values.asScala.toSeq.filter(_.batch.contains(batchId))
      .map(j => (j.start, if (j.end < 0) j.start else j.end))

  /** Every recorded span plus one child span per job, with each job
    * under its streaming batch's span when it has one.
    */
  def spansWithJobs(w0: Long, w1: Long): Seq[Span] = {
    val js = jobsIn(w0, w1).map { j =>
      val parent = j.batch.flatMap(b => Option(batchSpans.get(b)).map(_.toInt))
        .orElse(j.span).getOrElse(-1)
      Span(Ledger.JobSpanBase + j.id, s"job ${j.id}", layerOf(j), j.start,
        j.end, parent)
    }
    allSpans ++ js
  }
}

object Ledger {
  /** Local property that tags a job with the benchmark span it ran in. */
  val SpanKey = "graftbench.span"

  /** Job spans take ids above every benchmark span id. */
  val JobSpanBase = 1000000

  /** Total length of the union of intervals, clipped to [w0, w1]. */
  def unionMs(intervals: Seq[(Long, Long)], w0: Long, w1: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, w0), math.min(b, w1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time per layer: each span's duration minus the part of it its
    * children cover.
    */
  def selfTimeS(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = unionMs(kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)),
        s.start, s.end)
      s.layer -> (s.end - s.start - covered) / 1e3
    }.groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2).sum }
  }
}
