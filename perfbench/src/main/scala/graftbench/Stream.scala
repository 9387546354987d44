package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}
import java.time.Instant

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.lake.VersionedTable
import graft.stream.Streaming

/** The incremental half of the `curate` workload.
  * `Streaming.nearDedupWriter` at its defaults
  * over a file source fed one pre-generated file per micro-batch. The
  * feeder moves the next file in only after the previous batch has
  * committed (a closed loop), until the run's time is up ([[Ctx.more]]).
  * Near-duplicates span batches, and event time advances 10 minutes a
  * batch against a 30-minute retention, so state expires continually.
  */
object Stream {
  type Inputs = (File, IndexedSeq[IndexedSeq[Gen.StreamDoc]], Seq[Long])

  val MaxBatches = 40
  val MinBatches = 12
  /** Batches before the steady state: the first creates the store, and
    * the second still runs on cold JVM paths.
    */
  val Settle = 2
  val PerBatch = 250
  val Tokens = 60
  val SpacingSec = 600L
  val Retention = "30 minutes"
  /** Batches back beyond which a template's bands have expired. */
  val OldLag = 5
  private val Epoch = Instant.parse("2024-01-01T00:00:00Z").getEpochSecond

  private val schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("ts", TimestampType),
    StructField("batch", IntegerType)))

  def prepare(dir: File, seed: Long): Inputs = {
    val batches = Gen.streamBatches(seed, MaxBatches, PerBatch, Tokens, SpacingSec, OldLag)
    dir.mkdirs()
    val sizes = batches.zipWithIndex.map { case (docs, b) =>
      val f = new File(dir, f"batch-$b%04d.json")
      val body = docs.map { d =>
        val ts = Instant.ofEpochSecond(Epoch + d.tsSec).toString
        s"""{"doc_id":${d.id},"text":${Json.quote(d.text)},"ts":"$ts","batch":${d.batch}}"""
      }.mkString("", "\n", "\n")
      Files.write(f.toPath, body.getBytes(StandardCharsets.UTF_8))
      f.length
    }
    (dir, batches, sizes)
  }

  def inputSize(in: Inputs): (Long, Long) =
    (in._2.map(_.size.toLong).sum, in._3.sum)

  def run(ctx: Ctx, in: Inputs): Outcome = {
    val (pending, batches, sizes) = in
    val spark = ctx.spark
    val out = new Outcome
    val att = out.attempts
    val src = new File(ctx.work, "stream-src")
    src.mkdirs()
    val store = new File(ctx.work, "store")
    val sink = new File(ctx.work, "survivors")
    val ckpt = new File(ctx.work, "checkpoint")
    // bytes each batch wrote to the store and the sink, from new files
    // on disk (traced runs only)
    val seen = mutable.Set.empty[String]
    def newBytes(dir: File): Long =
      Workload.walk(dir).filter(f => seen.add(f.getPath)).map(_.length).sum
    val written = ArrayBuffer.empty[(Long, Long)]

    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var fed = 0
    var error: Option[String] = None
    val (progress, runSpan) = ctx.tracer.span("Streaming.nearDedupWriter", "stream") {
      val docs = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .json(src.getPath)
      val q = Streaming.nearDedupWriter(docs, "doc_id", "text", "ts",
          store.getPath, sink.getPath, retention = Retention)
        .option("checkpointLocation", ckpt.getPath)
        .trigger(Trigger.ProcessingTime(0L))
        .start()
      try {
        while (error.isEmpty && fed < batches.size && ctx.more(fed, MinBatches, t0)) {
          val name = f"batch-$fed%04d.json"
          Files.move(new File(pending, name).toPath, new File(src, name).toPath,
            StandardCopyOption.ATOMIC_MOVE)
          fed += 1
          try q.processAllAvailable()
          catch { case NonFatal(e) => error = Some(e.toString.take(300)) }
          if (ctx.ledger.isDefined) written += ((newBytes(store), newBytes(sink)))
        }
      } finally q.stop()
      (q.recentProgress.filter(_.numInputRows > 0).sortBy(_.batchId).toSeq,
        ctx.spanId.getOrElse(-1))
    }
    out.window = (w0, System.currentTimeMillis())
    report(ctx, out, progress, fed, error, batches, sizes, written.toSeq, store, sink,
      runSpan)
    out
  }

  private def report(ctx: Ctx, out: Outcome,
                     progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
                     fed: Int, error: Option[String],
                     batches: IndexedSeq[IndexedSeq[Gen.StreamDoc]], sizes: Seq[Long],
                     written: Seq[(Long, Long)], store: File, sink: File,
                     runSpan: Int): Unit = {
    val spark = ctx.spark
    out.attempts.record(fed, fed - progress.size, error)
    def trigger(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Double =
      p.durationMs.get("triggerExecution").doubleValue
    val steady = progress.drop(Settle)
    if (progress.nonEmpty && steady.nonEmpty) {
      val lat = steady.map(trigger)
      val p50 = Stats.percentile(lat, 0.50)
      val p75 = Stats.percentile(lat, 0.75)
      // rows from the generator: Spark's numInputRows counts a row once
      // per scan of the batch, which is the writer's choice, not the input
      val docsPerS = steady.map(p => batches(p.batchId.toInt).size).sum / (lat.sum / 1e3)
      out.endToEnd ++= Seq("step_p50_ms" -> (p50.value, "ms"),
        "items_per_s" -> (docsPerS, "1/s"))
      out.named ++= Seq("stream_bootstrap_s" -> (trigger(progress.head) / 1e3, "s"),
        "stream_batch_p50_ms" -> (p50.value, "ms"),
        "stream_batch_p75_ms" -> (p75.value, "ms"),
        "stream_docs_per_s" -> (docsPerS, "1/s"))
      out.info ++= Seq("batches" -> progress.size, "steady_batches" -> steady.size)
    }

    // stream-layer figures: jobs and driver gaps per batch from the
    // ledger, planning time from progress, bytes from the disk
    ctx.ledger.foreach { lg =>
      lg.drain()
      progress.foreach { p =>
        val start = Instant.parse(p.timestamp).toEpochMilli
        lg.addBatchSpan(s"batch ${p.batchId}", "stream", start,
          start + trigger(p).toLong, runSpan, p.batchId)
      }
      val per = steady.map { p =>
        val start = Instant.parse(p.timestamp).toEpochMilli
        val end = start + trigger(p).toLong
        val js = lg.batchJobs(p.batchId)
        (js.size, end - start - Ledger.unionMs(js, start, end))
      }
      val n = math.max(1, per.size)
      val inputBytes = sizes.take(fed).sum.toDouble
      val storeBytes = written.map(_._1)
      val (storeOnDisk, storeFiles) = Workload.diskUsage(store)
      val (_, sinkFiles) = Workload.diskUsage(sink)
      out.layerExtras ++= Seq(
        "stream.jobs_per_batch" -> per.map(_._1).sum.toDouble / n,
        "stream.driver_gap_ms_per_batch" -> per.map(_._2).sum.toDouble / n,
        "stream.planning_ms_p50" -> (if (steady.isEmpty) 0.0 else Stats.median(
          steady.map(p => Option(p.durationMs.get("queryPlanning")).map(_.doubleValue)
            .getOrElse(0.0)))),
        "stream.store_bytes_written_per_batch" ->
          storeBytes.drop(1).sum.toDouble / math.max(1, storeBytes.size - 1),
        "stream.write_amp" -> written.map(x => x._1 + x._2).sum / math.max(1.0, inputBytes),
        "stream.store_bytes_on_disk" -> storeOnDisk.toDouble,
        "stream.live_segments" -> (if (VersionedTable.isVersioned(spark, store.getPath))
          VersionedTable.pendingDeltas(spark, store.getPath).size.toDouble else 0.0),
        "lake.files_written" -> (storeFiles + sinkFiles).toDouble)
    }

    // output checks against the generator's truth. Spark counts a
    // batch's source rows once per scan of the batch, so the reported
    // count is a whole multiple of the rows the batch file holds.
    val reported = progress.map(p => p.batchId -> p.numInputRows).toMap
    val rowsIn = (0 until fed).map(b => b -> batches(b).size).toMap
    val unread = (0 until fed).filter(b => reported.get(b.toLong)
      .forall(n => n <= 0 || n % rowsIn(b) != 0))
    out.check("every fed batch committed with the rows generated for it",
      error.isEmpty && unread.isEmpty,
      error.getOrElse(s"batches ${unread.take(5)} reported ${unread.take(5).map(b =>
        reported.get(b.toLong))}, generated ${unread.take(5).map(rowsIn)}"))
    out.layerExtras += "stream.source_reads_per_row" ->
      reported.values.sum.toDouble / math.max(1, rowsIn.values.sum)
    if (VersionedTable.isVersioned(spark, sink.getPath)) {
      val merged = VersionedTable.readCurrentMerged(spark, sink.getPath, Seq("doc_id"))
        .select("doc_id", "text", "batch").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
      val gen = batches.take(fed).flatten.map(d => d.id -> d).toMap
      out.check("the merged survivors sink holds no id twice",
        merged.map(_._1).distinct.length == merged.length)
      val foreign = merged.filterNot { case (id, text, b) =>
        gen.get(id).exists(d => d.batch == b && d.text == text)
      }
      out.check("survivors come from their own batch", foreign.isEmpty,
        s"${foreign.length} survivors not in their batch, e.g. ${foreign.take(3).map(_._1).toSeq}")
      // per kind, the generator knows the writer's decision: fresh
      // documents and near-copies of expired templates are admitted;
      // near-copies of live templates (in the store) and exact in-batch
      // copies are dropped
      val ids = merged.map(_._1).toSet
      val docs = batches.take(fed).flatten
      def decided(kind: String, admit: Boolean, what: String): Unit = {
        val wrong = docs.filter(d => d.kind == kind && ids.contains(d.id) != admit)
        out.check(what, wrong.isEmpty,
          s"${wrong.size} of ${docs.count(_.kind == kind)}, e.g. ids ${wrong.take(3).map(_.id)}")
      }
      decided("fresh", admit = true, "every fresh document is admitted")
      decided("copy", admit = false, "exact in-batch copies are never admitted")
      decided("recent", admit = false,
        "near-copies of templates inside the retention horizon are never admitted")
      decided("old", admit = true,
        "near-copies of templates beyond the retention horizon are admitted")
      out.layerExtras += "stream.admitted_frac" -> merged.length.toDouble / math.max(1, docs.size)
      out.info ++= Seq("admitted" -> merged.length, "docs_in" -> docs.size) ++
        Seq("fresh", "recent", "old", "copy").map(k => s"${k}_in" -> docs.count(_.kind == k))
    } else out.check("the survivors sink was published", ok = false)
  }
}
