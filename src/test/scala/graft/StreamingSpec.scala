package graft

import graft.stream.Streaming
import graft.stream.Streaming.DataEvent
import graft.multimodal.Multimodal
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ev(id: Long, t: String, typ: String, v: Double) =
    DataEvent(id, Timestamp.valueOf(t), id % 5, typ, v, "{}")

  test("streaming dedupe drops duplicate event ids within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[DataEvent]
    val q = Streaming.dedupeEvents(input.toDF())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    input.addData(
      ev(1, "2024-01-01 10:00:00", "click", 1.0),
      ev(2, "2024-01-01 10:05:00", "error", 2.0),
      ev(1, "2024-01-01 10:06:00", "click", 1.0)) // duplicate id
    q.processAllAvailable()
    input.addData(ev(1, "2024-01-01 10:20:00", "click", 9.9)) // still dup
    q.processAllAvailable()
    val out = spark.table("dedup_out")
    assert(out.count() === 2)
    q.stop()
  }

  test("windowed health metrics aggregate by event-time window in streaming mode") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[DataEvent]
    val q = Streaming.windowedHealthStream(input.toDF(), "1 hour", "2 hours")
      .writeStream.format("memory").queryName("window_out")
      .outputMode("complete").start()
    input.addData(
      ev(1, "2024-01-01 10:10:00", "click", 1.0),
      ev(2, "2024-01-01 10:40:00", "click", 2.0),
      ev(3, "2024-01-01 11:05:00", "error", 3.0))
    q.processAllAvailable()
    val out = spark.table("window_out").collect()
      .map(r => (r.getAs[Timestamp]("window_start").toString, r.getAs[String]("event_type"),
        r.getAs[Long]("n_events"))).toSet
    assert(out === Set(
      ("2024-01-01 10:00:00.0", "click", 2L),
      ("2024-01-01 11:00:00.0", "error", 1L)))
    q.stop()
  }

  test("append mode finalizes windows at the watermark and drops later stragglers") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[DataEvent]
    val q = Streaming.windowedHealthStream(input.toDF(), "1 hour", "1 hour")
      .writeStream.format("memory").queryName("late_out")
      .outputMode("append").start()
    // two events in the [10:00, 11:00) window
    input.addData(
      ev(1, "2024-01-01 10:15:00", "click", 1.0),
      ev(2, "2024-01-01 10:30:00", "click", 2.0))
    q.processAllAvailable()
    // advance event time to 13:00 → watermark 12:00 → [10,11) finalizes
    input.addData(ev(3, "2024-01-01 13:00:00", "click", 3.0))
    q.processAllAvailable()
    // a straggler at 10:45 arrives AFTER its window finalized → dropped
    input.addData(ev(4, "2024-01-01 10:45:00", "click", 99.0))
    q.processAllAvailable()
    val finalized = spark.table("late_out").collect()
      .map(r => (r.getAs[Timestamp]("window_start").toString, r.getAs[Long]("n_events")))
      .toMap
    // the 10:00 window emitted exactly the pre-watermark events; the
    // straggler neither re-emits the window nor perturbs its count
    assert(finalized === Map("2024-01-01 10:00:00.0" -> 2L))
    q.stop()
  }

  test("streaming content dedup drops re-sent documents across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val docs = input.toDF().toDF("doc_id", "ts", "text")
    val q = Streaming.dedupeByContent(docs, "text", "ts")
      .writeStream.format("memory").queryName("content_dedup")
      .outputMode("append").start()
    input.addData(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), "hello world"),
      (2L, Timestamp.valueOf("2024-01-01 10:01:00"), "something else"))
    q.processAllAvailable()
    // canonical duplicate (case/whitespace) arriving a batch later
    input.addData((3L, Timestamp.valueOf("2024-01-01 10:02:00"), " Hello   WORLD "))
    q.processAllAvailable()
    val kept = spark.table("content_dedup").select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq === Seq(1L, 2L))
    q.stop()
  }

  test("nearDedupWriter compiles no class per steady batch while event time advances") {
    import org.apache.spark.metrics.source.CodegenMetrics
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val dir = java.nio.file.Files.createTempDirectory("graft_neardedup_codegen").toString
    val q = Streaming.nearDedupWriter(input.toDF().toDF("doc_id", "ts", "text"),
        "doc_id", "text", "ts", dir + "/store", dir + "/survivors", retention = "30 minutes")
      .option("checkpointLocation", dir + "/chk").start()
    def text(tag: String) = (0 until 20).map(j => s"$tag$j").mkString(" ")
    def near(tag: String) = text(tag).replaceFirst("\\w+$", "omega")
    val t0 = Timestamp.valueOf("2024-01-01 10:00:00").getTime
    // every batch: two fresh documents, a near copy of the last batch's
    // first one and an in-batch near copy of its second; event time
    // advances 10 minutes a batch, so the horizon moves and old bands
    // expire from the fourth batch on
    def batch(b: Int) = Seq((1, text(s"x$b")), (2, text(s"y$b")),
        (3, near(s"x${b - 1}")), (4, near(s"y$b")))
      .map { case (k, txt) => (b * 10L + k, new Timestamp(t0 + b * 600000L + k * 1000L), txt) }
    val perBatch = try (0 until 8).map { b =>
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      input.addData(batch(b): _*)
      q.processAllAvailable()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    } finally q.stop()
    assert(perBatch.drop(2).forall(_ == 0), s"classes compiled per batch: $perBatch")
    // the writer still decides: batch 0 keeps all but the twin, later
    // batches keep their two fresh documents
    val kept = graft.lake.VersionedTable
      .readCurrentMerged(spark, dir + "/survivors", Seq("doc_id"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(1L, 2L, 3L) ++ (1 until 8).flatMap(b => Seq(b * 10L + 1, b * 10L + 2)))
  }

  test("streaming near-dedup drops cross-batch near-duplicates and expires old state") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val docs = input.toDF().toDF("doc_id", "ts", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_neardedup").toString
    val q = Streaming.nearDedupWriter(docs, "doc_id", "text", "ts",
        dir + "/store", dir + "/survivors", retention = "1 hour")
      .option("checkpointLocation", dir + "/chk").start()
    val base = "the quick brown fox jumps over the lazy dog near the old barn"
    input.addData(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), base),
      (2L, Timestamp.valueOf("2024-01-01 10:01:00"),
        "completely different words about stars planets moons comets asteroids orbits"))
    q.processAllAvailable()
    // batch 2: a NEAR-duplicate (one token changed — exact-fingerprint
    // dedup would miss it) of batch-1 content, plus a fresh doc
    input.addData(
      (3L, Timestamp.valueOf("2024-01-01 10:05:00"), base.replace("dog", "cat")),
      (4L, Timestamp.valueOf("2024-01-01 10:06:00"),
        "fresh unrelated content mentioning rivers mountains valleys forests deserts plains"))
    q.processAllAvailable()
    val kept = graft.lake.VersionedTable
      .readCurrentMerged(spark, dir + "/survivors", Seq("doc_id"))
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq === Seq(1L, 2L, 4L))
    // batch 3 arrives beyond the retention horizon: doc 1's bands are
    // expired before the decision, so its near-dup is RE-admitted — the
    // bounded-state trade, demonstrated
    input.addData(
      (5L, Timestamp.valueOf("2024-01-01 12:30:00"), base.replace("dog", "hen")))
    q.processAllAvailable()
    val kept2 = graft.lake.VersionedTable
      .readCurrentMerged(spark, dir + "/survivors", Seq("doc_id"))
      .select("doc_id").as[Long].collect().sorted
    assert(kept2.toSeq === Seq(1L, 2L, 4L, 5L))
    // state is bounded: only bands of docs within the horizon remain
    // (the store is a VersionedTable root — resolve the current version)
    val storeTs = graft.lake.VersionedTable.readCurrent(spark, dir + "/store")
      .select("_ts").distinct().as[Timestamp].collect()
    assert(storeTs.toSeq === Seq(Timestamp.valueOf("2024-01-01 12:30:00")))
    q.stop()
  }

  test("novelty gate admits fresh content, refuses repeats, re-admits after expiry") {
    import graft.stream.Streaming
    val dir = java.nio.file.Files.createTempDirectory("graft_novgate").toString
    val store = dir + "/store"
    def batch(rows: (Long, String, String)*) =
      rows.toDF("doc_id", "text", "tss")
        .withColumn("ts", col("tss").cast("timestamp")).drop("tss")
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    // batch 1: empty store — everything admits at novelty 1.0
    val b1 = Streaming.noveltyGateBatchStep(
      batch((1L, base, "2024-01-01 10:00:00")),
      "doc_id", "text", "ts", store, minNovelty = 0.5, retention = "1 hour")
    assert(b1.select("doc_id", "novelty").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq === Seq((1L, 1.0)))
    // batch 2: a near-verbatim repeat refuses, fresh content admits,
    // a shingle-less doc admits with null novelty
    val b2 = Streaming.noveltyGateBatchStep(
      batch(
        (2L, base.replace("kappa", "lambda"), "2024-01-01 10:10:00"),
        (3L, "totally different words about rivers mountains valleys forests", "2024-01-01 10:11:00"),
        (4L, "tiny doc", "2024-01-01 10:12:00")),
      "doc_id", "text", "ts", store, minNovelty = 0.5, retention = "1 hour")
      .select("doc_id", "novelty").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(b2.keySet === Set(3L, 4L))
    assert(b2(4L).isEmpty)
    // batch 3 beyond retention: the expired shingles no longer refuse
    val b3 = Streaming.noveltyGateBatchStep(
      batch((5L, base.replace("kappa", "mu"), "2024-01-01 12:30:00")),
      "doc_id", "text", "ts", store, minNovelty = 0.5, retention = "1 hour")
      .select("doc_id").as[Long].collect()
    assert(b3.toSeq === Seq(5L))
    // store is bounded to the live horizon: only batch-3 shingles remain
    val ts = graft.lake.VersionedTable.readCurrent(spark, store)
      .select("_ts").distinct().as[Timestamp].collect()
    assert(ts.toSeq === Seq(Timestamp.valueOf("2024-01-01 12:30:00")))
  }

  test("novelty gate late batch: expired shingles stay dead, future admissions still refuse, store never re-grows") {
    import graft.stream.Streaming
    val dir = java.nio.file.Files.createTempDirectory("graft_novlate").toString
    val store = dir + "/store"
    def batch(rows: (Long, String, String)*) =
      rows.toDF("doc_id", "text", "tss")
        .withColumn("ts", col("tss").cast("timestamp")).drop("tss")
    def step(b: org.apache.spark.sql.DataFrame) =
      Streaming.noveltyGateBatchStep(b, "doc_id", "text", "ts", store,
        minNovelty = 0.5, retention = "1 hour")
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val other = "rivers mountains valleys forests deserts plains islands caves cliffs dunes"
    step(batch((1L, base, "2024-01-01 10:00:00")))
    // 12:30 is beyond retention: doc 1's shingles physically expire here
    step(batch((2L, other, "2024-01-01 12:30:00")))
    // LATE batch (event time 10:05, behind the store's 12:30 clock):
    // the repeat of EXPIRED content admits (expiry is physical — a
    // late arrival cannot resurrect pruned shingles), while the repeat
    // of content admitted "in its future" still refuses (live shingles
    // are visible regardless of the late batch's own horizon).
    val late = step(batch(
        (6L, base.replace("kappa", "mu"), "2024-01-01 10:05:00"),
        (7L, other.replace("dunes", "reefs"), "2024-01-01 10:05:00")))
      .select("doc_id").as[Long].collect().sorted
    assert(late.toSeq === Seq(6L))
    // the late batch's older horizon pruned nothing that had already
    // survived: doc 2's newer shingles keep their 12:30 clock
    val ts1 = graft.lake.VersionedTable.readCurrent(spark, store)
      .select("_ts").distinct().as[Timestamp].collect().map(_.toString).sorted
    assert(ts1.toSeq === Seq("2024-01-01 10:05:00.0", "2024-01-01 12:30:00.0"))
    // the next FRESH batch prunes the late admission's old-stamped
    // shingles right back out — the store is bounded by the live
    // horizon, late data never re-grows it
    step(batch((8L, "completely new subject matter entirely unrelated words", "2024-01-01 12:40:00")))
    val ts2 = graft.lake.VersionedTable.readCurrent(spark, store)
      .select("_ts").distinct().as[Timestamp].collect().map(_.toString).sorted
    assert(ts2.toSeq === Seq("2024-01-01 12:30:00.0", "2024-01-01 12:40:00.0"))
  }

  test("near-dedup segment mode: decisions match eager, no republish after bootstrap, expired segments drop whole") {
    import graft.stream.Streaming
    import graft.lake.VersionedTable
    val dir = java.nio.file.Files.createTempDirectory("graft_nndseg").toString
    val eagerStore = dir + "/eager"
    val segStore = dir + "/seg"
    def batch(rows: (Long, String, String)*) =
      rows.toDF("doc_id", "text", "tss")
        .withColumn("ts", col("tss").cast("timestamp")).drop("tss")
    def run(b: org.apache.spark.sql.DataFrame) = {
      def ids(store: String, ms: Int) =
        Streaming.nearDedupBatchStep(b, "doc_id", "text", "ts", store,
          retention = "1 hour", maxSegments = ms)
          .select("doc_id").as[Long].collect().sorted.toSeq
      val (e, a) = (ids(eagerStore, 0), ids(segStore, Streaming.SegmentMergeBound))
      assert(e === a, "segment-mode survivors diverged from eager")
      e
    }
    // the crash-convergence spec pins that `cat` band-collides with
    // `base` under the default Xx64 LSH geometry
    val base = "the quick brown fox jumps over the lazy dog near the old barn"
    val cat = base.replace("dog", "cat")
    val fresh = "completely different words about stars planets moons comets asteroids orbits"
    // b1 bootstraps BOTH stores with a published base (no segments yet)
    assert(run(batch((1L, base, "2024-01-01 10:00:00"))) === Seq(1L))
    assert(VersionedTable.pendingDeltas(spark, segStore).isEmpty)
    val baseV1 = VersionedTable.currentVersion(spark, segStore)
    // b2: near-dup of stored doc 1 drops, fresh text admits — the
    // segment store appends ONE stamped segment (base untouched)
    assert(run(batch(
      (2L, cat, "2024-01-01 10:10:00"),
      (3L, fresh, "2024-01-01 10:11:00"))) === Seq(3L))
    assert(VersionedTable.pendingDeltas(spark, segStore).size === 1)
    assert(VersionedTable.currentVersion(spark, segStore) === baseV1)
    // b3 beyond retention: doc 1's bands expired, its twin re-admits;
    // b2's segment (stamp 10:11) fell fully behind the 11:30 horizon
    // and drops WHOLE, leaving only b3's own segment. The bootstrap
    // base still physically holds the 10:00 bands (logically dead);
    // eager pruned them at publish
    assert(run(batch((4L, base, "2024-01-01 12:30:00"))) === Seq(4L))
    assert(VersionedTable.pendingDeltas(spark, segStore).size === 1,
      "expired segment must vacuum whole; the new batch appends one")
    assert(VersionedTable.currentVersion(spark, segStore) === baseV1)
    def tsOnDisk(store: String) = VersionedTable.readCurrent(spark, store)
      .select("_ts").distinct().as[Timestamp].collect().map(_.toString).sorted
    assert(tsOnDisk(segStore).contains("2024-01-01 10:00:00.0"))
    assert(!tsOnDisk(eagerStore).contains("2024-01-01 10:00:00.0"),
      "eager mode prunes physically every batch")
    // b4: doc 4's SEGMENT-resident bands drop its live twin in BOTH
    // layouts, and the live rows (those at or past b4's 11:40 horizon)
    // of base ∪ segments equal the eager store
    assert(run(batch((5L, cat, "2024-01-01 12:40:00"))) === Seq.empty)
    assert(VersionedTable.currentVersion(spark, segStore) === baseV1)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.where(col("_ts") >= lit(Timestamp.valueOf("2024-01-01 11:40:00")))
        .collect().map(r => (r.getInt(0), r.getLong(1),
          r.getTimestamp(2).toString)).sorted.toSeq
    val segLive = VersionedTable.pendingDeltas(spark, segStore)
      .foldLeft(VersionedTable.readCurrent(spark, segStore)) { (df, d) =>
        df.unionByName(spark.read.parquet(s"$segStore/$d")) }
    assert(rows(segLive) === rows(VersionedTable.readCurrent(spark, eagerStore)),
      "the live segment-mode state must equal the eager store")
  }

  test("novelty gate segment mode: decisions match eager, no republish after bootstrap, expired segments drop whole") {
    import graft.lake.VersionedTable
    val dir = java.nio.file.Files.createTempDirectory("graft_novseg").toString
    val eagerStore = dir + "/eager"
    val segStore = dir + "/seg"
    def batch(rows: (Long, String, String)*) =
      rows.toDF("doc_id", "text", "tss")
        .withColumn("ts", col("tss").cast("timestamp")).drop("tss")
    def run(b: org.apache.spark.sql.DataFrame) = {
      def ids(store: String, ms: Int) =
        Streaming.noveltyGateBatchStep(b, "doc_id", "text", "ts", store,
          minNovelty = 0.5, retention = "1 hour", maxSegments = ms)
          .select("doc_id").as[Long].collect().sorted.toSeq
      val (e, a) = (ids(eagerStore, 0), ids(segStore, Streaming.SegmentMergeBound))
      assert(e === a, "segment-mode admissions diverged from eager")
      e
    }
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val fresh = "rivers mountains valleys forests deserts plains islands caves cliffs dunes"
    // b1 bootstraps BOTH stores with a published base
    assert(run(batch((1L, base, "2024-01-01 10:00:00"))) === Seq(1L))
    val baseV1 = VersionedTable.currentVersion(spark, segStore)
    // b2: near-repeat refuses against the base, fresh admits — the
    // segment store appends ONE stamped segment, base untouched
    assert(run(batch(
      (2L, base.replace("kappa", "lambda"), "2024-01-01 10:10:00"),
      (3L, fresh, "2024-01-01 10:11:00"))) === Seq(3L))
    assert(VersionedTable.pendingDeltas(spark, segStore).size === 1)
    assert(VersionedTable.currentVersion(spark, segStore) === baseV1)
    // b3 beyond retention: b2's segment (stamp 10:11) fell fully
    // behind the 12:30 horizon — decisions see it as expired (near-
    // repeat of doc 3's content admits) and the tail drops the WHOLE
    // segment physically, leaving only b3's own new segment
    assert(run(batch(
      (4L, fresh.replace("dunes", "reefs"), "2024-01-01 12:30:00")))
      === Seq(4L))
    assert(VersionedTable.pendingDeltas(spark, segStore).size === 1,
      "expired segment must vacuum whole; the new batch appends one")
    // ... and STILL no republish: the bootstrap base version persists
    // (its rows logically dead past the horizon — the documented
    // segment-mode residue)
    assert(VersionedTable.currentVersion(spark, segStore) === baseV1)
    // b4: near-repeat of b3's admitted content refuses in BOTH modes
    // (the live segment carries it)
    assert(run(batch(
      (5L, fresh.replace("dunes", "reefs").replace("caves", "coves"),
        "2024-01-01 12:40:00"))) === Seq.empty)
  }

  test("segment mode with maxSegments: backlog stays bounded via in-step L1 merges, decisions and state match the unbounded run") {
    import graft.lake.VersionedTable
    val dir = java.nio.file.Files.createTempDirectory("graft_novsegb").toString
    val unb = dir + "/unmerged"
    val bnd = dir + "/bounded"
    def batch(rows: (Long, String, String)*) =
      rows.toDF("doc_id", "text", "tss")
        .withColumn("ts", col("tss").cast("timestamp")).drop("tss")
    // per-batch-unique vocabulary: every shingle of text(i) is new to
    // the store, so the fresh doc always admits (novelty 1.0) and its
    // one-word variant always refuses (1 of 8 shingles novel)
    def text(i: Int) = (0 until 10).map(j => s"w${i}x$j").mkString(" ")
    def step(store: String, ms: Int, b: org.apache.spark.sql.DataFrame) =
      Streaming.noveltyGateBatchStep(b, "doc_id", "text", "ts", store,
        minNovelty = 0.5, retention = "3650 days", maxSegments = ms)
        .select("doc_id").as[Long].collect().sorted.toSeq
    // batch i: one fresh doc + one near-repeat of the PREVIOUS batch's
    // admitted doc — every decision probes the full merged state, so a
    // merge that lost or duplicated effective rows would diverge
    for (i <- 1 to 6) {
      val prev = if (i == 1) text(1) else text(i - 1)
      val b = batch(
        (2L * i, text(i), f"2024-01-01 10:0${i - 1}%d:00"),
        (2L * i + 1, prev.replaceFirst("\\w+$", "omega"),
          f"2024-01-01 10:0${i - 1}%d:30"))
      // SegmentMergeBound (64): 6 batches never reach it
      val u = step(unb, Streaming.SegmentMergeBound, b)
      val v = step(bnd, 2, b)
      assert(u === v, s"bounded segment mode diverged at batch $i")
      assert(u === (if (i == 1) Seq(2L * i, 2L * i + 1) else Seq(2L * i)),
        s"unexpected admissions at batch $i: $u")
    }
    // 6 batches: bootstrap publish + 5 stamped segments unmerged; the
    // bound holds the bounded store at <= 2 pending segments
    assert(VersionedTable.pendingDeltas(spark, unb).size === 5)
    assert(VersionedTable.pendingDeltas(spark, bnd).size <= 2)
    // the MERGED state (base ∪ pending segments) is row-identical —
    // compactSegments only re-packages, never folds or re-stamps rows
    def rows(store: String) = {
      val pending = VersionedTable.pendingDeltas(spark, store)
      val base = VersionedTable.readCurrent(spark, store)
      val all = if (pending.isEmpty) base
        else base.unionByName(
          spark.read.parquet(pending.map(d => s"$store/$d"): _*))
      all.collect().map(r => (r.getLong(0), r.getTimestamp(1).toString))
        .sorted.toSeq
    }
    assert(rows(unb) === rows(bnd))
  }

  test("quantizer fingerprint is duplicate-safe: XOR-cancelling duplicate centroids still trigger the re-bucket pass") {
    import graft.stream.Streaming
    val dir = java.nio.file.Files.createTempDirectory("graft_semqdup").toString
    val store = dir + "/store"
    def emb(rows: (Long, Seq[Double], String)*) =
      rows.toDF("vec_id", "embedding", "tss")
        .withColumn("ts", col("tss").cast("timestamp")).drop("tss")
    def cents(rows: (Long, Seq[Double])*) = rows.toDF("b", "cv")
    def step(b: org.apache.spark.sql.DataFrame,
             c: org.apache.spark.sql.DataFrame) =
      Streaming.semanticDedupBatchStep(b, "vec_id", "embedding", "ts",
        c, "b", "cv", threshold = 0.9, store, retention = "10 days")
        .select("vec_id").as[Long].collect().sorted.toSeq
    val c1 = cents(0L -> Seq(1.0, 1.0))
    // grows by TWO IDENTICAL rows: their per-row hashes XOR-cancel, so
    // a bit_xor-only fingerprint would collide with c1's and silently
    // skip the re-bucket pass (duplicate centroids happen with
    // degenerate k-means init); the sum⊕count combine must not
    val cDup = cents(0L -> Seq(1.0, 1.0),
      1L -> Seq(0.0, 1.0), 1L -> Seq(0.0, 1.0))
    assert(step(emb((1L, Seq(0.05, 1.0), "2024-01-01 10:00:00")), c1)
      === Seq(1L)) // filed under old bucket 0
    // probe lands in NEW bucket 1; its near-dup twin sits under old
    // bucket 0 — only the fingerprint-triggered re-bucket finds it
    assert(step(emb((2L, Seq(0.06, 1.0), "2024-01-01 10:10:00")), cDup)
      === Seq.empty,
      "duplicate-grown quantizer read as unchanged — near-dup admitted")
  }

  test("drift monitor: a store holding count deltas judges through them, then its next batch folds them and vacuums them past the reader horizon") {
    import graft.lake.VersionedTable
    val dir = java.nio.file.Files.createTempDirectory("graft_driftdeltas").toString
    val eagerStore = dir + "/eager"
    val deltaStore = dir + "/deltas"
    def batch(texts: String*) = texts.toDF("text")
    def counts(texts: String*) = batch(texts: _*)
      .select(explode(graft.textops.TextFunctions.tokens(
        graft.textops.TextFunctions.normalized(col("text")))).as("_tok"))
      .groupBy("_tok").agg(count(lit(1)).as("_c"))
    def verdict(store: String, b: org.apache.spark.sql.DataFrame) =
      Streaming.driftMonitorBatchStep(b, "text", store).collect().map { r =>
        (if (r.isNullAt(0)) None
         else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(0))),
          r.getLong(1), r.getLong(2))
      }.toSeq
    val b1 = Seq("alpha beta beta gamma")
    val b2 = Seq("alpha delta delta epsilon")
    val b3 = Seq("beta delta zeta")
    // the eager store folds b1 and b2 through the step; the other holds
    // b1 as its base and b2's counts as a pending delta — the layout an
    // amortized writer left behind
    verdict(eagerStore, batch(b1: _*))
    verdict(eagerStore, batch(b2: _*))
    verdict(deltaStore, batch(b1: _*))
    val baseV1 = VersionedTable.currentVersion(spark, deltaStore)
    val d1 = VersionedTable.appendDelta(counts(b2: _*), deltaStore)
    assert(VersionedTable.pendingDeltas(spark, deltaStore) === Seq(d1))
    // b3 is judged through base ∪ delta: the reference counts b2's
    // delta-resident tokens, and the verdict is BIT-identical to the
    // eager store's (long counts, decimal-sum JSD)
    val v3 = verdict(deltaStore, batch(b3: _*))
    assert(v3.head._3 === 8L,
      "reference must include the delta-resident b2 counts")
    assert(v3 === verdict(eagerStore, batch(b3: _*)))
    // ... and that batch folded the delta into a new base
    assert(VersionedTable.pendingDeltas(spark, deltaStore).isEmpty)
    assert(VersionedTable.currentVersion(spark, deltaStore) !== baseV1)
    def snapshot(store: String) = VersionedTable.readCurrent(spark, store)
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(snapshot(deltaStore) === snapshot(eagerStore),
      "the folded base must equal the eager store")
    // the folded delta is newer than the oldest retained base, so a
    // reader of that base may still apply it: it stays on disk until
    // the base ages out of retention (keepVersions = 3), then goes
    def deltaDirsOnDisk = new java.io.File(deltaStore).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("d-"))
      .map(_.getName).toSeq
    assert(deltaDirsOnDisk === Seq(d1))
    verdict(deltaStore, batch("alpha beta"))
    assert(deltaDirsOnDisk === Seq(d1))
    verdict(deltaStore, batch("gamma zeta"))
    assert(deltaDirsOnDisk.isEmpty,
      "the republish must vacuum the folded delta once past the reader horizon")
    assert(VersionedTable.listDeltas(spark, deltaStore).isEmpty)
  }

  test("semantic dedup segment mode: decisions match eager, no republish after bootstrap, expired segments drop whole") {
    import graft.lake.VersionedTable
    val dir = java.nio.file.Files.createTempDirectory("graft_semseg").toString
    val eagerStore = dir + "/eager"
    val segStore = dir + "/seg"
    val cents = Seq(0L -> Seq(0.0, 1.0), 1L -> Seq(1.0, 0.0)).toDF("b", "cv")
    def batch(rows: (Long, Seq[Double], String)*) =
      rows.toDF("vec_id", "embedding", "tss")
        .withColumn("ts", col("tss").cast("timestamp")).drop("tss")
    def run(b: org.apache.spark.sql.DataFrame) = {
      def ids(store: String, ms: Int) =
        Streaming.semanticDedupBatchStep(b, "vec_id", "embedding", "ts",
          cents, "b", "cv", threshold = 0.9, store, retention = "1 hour",
          maxSegments = ms)
          .select("vec_id").as[Long].collect().sorted.toSeq
      val (e, a) = (ids(eagerStore, 0), ids(segStore, Streaming.SegmentMergeBound))
      assert(e === a, "segment-mode decisions diverged from eager")
      e
    }
    // b1 bootstraps BOTH stores with a published base (no segments yet)
    assert(run(batch((1L, Seq(1.0, 0.05), "2024-01-01 10:00:00"))) === Seq(1L))
    assert(VersionedTable.pendingDeltas(spark, segStore).isEmpty)
    val baseV1 = VersionedTable.currentVersion(spark, segStore)
    // b2: near-dup of stored vec 1 drops, orthogonal vec 3 admits — the
    // segment store appends ONE stamped segment (base untouched)
    assert(run(batch(
      (2L, Seq(0.995, 0.04), "2024-01-01 10:10:00"),
      (3L, Seq(0.05, 1.0), "2024-01-01 10:11:00"))) === Seq(3L))
    assert(VersionedTable.pendingDeltas(spark, segStore).size === 1)
    assert(VersionedTable.currentVersion(spark, segStore) === baseV1)
    // b3 beyond retention: vec 1's twin re-admits (store row expired)
    // and b2's segment drops WHOLE. The bootstrap base STILL physically
    // holds vec 1 (logically dead past the horizon); eager pruned it
    assert(run(batch((4L, Seq(0.99, 0.06), "2024-01-01 12:30:00")))
      === Seq(4L))
    assert(VersionedTable.pendingDeltas(spark, segStore).size === 1,
      "expired segment must vacuum whole; the new batch appends one")
    assert(VersionedTable.readCurrent(spark, segStore)
      .where(col("_sid") === 1L).count() === 1L)
    assert(VersionedTable.readCurrent(spark, eagerStore)
      .where(col("_sid") === 1L).count() === 0L,
      "eager mode prunes physically every batch")
    // b4: vec 4's SEGMENT-resident row drops its twin in BOTH layouts,
    // still without a republish; the live rows (at or past b4's 11:40
    // horizon) of base ∪ segments equal the eager store
    assert(run(batch((5L, Seq(0.98, 0.07), "2024-01-01 12:40:00")))
      === Seq.empty)
    assert(VersionedTable.currentVersion(spark, segStore) === baseV1)
    def live(df: org.apache.spark.sql.DataFrame) =
      df.where(col("_ts") >= lit(Timestamp.valueOf("2024-01-01 11:40:00")))
        .select("bucket", "_sid", "_ts", "_qfp").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2).toString,
          r.getLong(3))).sorted.toSeq
    val segAll = VersionedTable.pendingDeltas(spark, segStore)
      .foldLeft(VersionedTable.readCurrent(spark, segStore)) { (df, d) =>
        df.unionByName(spark.read.parquet(s"$segStore/$d")) }
    assert(live(segAll) === live(VersionedTable.readCurrent(spark, eagerStore)),
      "the live segment-mode state must equal the eager store")
  }

  test("semantic dedup segment mode: an id-reusing source keeps BOTH vectors live and through a compacting republish (eager/segment parity)") {
    import graft.lake.VersionedTable
    val dir = java.nio.file.Files.createTempDirectory("graft_semreuse").toString
    val eagerStore = dir + "/eager"
    val segStore = dir + "/seg"
    val cents = Seq(0L -> Seq(0.0, 1.0), 1L -> Seq(1.0, 0.0)).toDF("b", "cv")
    def batch(rows: (Long, Seq[Double], String)*) =
      rows.toDF("vec_id", "embedding", "tss")
        .withColumn("ts", col("tss").cast("timestamp")).drop("tss")
    def run(b: org.apache.spark.sql.DataFrame,
            segMax: Int = Streaming.SegmentMergeBound) = {
      def ids(store: String, ms: Int) =
        Streaming.semanticDedupBatchStep(b, "vec_id", "embedding", "ts",
          cents, "b", "cv", threshold = 0.9, store, retention = "10 days",
          maxSegments = ms)
          .select("vec_id").as[Long].collect().sorted.toSeq
      val (e, a) = (ids(eagerStore, 0), ids(segStore, segMax))
      assert(e === a, "segment-mode decisions diverged from eager")
      e
    }
    // b1 admits id 1 with vector A; b2 REUSES id 1 for an orthogonal
    // vector B (it survives — not a near-dup of A). Eager mode now
    // holds two live store rows under _sid=1; the segment store holds
    // A in its base and B in a segment
    assert(run(batch((1L, Seq(1.0, 0.05), "2024-01-01 10:00:00"))) === Seq(1L))
    assert(run(batch((1L, Seq(0.05, 1.0), "2024-01-01 10:10:00"))) === Seq(1L))
    assert(run(batch((7L, Seq(-1.0, -1.0), "2024-01-01 10:20:00"))) === Seq(7L))
    assert(VersionedTable.pendingDeltas(spark, segStore).size === 2)
    // b4 compacts the segment store with one maxSegments = 0 batch: a
    // keep-newest fold keyed on _sid alone would drop vector A there,
    // so a b5 probe near A would admit in the segment store but drop in
    // eager — the (_sid, _svec)-keyed fold keeps both
    assert(run(batch((8L, Seq(-1.0, 0.9), "2024-01-01 10:25:00")), segMax = 0)
      === Seq(8L))
    assert(VersionedTable.pendingDeltas(spark, segStore).isEmpty)
    assert(VersionedTable.readCurrent(spark, segStore)
      .where(col("_sid") === 1L).count() === 2L,
      "the republish fold dropped one of an id-reusing source's vectors")
    assert(run(batch((9L, Seq(0.99, 0.06), "2024-01-01 10:30:00"))) === Seq.empty)
  }

  test("semantic dedup segment mode: never republishes on schedule, but a quantizer change still does") {
    import graft.lake.VersionedTable
    val store = java.nio.file.Files.createTempDirectory("graft_semqseg")
      .toString + "/store"
    def batch(rows: (Long, Seq[Double], String)*) =
      rows.toDF("vec_id", "embedding", "tss")
        .withColumn("ts", col("tss").cast("timestamp")).drop("tss")
    def cents(rows: (Long, Seq[Double])*) = rows.toDF("b", "cv")
    val c1 = cents(0L -> Seq(1.0, 1.0))
    val c4 = cents(0L -> Seq(0.0, 1.0), 1L -> Seq(1.0, 0.0),
      2L -> Seq(-1.0, 0.0), 3L -> Seq(0.0, -1.0))
    def step(b: org.apache.spark.sql.DataFrame,
             c: org.apache.spark.sql.DataFrame) =
      Streaming.semanticDedupBatchStep(b, "vec_id", "embedding", "ts",
        c, "b", "cv", threshold = 0.9, store, retention = "10 days",
        maxSegments = Streaming.SegmentMergeBound)
        .select("vec_id").as[Long].collect().sorted.toSeq
    assert(step(batch((1L, Seq(1.0, 0.05), "2024-01-01 10:00:00")), c1)
      === Seq(1L))
    val baseV1 = VersionedTable.currentVersion(spark, store)
    // two more same-quantizer batches: both land as stamped segments
    // (segment mode has NO scheduled republish)
    assert(step(batch((2L, Seq(0.05, 1.0), "2024-01-01 10:10:00")), c1)
      === Seq(2L))
    assert(step(batch((3L, Seq(-0.9, 0.4), "2024-01-01 10:20:00")), c1)
      === Seq(3L))
    assert(VersionedTable.pendingDeltas(spark, store).size === 2)
    assert(VersionedTable.currentVersion(spark, store) === baseV1)
    // the quantizer grows: segment mode must STILL republish now so
    // every readable layer carries one fingerprint — vec 4 near
    // SEGMENT-resident vec 2 drops through the re-bucketed read
    assert(step(batch((4L, Seq(0.06, 1.0), "2024-01-01 10:30:00")), c4)
      === Seq.empty)
    assert(VersionedTable.pendingDeltas(spark, store).isEmpty,
      "quantizer change must republish even in segment mode")
    assert(VersionedTable.currentVersion(spark, store) !== baseV1)
    assert(VersionedTable.readCurrent(spark, store)
      .select("_qfp").distinct().count() === 1L)
  }

  test("semantic dedup: a store written before the quantizer fingerprint re-buckets on read") {
    import graft.lake.VersionedTable
    val store = java.nio.file.Files.createTempDirectory("graft_semprefp")
      .toString + "/store"
    // a pre-seam store: no _qfp column, its one row filed under a bucket
    // id the current quantizer does not have
    VersionedTable.publish(Seq((7L, 1L, Seq(1.0, 0.05),
        java.sql.Timestamp.valueOf("2024-01-01 10:00:00")))
      .toDF("bucket", "_sid", "_svec", "_ts"), store)
    val c4 = Seq(0L -> Seq(0.0, 1.0), 1L -> Seq(1.0, 0.0),
      2L -> Seq(-1.0, 0.0), 3L -> Seq(0.0, -1.0)).toDF("b", "cv")
    val out = Streaming.semanticDedupBatchStep(
      Seq((2L, Seq(0.99, 0.06), "2024-01-01 10:10:00"))
        .toDF("vec_id", "embedding", "tss")
        .withColumn("ts", col("tss").cast("timestamp")).drop("tss"),
      "vec_id", "embedding", "ts", c4, "b", "cv", threshold = 0.9, store,
      retention = "10 days")
    // the stored twin was re-bucketed onto the probe's bucket: it drops
    assert(out.count() === 0L)
    val republished = VersionedTable.readCurrent(spark, store)
    assert(republished.where(col("_qfp").isNull).count() === 0L)
    assert(republished.select("bucket").as[Long].collect().toSeq === Seq(1L))
  }

  test("semantic dedup refuses an empty quantizer") {
    import graft.stream.Streaming
    val store = java.nio.file.Files.createTempDirectory("graft_semq0")
      .toString + "/store"
    val batch = Seq((1L, Seq(1.0, 0.0), "2024-01-01 10:00:00"))
      .toDF("vec_id", "embedding", "tss")
      .withColumn("ts", col("tss").cast("timestamp")).drop("tss")
    val empty = Seq.empty[(Long, Seq[Double])].toDF("b", "cv")
    val e = intercept[IllegalArgumentException] {
      Streaming.semanticDedupBatchStep(batch, "vec_id", "embedding", "ts",
        empty, "b", "cv", threshold = 0.9, store, retention = "1 hour")
    }
    assert(e.getMessage.contains("non-empty quantizer"))
  }

  test("semantic dedup: a grown quantizer re-buckets the store on read — cross-bucket near-dups still drop") {
    import graft.stream.Streaming
    val dir = java.nio.file.Files.createTempDirectory("graft_semq").toString
    val store = dir + "/store"
    def emb(rows: (Long, Seq[Double], String)*) =
      rows.toDF("vec_id", "embedding", "tss")
        .withColumn("ts", col("tss").cast("timestamp")).drop("tss")
    def cents(rows: (Long, Seq[Double])*) = rows.toDF("b", "cv")
    val c1 = cents(0L -> Seq(1.0, 1.0))
    val c4 = cents(0L -> Seq(0.0, 1.0), 1L -> Seq(1.0, 0.0),
      2L -> Seq(-1.0, 0.0), 3L -> Seq(0.0, -1.0))
    def step(b: org.apache.spark.sql.DataFrame,
             c: org.apache.spark.sql.DataFrame) =
      Streaming.semanticDedupBatchStep(b, "vec_id", "embedding", "ts",
        c, "b", "cv", threshold = 0.9, store, retention = "10 days")
        .select("vec_id").as[Long].collect().sorted.toSeq
    // batch 1 under a 1-bucket quantizer: the vector admits, store
    // files it under bucket 0
    assert(step(emb((1L, Seq(1.0, 0.05), "2024-01-01 10:00:00")), c1)
      === Seq(1L))
    // the quantizer GROWS 1 → 4 buckets (the IVF convention): the
    // near-dup probe now lands in NEW bucket 1 while its store twin is
    // filed under OLD bucket 0 — without re-bucket-on-read the probe
    // join would miss it and vec 2 would wrongly survive; a genuinely
    // new direction (vec 4, bucket 2) still admits
    assert(step(emb(
      (2L, Seq(0.995, 0.04), "2024-01-01 10:10:00"),
      (4L, Seq(-1.0, 0.02), "2024-01-01 10:10:00")), c4) === Seq(4L))
    // the republish stamped the new fingerprint: a same-quantizer
    // probe drops on the fast path (no re-bucket pass)
    assert(step(emb((3L, Seq(0.99, 0.06), "2024-01-01 10:20:00")), c4)
      === Seq.empty)
  }

  test("stateful stores pin their state-shaping parameters: changed params reject loudly, pre-seam stores adopt") {
    import graft.lake.VersionedTable
    val dir = java.nio.file.Files.createTempDirectory("graft_pfp").toString
    def docBatch(id: Long) =
      Seq((id, s"some fresh words for document $id", "2024-01-01 10:00:00"))
        .toDF("doc_id", "text", "tss")
        .withColumn("ts", col("tss").cast("timestamp")).drop("tss")
    // novelty: same (shingleN, family) keeps working, a changed width
    // rejects — stored shingle hashes are one-way, not migratable
    val nv = dir + "/nv"
    Streaming.noveltyGateBatchStep(docBatch(1), "doc_id", "text", "ts", nv,
      minNovelty = 0.5, shingleN = 3).count()
    Streaming.noveltyGateBatchStep(docBatch(2), "doc_id", "text", "ts", nv,
      minNovelty = 0.5, shingleN = 3).count()
    val e1 = intercept[IllegalStateException] {
      Streaming.noveltyGateBatchStep(docBatch(3), "doc_id", "text", "ts", nv,
        minNovelty = 0.5, shingleN = 4)
    }
    assert(e1.getMessage.contains("shingleN=3") &&
      e1.getMessage.contains("shingleN=4") &&
      e1.getMessage.contains("fresh store path"))
    // KMV: a k-truncated sketch can be neither widened nor narrowed
    val kv = dir + "/kmv"
    Streaming.kmvDistinctBatchStep(spark.range(100).select(col("id").as("v")),
      "v", kv, k = 64).collect()
    val e2 = intercept[IllegalStateException] {
      Streaming.kmvDistinctBatchStep(spark.range(100).select(col("id").as("v")),
        "v", kv, k = 128)
    }
    assert(e2.getMessage.contains("k=64") && e2.getMessage.contains("k=128"))
    // pre-seam adoption: a store that predates the sidecar (versions on
    // disk, no _params) adopts the calling batch's parameters instead
    // of refusing the upgrade — and enforces them from then on
    val legacy = dir + "/legacy"
    VersionedTable.publish(
      Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")))
        .toDF("shingle", "_ts"), legacy)
    assert(!new java.io.File(s"$legacy/${VersionedTable.ParamsFile}").exists())
    Streaming.noveltyGateBatchStep(docBatch(4), "doc_id", "text", "ts",
      legacy, minNovelty = 0.5, shingleN = 5).count()
    assert(new java.io.File(s"$legacy/${VersionedTable.ParamsFile}").exists())
    intercept[IllegalStateException] {
      Streaming.noveltyGateBatchStep(docBatch(5), "doc_id", "text", "ts",
        legacy, minNovelty = 0.5, shingleN = 3)
    }
    // an unpublished root (crashed bootstrap: sidecar landed, no
    // version) re-adopts silently — there is no state to protect
    val crashed = dir + "/crashed"
    VersionedTable.requireParams(spark, crashed, "novelty;shingleN=9;family=Xx64")
    Streaming.noveltyGateBatchStep(docBatch(6), "doc_id", "text", "ts",
      crashed, minNovelty = 0.5, shingleN = 3).count()
    // MOR sinks pin their merge KEYS — a later writer with a different
    // key set would silently change the newest-wins merge
    val mor = dir + "/mor"
    Streaming.morUpsertStep(Seq((1L, "a")).toDF("k", "v"), Seq("k"),
      mor)
    Streaming.morUpsertStep(Seq((1L, "b")).toDF("k", "v"), Seq("k"),
      mor)
    val e3 = intercept[IllegalStateException] {
      Streaming.morUpsertStep(Seq((1L, "c")).toDF("k", "v"), Seq("k", "v"),
        mor)
    }
    assert(e3.getMessage.contains("keys=1:k") &&
      e3.getMessage.contains("keys=1:k;1:v"))
  }

  test("MOR key pin: order-insensitive, comma-injective, refuses an r15-stamped sink") {
    import graft.lake.VersionedTable
    import graft.stream.Streaming
    val dir = java.nio.file.Files.createTempDirectory("graft_morpin").toString
    // (1) the pin guards the key SET — the same keys listed in a
    // different order are the same merge contract
    val ab = dir + "/ab"
    Streaming.morUpsertStep(Seq((1L, 2L, "a")).toDF("k1", "k2", "v"),
      Seq("k1", "k2"), ab)
    Streaming.morUpsertStep(Seq((1L, 2L, "b")).toDF("k1", "k2", "v"),
      Seq("k2", "k1"), ab)
    // (2) a single raw-header key literally named "k1,k2" is a
    // DIFFERENT contract than keys k1+k2 — the r15 comma-join
    // fingerprint collided exactly here
    val eComma = intercept[IllegalStateException] {
      Streaming.morUpsertStep(Seq((3L, "c")).toDF("k1,k2", "v"),
        Seq("k1,k2"), ab)
    }
    assert(eComma.getMessage.contains("5:k1,k2"))
    // (3) a sink stamped with the r15 comma format is refused with the
    // rebase message, its stamp left as it was — never silently
    // re-pinned to the new rendering
    val legacy = dir + "/legacy"
    Streaming.morUpsertStep(Seq((1L, 2L, "a")).toDF("k1", "k2", "v"),
      Seq("k1", "k2"), legacy)
    val sidecar = java.nio.file.Paths.get(legacy, VersionedTable.ParamsFile)
    // overwrite through the Hadoop FS (not raw NIO) so the local
    // filesystem's .crc sidecar stays consistent with the new bytes
    val hp = new org.apache.hadoop.fs.Path(sidecar.toString)
    val hfs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = hfs.create(hp, true)
    out.write("morUpsert;keys=k1,k2"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    val stamped = java.nio.file.Files.readAllBytes(sidecar).toSeq
    val eLegacy = intercept[IllegalStateException] {
      Streaming.morUpsertStep(Seq((1L, 2L, "b")).toDF("k1", "k2", "v"),
        Seq("k1", "k2"), legacy)
    }
    assert(eLegacy.getMessage.contains("[morUpsert;keys=k1,k2]") &&
      eLegacy.getMessage.contains("[morUpsert;keys=2:k1;2:k2]"))
    assert(java.nio.file.Files.readAllBytes(sidecar).toSeq === stamped)
  }

  test("MOR sink refuses a legacy unversioned layout WITHOUT writing its key pin into it") {
    import graft.lake.VersionedTable
    import graft.stream.Streaming
    val root = java.nio.file.Files.createTempDirectory("graft_morlegacy")
      .toString + "/t"
    // a pre-versioning plain-parquet dataset at the root
    Seq((1L, "x")).toDF("k", "v").write.parquet(root)
    intercept[IllegalArgumentException] {
      Streaming.morUpsertStep(Seq((2L, "y")).toDF("k", "v"), Seq("k"),
        root)
    }
    // the refusal must leave the refused data untouched: no _params
    // sidecar may have landed before the layout check fired
    assert(!new java.io.File(s"$root/${VersionedTable.ParamsFile}").exists(),
      "key pin was stamped into a dataset the guard then refused to touch")
  }

  test("monitor steps refuse a legacy unversioned layout WITHOUT stamping their parameter pin into it") {
    // the MOR-sink ordering, now enforced inside requireParams itself
    // (r16): every pinned store rejects a legacy plain-parquet root
    // before any side effect — exercised through all six stream
    // stores, whose pins the one seam now takes
    import graft.lake.VersionedTable
    import graft.stream.Streaming
    val dir = java.nio.file.Files.createTempDirectory("graft_monlegacy").toString
    val docs = Seq((1L, "some words for a document", "2024-01-01 10:00:00"))
      .toDF("doc_id", "text", "tss")
      .withColumn("ts", col("tss").cast("timestamp")).drop("tss")
    val vecs = Seq((1L, Seq(1.0, 0.0), "2024-01-01 10:00:00"))
      .toDF("vec_id", "embedding", "tss")
      .withColumn("ts", col("tss").cast("timestamp")).drop("tss")
    val cents = Seq(0L -> Seq(1.0, 0.0)).toDF("b", "cv")
    val stores: Seq[(String, String => org.apache.spark.sql.DataFrame)] = Seq(
      "neardedup" -> (Streaming.nearDedupBatchStep(docs, "doc_id", "text",
        "ts", _)),
      "novelty" -> (Streaming.noveltyGateBatchStep(docs, "doc_id", "text",
        "ts", _, minNovelty = 0.5)),
      "semdedup" -> (Streaming.semanticDedupBatchStep(vecs, "vec_id",
        "embedding", "ts", cents, "b", "cv", threshold = 0.9, _)),
      "drift" -> (Streaming.driftMonitorBatchStep(docs, "text", _)),
      "kmv" -> (Streaming.kmvDistinctBatchStep(Seq(1L).toDF("v"), "v", _,
        k = 16)),
      "kmvgroup" -> (Streaming.kmvDistinctByKeyBatchStep(
        Seq(("a", 1L)).toDF("g", "v"), "g", "v", _, k = 16)))
    stores.foreach { case (name, step) =>
      val root = s"$dir/$name"
      Seq((1L, "x")).toDF("k", "v").write.parquet(root)
      intercept[IllegalArgumentException](step(root))
      assert(!new java.io.File(s"$root/${VersionedTable.ParamsFile}").exists(),
        s"$name: parameter pin was stamped into a dataset the guard then " +
          "refused to touch")
    }
  }

  test("drift monitor: reference fold is arrival-order-invariant; only verdicts follow arrival order") {
    import graft.stream.Streaming
    val dir = java.nio.file.Files.createTempDirectory("graft_driftlate").toString
    def docs(t: String*) = t.zipWithIndex.map(_.swap).toDF("doc_id", "text")
    val x = Seq("alpha beta gamma alpha", "beta beta")
    val y = Seq("delta epsilon alpha")
    // same two batches, opposite arrival orders, two stores
    Streaming.driftMonitorBatchStep(docs(x: _*), "text", dir + "/a")
    Streaming.driftMonitorBatchStep(docs(y: _*), "text", dir + "/a")
    Streaming.driftMonitorBatchStep(docs(y: _*), "text", dir + "/b")
    Streaming.driftMonitorBatchStep(docs(x: _*), "text", dir + "/b")
    def dist(p: String) = graft.lake.VersionedTable.readCurrent(spark, p)
      .collect().map(r => r.getString(0) -> r.getLong(1)).sorted.toSeq
    assert(dist(dir + "/a") === dist(dir + "/b")) // state: order-invariant
  }

  test("streaming KMV: fold equals the one-shot sketch, state bounded at k, exact below k") {
    import graft.stream.Streaming
    val dir = java.nio.file.Files.createTempDirectory("graft_kmv").toString
    val vals = spark.range(1000).select(col("id"), (col("id") * 7919).as("v"))
    val store = dir + "/est"
    Streaming.kmvDistinctBatchStep(vals.where(col("id") % 2 === 0), "v",
      store, k = 64)
    val out = Streaming.kmvDistinctBatchStep(vals.where(col("id") % 2 === 1),
      "v", store, k = 64).collect().head
    assert(out.getInt(1) === 64)
    // the k-min merge is exact: the two-batch fold through the store
    // equals the one-shot batch sketch over the concatenated input
    val oneShot = graft.analytics.Sketches.approxDistinctKmv(
        vals.withColumn("g", lit("a")), "g", "v", k = 64)
      .collect().head.getDouble(1)
    assert(out.getDouble(0) === oneShot)
    assert(math.abs(out.getDouble(0) / 1000.0 - 1.0) < 0.3) // sane estimate
    // state is k rows, not cardinality rows
    assert(graft.lake.VersionedTable.readCurrent(spark, store).count() === 64)
    // exact regime: 10 distinct values, re-delivered → exactly 10.0
    val small = spark.range(10).select(col("id").as("v"))
    val store2 = dir + "/exact"
    Streaming.kmvDistinctBatchStep(small, "v", store2, k = 64)
    val out2 = Streaming.kmvDistinctBatchStep(small, "v", store2, k = 64)
      .collect().head
    assert(out2.getDouble(0) === 10.0 && out2.getInt(1) === 10)
  }

  test("grouped streaming KMV: per-key fold equals the per-group batch sketch") {
    import graft.stream.Streaming
    val dir = java.nio.file.Files.createTempDirectory("graft_kmvg").toString
    // group a: 500 distinct (estimate regime at k=32); group b: 5 (exact)
    val df = spark.range(1000).select(col("id"),
        when(col("id") < 500, lit("a")).otherwise(lit("b")).as("g"),
        when(col("id") < 500, col("id") * 104729)
          .otherwise(col("id") % 5).as("v"))
    val store = dir + "/store"
    Streaming.kmvDistinctByKeyBatchStep(df.where(col("id") % 3 =!= 0),
      "g", "v", store, k = 32)
    val out = Streaming.kmvDistinctByKeyBatchStep(df.where(col("id") % 3 === 0),
      "g", "v", store, k = 32)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getInt(2))).toMap
    val batch = graft.analytics.Sketches.approxDistinctKmv(df, "g", "v", k = 32)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out("a")._1 === batch("a") && out("a")._2 === 32)
    assert(out("b") === ((5.0, 5)))
    // state bounded per group: ≤ k rows each
    val st = graft.lake.VersionedTable.readCurrent(spark, store)
      .groupBy("_k").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(st("a") === 32 && st("b") === 5)
  }

  test("drift monitor: null verdict on first batch, then divergence vs the accumulated reference") {
    import graft.stream.Streaming
    val dir = java.nio.file.Files.createTempDirectory("graft_drift").toString
    val store = dir + "/store"
    def docs(t: String*) = t.zipWithIndex.map(_.swap).toDF("doc_id", "text")
    // first batch: no reference yet
    val b1 = Streaming.driftMonitorBatchStep(
      docs("alpha beta gamma", "alpha beta"), "text", store).collect().head
    assert(b1.isNullAt(0) && b1.getLong(2) === 0L)
    // identical distribution → 0 bits
    val b2 = Streaming.driftMonitorBatchStep(
      docs("alpha beta gamma", "alpha beta"), "text", store).collect().head
    assert(b2.getDouble(0) === 0.0)
    assert(b2.getLong(1) === 5L && b2.getLong(2) === 5L)
    // disjoint vocabulary vs the accumulated reference → 1 bit
    val b3 = Streaming.driftMonitorBatchStep(
      docs("delta epsilon zeta"), "text", store).collect().head
    assert(b3.getDouble(0) === 1.0)
    assert(b3.getLong(2) === 10L) // reference accumulated both batches
  }

  test("near-dedup writer converges when a crash lands between sink commit and state publish") {
    // The middle crash case of nearDedupWriter's three-way argument:
    // batch 1 commits its survivors to the sink but DIES before the
    // state publish; Spark re-delivers the batch; the retry must
    // converge — same survivor rows, no duplicates, state published.
    val dir = java.nio.file.Files.createTempDirectory("graft_crash").toString
    val store = dir + "/store"
    val sink = dir + "/survivors"
    val base = "the quick brown fox jumps over the lazy dog near the old barn"
    val batch = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), base),
      (2L, Timestamp.valueOf("2024-01-01 10:01:00"), base.replace("dog", "cat")), // near-dup of 1 → dropped
      (3L, Timestamp.valueOf("2024-01-01 10:02:00"),
        "completely different words about stars planets moons comets asteroids orbits"))
      .toDF("doc_id", "ts", "text")
    def read() = Streaming.readStore(spark, store,
      Streaming.nearDedupStore(3, 64, 16))
    // attempt 1: sink commit succeeds, state publish never happens
    val surv1 = Streaming.nearDedupBatchCompute(batch, "doc_id", "text",
      "ts", read(), "1 hour", 3, 64, 16).out
    Streaming.morUpsertStep(surv1, Seq("doc_id"), sink)
    assert(!graft.lake.VersionedTable.isVersioned(spark, store)) // "crashed"
    // attempt 2 (re-delivery): the full writer step runs to completion
    val d2 = Streaming.nearDedupBatchCompute(batch, "doc_id",
      "text", "ts", read(), "1 hour", 3, 64, 16)
    Streaming.morUpsertStep(d2.out, Seq("doc_id"), sink)
    graft.lake.VersionedTable.publish(d2.folded, store)
    val out = graft.lake.VersionedTable
      .readCurrentMerged(spark, sink, Seq("doc_id"))
      .select("doc_id").as[Long].collect().sorted
    assert(out.toSeq === Seq(1L, 3L)) // converged: no loss, no duplicates
    // attempt 3 (re-delivery AFTER state publish): everything collides
    // with its own bands — survivors empty, sink unchanged
    val surv3 = Streaming.nearDedupBatchCompute(batch, "doc_id", "text",
      "ts", read(), "1 hour", 3, 64, 16).out
    assert(surv3.isEmpty)
    Streaming.morUpsertStep(surv3, Seq("doc_id"), sink)
    val out3 = graft.lake.VersionedTable
      .readCurrentMerged(spark, sink, Seq("doc_id"))
      .select("doc_id").as[Long].collect().sorted
    assert(out3.toSeq === Seq(1L, 3L))
  }

  test("near-dedup writer at maxSegments = 2 converges when a crash lands before the stamped append or before its vacuum and merge") {
    import graft.lake.VersionedTable
    implicit val sqlCtx = spark.sqlContext
    // 20-word texts over disjoint vocabularies: a near-copy (last word
    // swapped) shares 17 of 19 distinct shingles with its original and
    // band-collides under the default LSH geometry; unrelated texts
    // share none
    def text(tag: String) = (0 until 20).map(j => s"$tag$j").mkString(" ")
    def near(tag: String) = text(tag).replaceFirst("\\w+$", "omega")
    val batches = Seq(
      Seq((1L, "10:00", text("a")), (2L, "10:01", text("b"))),
      Seq((3L, "10:10", text("c")), (4L, "10:11", near("a"))),
      Seq((5L, "10:20", text("d")), (6L, "10:21", near("c"))),
      // the crash batch: its append makes 3 pending segments, so the
      // L1 merge is due (nothing has expired yet)
      Seq((7L, "10:30", text("e")), (8L, "10:31", near("d")),
        (9L, "10:32", near("e"))),
      // the next batch: horizon 10:25 — c and d expired, e live, and
      // the uncrashed run's merged segment (stamp 10:21) vacuums whole
      Seq((10L, "11:25", near("c")), (11L, "11:25", near("e")),
        (12L, "11:25", near("d")), (13L, "11:25", text("f"))))
      .map(_.map { case (id, t, txt) =>
        (id, Timestamp.valueOf(s"2024-01-01 $t:00"), txt) })
    def df(rows: Seq[(Long, Timestamp, String)]) = rows.toDF("doc_id", "ts", "text")
    def sinkRows(sink: String) = VersionedTable
      .readCurrentMerged(spark, sink, Seq("doc_id"))
      .select("doc_id", "ts", "text").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getString(2)))
      .sorted.toSeq
    // the uncrashed reference: the real writer over a MemoryStream
    val ref = java.nio.file.Files.createTempDirectory("graft_segcrash_ref").toString
    val input = MemoryStream[(Long, Timestamp, String)]
    val q = Streaming.nearDedupWriter(input.toDF().toDF("doc_id", "ts", "text"),
        "doc_id", "text", "ts", ref + "/store", ref + "/sink", maxSegments = 2)
      .option("checkpointLocation", ref + "/chk").start()
    val refSinks = batches.map { b =>
      input.addData(b: _*); q.processAllAvailable(); sinkRows(ref + "/sink")
    }
    q.stop()
    val refNext = refSinks(4).map(_._1).toSet -- refSinks(3).map(_._1)
    assert(refNext === Set(10L, 12L, 13L))
    assert(refSinks(3).map(_._1) === Seq(1L, 2L, 3L, 5L, 7L))
    // the crashed runs drive the writer's own compute/publish seam
    def crashed(tag: String, appended: Boolean): Unit = {
      val dir = java.nio.file.Files.createTempDirectory(s"graft_segcrash_$tag").toString
      val (store, sink) = (dir + "/store", dir + "/sink")
      val spec = Streaming.nearDedupStore(3, 64, 16)
      def compute(b: Seq[(Long, Timestamp, String)], read: Streaming.StoreRead) =
        Streaming.nearDedupBatchCompute(df(b), "doc_id", "text", "ts", read,
          "1 hour", 3, 64, 16)
      def step(id: Int) =
        Streaming.retentionStep(df(batches(id)), store, spec, 2,
            Streaming.morUpsertStep(_, Seq("doc_id"), sink)) {
          read => compute(batches(id), read)
        }.select("doc_id").as[Long].collect().toSet
      (0 to 2).foreach(step)
      // attempt 1 of batch 3: the sink commits, then the crash
      val d = compute(batches(3), Streaming.readStore(spark, store, spec))
      Streaming.morUpsertStep(d.out, Seq("doc_id"), sink)
      if (appended) {
        VersionedTable.appendDeltaStamped(d.segment, store, d.bounds._1)
        assert(VersionedTable.pendingDeltas(spark, store).size === 3,
          "crashed before the merge: three segments pending")
      } else
        assert(VersionedTable.pendingDeltas(spark, store).size === 2)
      // redelivery of batch 3, then the next batch
      step(3)
      assert(VersionedTable.pendingDeltas(spark, store).size <= 2,
        "the redelivered state write completes the merge")
      assert(sinkRows(sink) === refSinks(3), s"$tag: sink diverged after redelivery")
      assert(step(4) === refNext, s"$tag: next batch decided differently")
      assert(sinkRows(sink) === refSinks(4), s"$tag: sink diverged after the next batch")
    }
    crashed("before_append", appended = false)
    crashed("before_merge", appended = true)
  }

  test("near-dedup fused decision equals the probe-union-self-join rule on hostile batches, at maxSegments 0 and 2, for long and string ids") {
    import graft.lake.VersionedTable
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    // 20-word texts over disjoint vocabularies: a one-word edit
    // band-collides with its original under the default geometry
    def text(tag: String) = (0 until 20).map(j => s"$tag$j").mkString(" ")
    def edit(t: String, at: Int, w: String) = t.split(" ").updated(at, w).mkString(" ")
    val (a, b, c, d, s) = (text("a"), text("b"), text("c"), text("d"), text("s"))
    val chain = Seq(text("k"), edit(text("k"), 19, "omega"), edit(edit(text("k"), 19, "omega"), 0, "alpha"))
    // (id rank, text, event time); the rank maps to a long or string id
    // with the same order, rank 0 and 9 to the extremes
    val batches: Seq[Seq[(Int, String, String)]] = Seq(
      // in-batch twins at the extreme ids: the min id drops its twin 2
      Seq((1, a, "10:00"), (2, b, "10:01"), (9, edit(a, 19, "z"), "10:02"),
        (0, edit(b, 19, "z"), "10:03")),
      Seq(), // empty
      // all duplicates: three copies of c, two of stored a; null and
      // one-shingle-short text have no bands and pass
      Seq((3, c, "10:10"), (4, c, "10:10"), (5, c, "10:11"), (6, a, "10:12"),
        (7, a, "10:12"), (8, null, "10:12"), (15, "x y", "10:12")),
      // an A~B~C chain with the smallest id in the middle, a store hit
      // (c is stored) with an in-batch twin on the same key, and a
      // store hit on the smallest possible id
      Seq((12, chain(0), "10:20"), (10, chain(1), "10:20"), (11, chain(2), "10:21"),
        (13, edit(c, 5, "q"), "10:22"), (14, edit(c, 5, "q"), "10:22"),
        (0, edit(a, 10, "m"), "10:22")),
      // one skewed key: 40 copies of one text, and a fresh doc
      (20 until 60).map(i => (i, s, "10:30")) :+ ((60, d, "10:31")),
      // past the first batches' retention: re-admissions (at maxSegments
      // 2 their keys sit twice across layers), and late rows behind this
      // batch's own horizon
      Seq((61, a, "11:40"), (62, edit(c, 3, "r"), "11:41"), (63, text("e"), "11:42"),
        (64, b, "10:05"), (65, edit(a, 7, "late"), "10:05")),
      // a late batch: its horizon makes expired rows live again
      Seq((66, edit(d, 2, "w"), "10:40"), (67, text("f"), "10:41"), (68, chain(2), "10:41")))
    val idOf: Map[String, Int => Any] = Map(
      "long" -> {
        case 0 => Long.MinValue
        case 9 => Long.MaxValue
        case r => r.toLong
      },
      "string" -> {
        case 0 => ""
        case 9 => "~"
        case r => f"doc-$r%03d"
      })
    def layers(store: String): Option[DataFrame] =
      if (!VersionedTable.isVersioned(spark, store)) None
      else Some(VersionedTable.pendingDeltas(spark, store)
        .foldLeft(VersionedTable.readCurrent(spark, store)) { (df, seg) =>
          df.unionByName(spark.read.parquet(s"$store/$seg")) })
    // the rule before the fused decision: bandSignatures, the store
    // probe ∪ the in-batch self-join → distinct ids → anti-join
    def oldRule(batch: DataFrame, store: String): Seq[String] = {
      val bands = Reference.bandSignatures(batch, "doc_id", "text")
      val hz = batch.agg(max(col("ts")) - expr("INTERVAL 1 hour")).head.get(0)
      val vsBatch = bands.select(col("band"), col("key"), col("doc_id").as("_a"))
        .join(bands.select(col("band"), col("key"), col("doc_id").as("_b")), Seq("band", "key"))
        .filter(col("_a") < col("_b"))
        .select(col("_b").as("doc_id"))
      val vsStore = layers(store).map { l =>
        (if (hz == null) l else l.where(col("_ts") >= lit(hz)))
          .select("band", "key").join(bands, Seq("band", "key")).select("doc_id")
      }
      val dropped = vsStore.fold(vsBatch)(_.unionByName(vsBatch)).distinct()
      batch.join(dropped, Seq("doc_id"), "left_anti")
        .select(col("doc_id").cast("string")).as[String].collect().sorted.toSeq
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_nndfused").toString
    for ((kind, id) <- idOf.toSeq; ms <- Seq(0, 2)) {
      val store = s"$dir/$kind$ms"
      val schema = StructType(Seq(
        StructField("doc_id", if (kind == "long") LongType else StringType),
        StructField("text", StringType), StructField("ts", TimestampType)))
      val admitted = batches.zipWithIndex.map { case (rows, i) =>
        val batch = spark.createDataFrame(rows.map { case (r, t, hm) =>
          Row(id(r), t, Timestamp.valueOf(s"2024-01-01 $hm:00")) }.asJava, schema)
        val want = oldRule(batch, store)
        val got = Streaming.nearDedupBatchStep(batch, "doc_id", "text", "ts", store,
            retention = "1 hour", maxSegments = ms)
          .select(col("doc_id").cast("string")).as[String].collect().sorted.toSeq
        assert(got === want, s"$kind ids, maxSegments = $ms, batch ${i + 1}")
        got
      }
      // the batches are not vacuous: twins drop, the min id wins
      assert(admitted.head === Seq(id(0), id(1)).map(_.toString).sorted, s"$kind ids")
      assert(admitted(4).size === 2, s"$kind ids: one of 40 skewed copies and d")
      if (ms == 2) {
        val dup = layers(store).get.groupBy("band", "key").count().where(col("count") > 1)
        assert(dup.count() > 0, "re-admission must leave duplicate keys across layers")
      }
    }
  }

  test("retention writers and steps reject a negative maxSegments when built, before any query starts") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_negseg").toString
    val docs = MemoryStream[(Long, Timestamp, String)].toDF()
      .toDF("doc_id", "ts", "text")
    val vecs = MemoryStream[(Long, Timestamp, Seq[Double])].toDF()
      .toDF("vid", "ts", "vec")
    val cent = Seq((0L, Seq(1.0, 0.0))).toDF("b", "cv")
    val active = spark.streams.active.length
    val errs = Seq(
      intercept[IllegalArgumentException] {
        Streaming.nearDedupWriter(docs, "doc_id", "text", "ts",
          dir + "/nd", dir + "/nds", maxSegments = -1)
      },
      intercept[IllegalArgumentException] {
        Streaming.noveltyGateWriter(docs, "doc_id", "text", "ts",
          dir + "/nv", dir + "/nva", minNovelty = 0.5, maxSegments = -1)
      },
      intercept[IllegalArgumentException] {
        Streaming.semanticDedupWriter(vecs, "vid", "vec", "ts", cent, "b",
          "cv", threshold = 0.9, dir + "/sd", dir + "/sds", maxSegments = -1)
      },
      intercept[IllegalArgumentException] {
        Streaming.nearDedupBatchStep(Seq((1L, "a b c d", "2024-01-01 10:00:00"))
            .toDF("doc_id", "text", "tss")
            .withColumn("ts", col("tss").cast("timestamp")),
          "doc_id", "text", "ts", dir + "/step", maxSegments = -1)
      })
    errs.foreach(e => assert(e.getMessage.contains("maxSegments must be >= 0")))
    assert(spark.streams.active.length === active)
    assert(!new java.io.File(dir + "/step").exists(),
      "a rejected step must not touch its store")
  }

  test("streaming novelty gate writer: admitted rows land in the MOR sink, state advances across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val docs = input.toDF().toDF("doc_id", "ts", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_novwr").toString
    val q = Streaming.noveltyGateWriter(docs, "doc_id", "text", "ts",
        dir + "/store", dir + "/admitted", minNovelty = 0.5,
        retention = "10 days")
      .option("checkpointLocation", dir + "/chk").start()
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val fresh = "rivers mountains valleys forests deserts plains islands caves cliffs dunes"
    input.addData((1L, Timestamp.valueOf("2024-01-01 10:00:00"), base))
    q.processAllAvailable()
    // batch 2: a near-repeat of batch-1 content refuses, fresh admits
    input.addData(
      (2L, Timestamp.valueOf("2024-01-01 10:10:00"),
        base.replace("kappa", "lambda")),
      (3L, Timestamp.valueOf("2024-01-01 10:11:00"), fresh))
    q.processAllAvailable()
    val kept = graft.lake.VersionedTable
      .readCurrentMerged(spark, dir + "/admitted", Seq("doc_id"))
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq === Seq(1L, 3L))
    q.stop()
  }

  test("novelty writer converges when a crash lands between sink commit and state publish") {
    // the nearDedupWriter middle-crash argument, applied to the
    // novelty store — including the null-novelty wrinkle: a
    // shingle-less doc re-admits on every redelivery and must land as
    // a no-op upsert on its existing sink key
    val dir = java.nio.file.Files.createTempDirectory("graft_novcrash").toString
    val store = dir + "/store"
    val sink = dir + "/admitted"
    val batch = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"),
        "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, Timestamp.valueOf("2024-01-01 10:01:00"), "tiny doc"))
      .toDF("doc_id", "ts", "text")
    def read() = Streaming.readStore(spark, store, Streaming.noveltyStore(3))
    // attempt 1: sink commit succeeds, state publish never happens
    val adm1 = Streaming.noveltyGateBatchCompute(batch, "doc_id",
      "text", "ts", read(), 0.5, "10 days", 3).out
    Streaming.morUpsertStep(adm1, Seq("doc_id"), sink)
    assert(!graft.lake.VersionedTable.isVersioned(spark, store)) // "crashed"
    // attempt 2 (re-delivery): the full writer step runs to completion
    val d2 = Streaming.noveltyGateBatchCompute(batch, "doc_id",
      "text", "ts", read(), 0.5, "10 days", 3)
    Streaming.morUpsertStep(d2.out, Seq("doc_id"), sink)
    graft.lake.VersionedTable.publish(d2.folded, store)
    val out = graft.lake.VersionedTable
      .readCurrentMerged(spark, sink, Seq("doc_id"))
      .select("doc_id").as[Long].collect().sorted
    assert(out.toSeq === Seq(1L, 2L)) // converged: no loss, no duplicates
    // attempt 3 (re-delivery AFTER state publish): doc 1 scores zero
    // novelty against its own shingles and drops; shingle-less doc 2
    // re-admits (null novelty) and lands on its existing key
    val adm3 = Streaming.noveltyGateBatchCompute(batch, "doc_id",
      "text", "ts", read(), 0.5, "10 days", 3).out
    Streaming.morUpsertStep(adm3, Seq("doc_id"), sink)
    assert(adm3.select("doc_id").as[Long].collect().toSeq === Seq(2L))
    val out3 = graft.lake.VersionedTable
      .readCurrentMerged(spark, sink, Seq("doc_id"))
      .select("doc_id").as[Long].collect().sorted
    assert(out3.toSeq === Seq(1L, 2L))
  }

  test("stream-stream interval join attributes within the lookback, drops beyond it") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp)]
    val imps = MemoryStream[(Long, Timestamp)]
    val joined = Streaming.intervalJoinStreams(
      clicks.toDF().toDF("c_user", "c_ts"), "c_user", "c_ts",
      imps.toDF().toDF("i_user", "i_ts"), "i_user", "i_ts",
      watermark = "10 minutes", lookback = "5 minutes")
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    imps.addData(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00")),  // 3 min before click → match
      (2L, Timestamp.valueOf("2024-01-01 09:50:00")),  // 13 min before → outside lookback
      (3L, Timestamp.valueOf("2024-01-01 10:10:00"))) // AFTER the click → no match
    clicks.addData(
      (1L, Timestamp.valueOf("2024-01-01 10:03:00")),
      (2L, Timestamp.valueOf("2024-01-01 10:03:00")),
      (3L, Timestamp.valueOf("2024-01-01 10:03:00")))
    q.processAllAvailable()
    val rows = spark.table("ssj_out")
      .select("c_user").as[Long].collect().toSeq
    assert(rows === Seq(1L))
    q.stop()
  }

  test("streaming semantic dedup drops embedding near-dups incrementally, bounded state") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Seq[Double])]
    val rows = input.toDF().toDF("vid", "ts", "vec")
    val cent = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0))).toDF("b", "cv")
    val dir = java.nio.file.Files.createTempDirectory("graft_semdedup").toString
    val q = Streaming.semanticDedupWriter(rows, "vid", "vec", "ts", cent,
        "b", "cv", threshold = 0.95, dir + "/store", dir + "/surv",
        retention = "1 hour")
      .option("checkpointLocation", dir + "/chk").start()
    input.addData(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), Seq(1.0, 0.0)),
      (2L, Timestamp.valueOf("2024-01-01 10:01:00"), Seq(0.0, 1.0)))
    q.processAllAvailable()
    // batch 2: a semantic near-dup of v1 (cos ≈ 0.999) is dropped against
    // the store; an angularly-distant vector in the same bucket survives
    input.addData(
      (3L, Timestamp.valueOf("2024-01-01 10:05:00"), Seq(0.99, 0.05)),
      (4L, Timestamp.valueOf("2024-01-01 10:06:00"), Seq(0.5, 0.5)))
    q.processAllAvailable()
    val kept = graft.lake.VersionedTable
      .readCurrentMerged(spark, dir + "/surv", Seq("vid"))
      .select("vid").as[Long].collect().sorted
    assert(kept.toSeq === Seq(1L, 2L, 4L))
    // beyond the retention horizon the stored vectors expire first:
    // v1's near-dup is re-admitted — the bounded-state trade
    input.addData(
      (5L, Timestamp.valueOf("2024-01-01 12:30:00"), Seq(0.999, 0.01)))
    q.processAllAvailable()
    val kept2 = graft.lake.VersionedTable
      .readCurrentMerged(spark, dir + "/surv", Seq("vid"))
      .select("vid").as[Long].collect().sorted
    assert(kept2.toSeq === Seq(1L, 2L, 4L, 5L))
    val storeTs = graft.lake.VersionedTable.readCurrent(spark, dir + "/store")
      .select("_ts").distinct().as[Timestamp].collect()
    assert(storeTs.toSeq === Seq(Timestamp.valueOf("2024-01-01 12:30:00")))
    q.stop()
  }

  test("streaming observe surfaces per-micro-batch metrics in query progress") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[DataEvent]
    val observed = graft.stream.Monitoring.observedStream(
      input.toDF(), "value", anomalyThreshold = 150.0)
    val q = observed.writeStream.format("memory").queryName("obs_stream_out").start()
    input.addData(
      ev(1, "2024-01-01 10:00:00", "click", 10.0),
      ev(2, "2024-01-01 10:01:00", "click", 200.0))
    q.processAllAvailable()
    val metrics = q.recentProgress
      .flatMap(p => Option(p.observedMetrics.get("graft_pipeline"))).lastOption
    assert(metrics.isDefined)
    assert(metrics.get.getAs[Long]("n_rows") === 2L)
    assert(metrics.get.getAs[Long]("n_anomalies") === 1L)
    q.stop()
  }

  test("observe metrics ride the job's own action — no second scan") {
    val df = Seq((1L, 10.0), (2L, 200.0), (3L, 30.0)).toDF("id", "value")
    val (obsDf, obs) = graft.stream.Monitoring.observed(df, "value", 150.0)
    assert(obsDf.count() === 3)
    val m = obs.get
    assert(m("n_rows") === 3L)
    assert(m("n_anomalies") === 1L)
    assert(m("value_mass") === 240.0)
  }

  test("alerts fire only when windowed error rate exceeds threshold") {
    val batch = Seq(
      ev(1, "2024-01-01 10:00:00", "error", 1.0),
      ev(2, "2024-01-01 10:10:00", "click", 1.0),   // 50% errors → alert
      ev(3, "2024-01-01 11:00:00", "click", 1.0),
      ev(4, "2024-01-01 11:10:00", "click", 1.0),
      ev(5, "2024-01-01 11:20:00", "click", 1.0)).toDF()
    val a = Streaming.alerts(batch, "1 hour", 0.05).collect()
    assert(a.length === 1)
    assert(a.head.getAs[Timestamp]("window_start").toString.startsWith("2024-01-01 10:"))
  }

  test("idempotent upsert sink converges under redelivery") {
    val path = java.nio.file.Files.createTempDirectory("graft_sink").toString + "/t"
    val b1 = Seq((1L, "a"), (2L, "b")).toDF("event_id", "v")
    val b2 = Seq((2L, "B"), (3L, "c")).toDF("event_id", "v")
    graft.lake.VersionedTable.upsertBatch(spark, b1, Seq("event_id"), path)
    graft.lake.VersionedTable.upsertBatch(spark, b2, Seq("event_id"), path)
    graft.lake.VersionedTable.upsertBatch(spark, b2, Seq("event_id"), path) // redelivery
    val out = graft.lake.VersionedTable.readCurrent(spark, path)
      .as[(Long, String)].collect().toMap
    assert(out === Map(1L -> "a", 2L -> "B", 3L -> "c"))
  }

  test("file-watch stream source: native file source drives the same plan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_filestream").toString
    val schema = "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING"
    val stream = spark.readStream.schema(schema).json(dir)
    val q = Streaming.enrich(stream)
      .writeStream.format("memory").queryName("file_out")
      .outputMode("append").start()
    // drop a file into the watched directory → it becomes a micro-batch
    Seq(ev(1, "2024-01-01 10:00:00", "purchase", 10.0),
        ev(2, "2024-01-01 10:01:00", "error", 200.0))
      .toDF().write.mode("append").json(dir)
    q.processAllAvailable()
    val out = spark.table("file_out").collect()
      .map(r => r.getAs[Long]("event_id") ->
        (r.getAs[String]("category"), r.getAs[Boolean]("is_anomaly"))).toMap
    assert(out(1L) === ("Conversion", false))
    assert(out(2L) === ("Failure", true))
    q.stop()
  }

  test("processing stats aggregate failure rate and latency") {
    val df = Seq(
      (Timestamp.valueOf("2024-01-01 10:00:00"), Timestamp.valueOf("2024-01-01 10:00:10"), "completed"),
      (Timestamp.valueOf("2024-01-01 10:01:00"), Timestamp.valueOf("2024-01-01 10:01:30"), "completed"),
      (Timestamp.valueOf("2024-01-01 10:02:00"), Timestamp.valueOf("2024-01-01 10:02:20"), "failed"))
      .toDF("created_at", "processed_at", "status")
    val row = graft.stream.Monitoring
      .processingStats(df, "created_at", "processed_at", "status").collect().head
    assert(row.getAs[Long]("n_events") === 3)
    assert(row.getAs[Long]("n_failed") === 1)
    assert(math.abs(row.getAs[Double]("avg_latency_s") - 20.0) < 1e-6)
  }

  test("foreachBatch streaming sink upserts idempotently per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val path = java.nio.file.Files.createTempDirectory("graft_fes").toString + "/t"
    val input = MemoryStream[DataEvent]
    val q = input.toDF()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.lake.VersionedTable.upsertBatch(spark, batch.toDF(), Seq("event_id"), path)
      }
      .start()
    input.addData(ev(1, "2024-01-01 10:00:00", "click", 1.0))
    q.processAllAvailable()
    input.addData(ev(1, "2024-01-01 10:00:00", "click", 99.0), // update same key
                  ev(2, "2024-01-01 10:05:00", "error", 2.0))
    q.processAllAvailable()
    q.stop()
    val out = graft.lake.VersionedTable.readCurrent(spark, path)
      .select("event_id", "value").as[(Long, Double)].collect().toMap
    assert(out === Map(1L -> 99.0, 2L -> 2.0))
  }

  test("flatMapGroupsWithState accumulates per-user totals across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[DataEvent]
    val q = Streaming.runningUserTotals(input.toDF())
      .writeStream.format("memory").queryName("state_out")
      .outputMode("append").start()
    input.addData(
      ev(5, "2024-01-01 10:00:00", "click", 1.0),   // user 0 (5 % 5)
      ev(10, "2024-01-01 10:01:00", "click", 2.0))  // user 0
    q.processAllAvailable()
    input.addData(ev(15, "2024-01-01 10:02:00", "click", 4.0)) // user 0 again
    q.processAllAvailable()
    q.stop()
    val snaps = spark.table("state_out")
      .select("n_events", "total_value").as[(Long, Double)].collect().toSet
    // batch 1 snapshot: 2 events / 3.0; batch 2 snapshot proves the
    // state store carried the totals over: 3 events / 7.0.
    assert(snaps === Set((2L, 3.0), (3L, 7.0)))
  }

  test("streaming heavy hitters: counts accumulate across batches, state stays k-bounded") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    // ONE shard so the k-bound is exercised directly; k=4 counters
    // against 30+ distinct keys forces MG decrements.
    val q = Streaming.streamingHeavyHitters(
        input.toDF().withColumnRenamed("value", "key"),
        "key", counters = 4, shards = 1)
      .writeStream.format("memory").queryName("hh_out")
      .outputMode("append").start()
    input.addData(Seq.fill(20)("hot") ++ (1 to 15).map(i => s"cold$i"): _*)
    q.processAllAvailable()
    val b1 = spark.table("hh_out")
      .select("key", "count_lb").as[(String, Long)].collect().toMap
    assert(b1.size <= 4)                 // state never exceeds k entries
    assert(b1.contains("hot"))           // 20/35 ≫ total/(k+1)=7 — guaranteed
    assert(b1("hot") >= 20L - 35L / 5)   // undercount bounded by total/(k+1)
    input.addData(Seq.fill(25)("hot") ++ (16 to 30).map(i => s"cold$i"): _*)
    q.processAllAvailable()
    q.stop()
    // latest snapshot (batch 2 emits after the first): state carried
    // the hot key's count over and kept the bound.
    val snaps = spark.table("hh_out").select("key", "count_lb")
      .as[(String, Long)].collect()
    val hot2 = snaps.collect { case ("hot", c) => c }.max
    assert(hot2 > b1("hot"))             // accumulated, not reset
    assert(hot2 >= 45L - 75L / 5 && hot2 <= 45L)
  }

  test("streaming heavy hitters: shards partition the key space disjointly") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val q = Streaming.streamingHeavyHitters(
        input.toDF().withColumnRenamed("value", "key"),
        "key", counters = 8, shards = 4)
      .writeStream.format("memory").queryName("hh_shard_out")
      .outputMode("append").start()
    input.addData((1 to 40).map(i => s"k${i % 10}"): _*)
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("hh_shard_out")
      .select("shard", "key", "count_lb").as[(Int, String, Long)].collect()
    // each key lives in exactly one shard; disjoint union = exact
    // global counts here (every shard's distinct ≤ k)
    assert(rows.groupBy(_._2).forall(_._2.map(_._1).distinct.size == 1))
    assert(rows.map(r => r._2 -> r._3).toMap ===
      (0 to 9).map(i => s"k$i" -> 4L).toMap)
  }

  test("multimodal stub featurizer emits one normalized feature row per doc") {
    val df = Seq((1L, "hello"), (2L, "a much longer document text"))
      .toDF("doc_id", "text")
    val feats = Multimodal.featurize(spark, df, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("id") ->
        (r.getAs[Int]("n_bytes"), r.getAs[Seq[Float]]("features"))).toMap
    assert(feats(1L)._1 === 5)
    assert(feats(2L)._1 === 27)
    assert(feats.values.forall(_._2.length === 8))
    // histogram is normalized: sums to ~1
    assert(math.abs(feats(1L)._2.sum - 1.0f) < 1e-5)
  }

  test("MOR upsert sink: delta per batch, scheduled compaction, merged view correct") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val dir = java.nio.file.Files.createTempDirectory("graft_mor_sink").toString
    val root = dir + "/table"
    val q = Streaming.morUpsertWriter(
        input.toDF().toDF("k", "v"), Seq("k"), root)
      .option("checkpointLocation", dir + "/chk").start()
    input.addData((1L, "a"), (2L, "b"))          // batch 0: bootstrap base
    q.processAllAvailable()
    input.addData((2L, "B"), (3L, "c"))          // batch 1: delta
    q.processAllAvailable()
    assert(graft.lake.VersionedTable.pendingDeltas(spark, root).length === 1)
    (2 to 9).foreach { _ =>                      // batches 2-9: deltas 2-9
      input.addData((2L, "B"), (3L, "c"))
      q.processAllAvailable()
    }
    assert(graft.lake.VersionedTable.pendingDeltas(spark, root).length === 9)
    input.addData((3L, "C"), (4L, "d"))          // batch 10: delta 10 + compaction
    q.processAllAvailable()
    q.stop()
    // compaction folded the overlay: the BASE alone carries the fold
    assert(graft.lake.VersionedTable.pendingDeltas(spark, root).isEmpty)
    val out = graft.lake.VersionedTable
      .readCurrentMerged(spark, root, Seq("k"))
      .as[(Long, String)].collect().toMap
    assert(out === Map(1L -> "a", 2L -> "B", 3L -> "C", 4L -> "d"))
  }

  test("morCdcWriter applies a change stream with deletes as MOR deltas") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String)]
    val dir = java.nio.file.Files.createTempDirectory("graft_morcdc").toString
    val root = dir + "/table"
    val q = Streaming.morCdcWriter(
        input.toDF().toDF("k", "v", "op"), Seq("k"), root)
      .option("checkpointLocation", dir + "/chk").start()
    input.addData((1L, "a", "I"), (2L, "b", "I"))       // batch 0: bootstrap
    q.processAllAvailable()
    // batch 1: update, insert, and a delete — delete lands after the
    // upsert delta, so a same-batch upsert+delete of one key would end
    // deleted; here they touch different keys
    input.addData((2L, "B", "U"), (3L, "c", "I"), (1L, "", "D"))
    q.processAllAvailable()
    def merged = graft.lake.VersionedTable
      .readCurrentMerged(spark, root, Seq("k"))
      .as[(Long, String)].collect().toMap
    assert(merged === Map(2L -> "B", 3L -> "c"))
    // batches 2-4 restate both halves of batch 1: deltas 3-8
    (2 to 4).foreach { _ =>
      input.addData((2L, "B", "U"), (3L, "c", "I"), (1L, "", "D"))
      q.processAllAvailable()
    }
    assert(graft.lake.VersionedTable.pendingDeltas(spark, root).length === 8)
    assert(merged === Map(2L -> "B", 3L -> "c"))
    // batch 5: re-insert a deleted key, delete an inserted one; its two
    // deltas make 10 pending, which triggers compaction → tombstones
    // become physical removals
    input.addData((1L, "A", "I"), (3L, "", "D"))
    q.processAllAvailable()
    q.stop()
    assert(graft.lake.VersionedTable.pendingDeltas(spark, root).isEmpty)
    assert(graft.lake.VersionedTable.readCurrent(spark, root)
      .as[(Long, String)].collect().toMap === Map(1L -> "A", 2L -> "B"))
    // the bare base never carries the reserved tombstone flag
    assert(!graft.lake.VersionedTable.readCurrent(spark, root)
      .columns.contains(graft.lake.VersionedTable.TombstoneCol))
  }

  test("MOR sink compaction rule: the 10th pending delta folds, a redelivery and each CDC half count") {
    import graft.lake.VersionedTable
    val root = java.nio.file.Files.createTempDirectory("graft_morrule").toString + "/t"
    def pending = VersionedTable.pendingDeltas(spark, root).size
    def upsert(k: Long, v: String) =
      Streaming.morUpsertStep(Seq((k, v)).toDF("k", "v"), Seq("k"), root)
    def cdc(k: Long, v: String, del: Option[Long], upsertDelta: Boolean = true) =
      Streaming.morUpsertStep(Seq((k, v)).toDF("k", "v"), Seq("k"), root,
        deletes = del.map(d => Seq(d).toDF("k")), upsertDelta = upsertDelta)
    upsert(0L, "a")                              // bootstrap: no delta
    assert(pending === 0)
    (1 to 9).foreach { i => upsert(i.toLong, "a"); assert(pending === i) }
    val before = VersionedTable.currentVersion(spark, root)
    upsert(10L, "a")                             // the 10th delta folds
    assert(pending === 0)
    assert(VersionedTable.currentVersion(spark, root) !== before)
    assert(VersionedTable.readCurrent(spark, root).count() === 11L)
    // a redelivered batch lands again and counts again
    upsert(1L, "b"); upsert(1L, "b")
    assert(pending === 2)
    // a CDC batch with both halves adds two, a delete-only one adds one
    cdc(2L, "b", del = Some(3L))
    assert(pending === 4)
    cdc(4L, "unused", del = Some(5L), upsertDelta = false) // 4 keeps "a"
    assert(pending === 5)
    (6 to 8).foreach(i => upsert(i.toLong, "b"))
    assert(pending === 8)
    cdc(9L, "b", del = Some(10L))                // 8 + 2: folds
    assert(pending === 0)
    assert(VersionedTable.readCurrent(spark, root).as[(Long, String)].collect().toMap ===
      Map(0L -> "a", 1L -> "b", 2L -> "b", 4L -> "a", 6L -> "b", 7L -> "b",
        8L -> "b", 9L -> "b"))
  }

  test("real ImageIO decode produces luminance histograms from generated PNGs") {
    import java.awt.image.BufferedImage
    def png(w: Int, h: Int, pix: (Int, Int) => Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, pix(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    // left half black (luminance 0 → bin 0), right half white (255 → bin 7)
    val bw = png(4, 4, (x, _) => if (x < 2) 0x000000 else 0xFFFFFF)
    // solid red: Rec.601 integer luminance 76 → bin 2
    val red = png(2, 2, (_, _) => 0xFF0000)
    val corrupt = Array[Byte](1, 2, 3)
    val df = Seq((1L, bw), (2L, red), (3L, corrupt)).toDF("id", "payload")
    val out = Multimodal.decodeImage(spark, df).collect().map(m => m.id -> m).toMap
    assert(out(1L).features.toSeq === Seq(0.5f, 0f, 0f, 0f, 0f, 0f, 0f, 0.5f))
    assert(out(2L).features.toSeq === Seq(0f, 0f, 1f, 0f, 0f, 0f, 0f, 0f))
    assert(out(1L).n_bytes === bw.length)
    // a payload ImageIO cannot decode is quarantined, not thrown
    assert(out(3L).features.isEmpty)
  }

  test("nearest-neighbor resize is pixel-exact; frame sampling feeds per-frame decode") {
    def png(w: Int, h: Int, pix: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, pix(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    // resize 4x4 checkerboard-of-quadrants to 2x2: nearest-neighbor
    // picks the top-left pixel of each quadrant exactly
    val quad = png(4, 4, (x, y) =>
      (if (x < 2) 0 else 0xFF0000) | (if (y < 2) 0 else 0x0000FF))
    val rs = Multimodal.resizeImage(spark,
      Seq((1L, quad), (2L, Array[Byte](9))).toDF("id", "payload"), 2, 2)
      .collect().map(m => m.id -> m).toMap
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(rs(1L).payload))
    assert(back.getWidth == 2 && back.getHeight == 2)
    assert((back.getRGB(0, 0) & 0xFFFFFF) == 0x000000)
    assert((back.getRGB(1, 0) & 0xFFFFFF) == 0xFF0000)
    assert((back.getRGB(0, 1) & 0xFFFFFF) == 0x0000FF)
    assert((back.getRGB(1, 1) & 0xFFFFFF) == 0xFF00FF)
    assert(rs(2L).width == 0 && rs(2L).payload.isEmpty) // quarantined
    // frame sampling: 5 solid frames, keep 0/2/4; corrupt + truncated -> no rows
    val frames = (0 until 5).map(i => png(2, 2, (_, _) => i * 0x10))
    val video = Multimodal.packFrames(frames)
    val truncated = video.dropRight(3)
    // valid magic + count but a multi-GB length field: must quarantine
    // via the bounds check, never attempt the allocation
    val bos = new java.io.ByteArrayOutputStream()
    val dos = new java.io.DataOutputStream(bos)
    dos.writeBytes("GFV0"); dos.writeInt(1); dos.writeInt(0x7FFF0000)
    val bomb = bos.toByteArray
    val media = Seq((10L, video), (11L, Array[Byte](1, 2, 3)),
      (12L, truncated), (13L, bomb)).toDF("id", "payload")
    val sampled = Multimodal.sampleFrames(spark, media, every = 2)
    val idx = sampled.collect().groupBy(_.id)
    assert(idx(10L).map(_.frame_idx).sorted.toSeq == Seq(0, 2, 4))
    assert(!idx.contains(11L) && !idx.contains(12L) && !idx.contains(13L))
    // the sampled frames decode for real downstream
    val feats = Multimodal.decodeImage(spark,
        sampled.toDF().select(col("id") * 100 + col("frame_idx") as "id",
          col("frame") as "payload"))
      .collect()
    assert(feats.length == 3 && feats.forall(_.features.sum > 0.99f))
  }

  test("real javax.sound decode extracts envelope/pitch/duration from generated WAVs") {
    def wav(samples: Array[Short], channels: Int, rate: Float): Array[Byte] =
      Multimodal.pcmWav(samples, channels, rate)
    val rate = 8000f
    val amp = 16384 // half full-scale
    // 1 s of 440 Hz mono sine
    val sine = wav(Array.tabulate(8000)(i =>
      (amp * math.sin(2 * math.Pi * 440 * i / rate)).toShort), 1, rate)
    // stereo: L = constant +8192, R = constant -8192 -> mono fold = 0
    val stereo = wav(Array.tabulate(1600)(i =>
      if (i % 2 == 0) 8192.toShort else (-8192).toShort), 2, rate)
    val corrupt = Array[Byte](9, 9, 9)
    val df = Seq((1L, sine), (2L, stereo), (3L, corrupt)).toDF("id", "payload")
    val out = Multimodal.decodeAudio(spark, df).collect().map(m => m.id -> m).toMap
    val f = out(1L).features
    assert(f.length === 8)
    // sine RMS = amp/sqrt(2) -> normalized ~0.3536, in every quarter
    (0 to 3).foreach(q => assert(math.abs(f(q) - 0.3536f) < 0.01f, s"q$q=${f(q)}"))
    // 440 Hz crosses zero ~880x/s -> fraction ~0.11
    assert(math.abs(f(4) - 0.11f) < 0.01f)
    assert(math.abs(f(5) - 0.5f) < 0.01f)   // peak = half full-scale
    assert(math.abs(f(6) - 1.0f) < 1e-3f)   // 1 second
    assert(f(7) === 1f)
    // stereo fold cancels to silence; channel count preserved
    val g = out(2L).features
    assert(g(5) === 0f && g(7) === 2f)
    assert(math.abs(g(6) - 0.1f) < 1e-3f)   // 800 frames at 8 kHz
    // undecodable payload is quarantined, not thrown
    assert(out(3L).features.isEmpty)
  }

  test("online logistic batch step warm-starts and keeps untouched weights") {
    val store = java.nio.file.Files
      .createTempDirectory("graft_wstore").toString + "/w"
    val b1 = Seq((1L, "alpha beta", 1L), (2L, "noise junk", 0L))
      .toDF("doc_id", "text", "y")
    val b2 = Seq((3L, "alpha gamma", 1L), (4L, "cruft filler", 0L))
      .toDF("doc_id", "text", "y")
    val dim = 4096 // large enough that the fixture tokens don't collide
    val w1 = Streaming.onlineLogisticBatchStep(b1, "doc_id", "text", "y",
        dim, lr = 1.0, store)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val w2 = Streaming.onlineLogisticBatchStep(b2, "doc_id", "text", "y",
        dim, lr = 1.0, store)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def feat(tok: String) = spark.range(1)
      .select(graft.textops.QualityModel.featureId(lit(tok), dim))
      .collect().head.getLong(0)
    // batch-1-only features persist bit-identically through batch 2
    for (t <- Seq("beta", "noise", "junk"))
      assert(w2(feat(t)) === w1(feat(t)), t)
    // the shared positive token moved further positive on fresh evidence
    assert(w1(feat("alpha")) > 0 && w2(feat("alpha")) > w1(feat("alpha")))
    // unseen-before features entered at 0 and trained this round
    assert(!w1.contains(feat("cruft")) && w2(feat("cruft")) < 0)
    // the store is the manifest-versioned current weight relation
    val cur = graft.lake.VersionedTable.readCurrent(spark, store)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(cur === w2)
    // determinism: replaying both batches into a fresh store reproduces
    // the weights exactly
    val store2 = java.nio.file.Files
      .createTempDirectory("graft_wstore2").toString + "/w"
    Streaming.onlineLogisticBatchStep(b1, "doc_id", "text", "y", dim, 1.0, store2)
    val replay = Streaming.onlineLogisticBatchStep(b2, "doc_id", "text", "y",
        dim, 1.0, store2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(replay === w2)
  }

  test("online logistic batch step is idempotent under micro-batch redelivery") {
    val store = java.nio.file.Files
      .createTempDirectory("graft_wstore_redeliver").toString + "/w"
    val b1 = Seq((1L, "alpha beta", 1L), (2L, "noise junk", 0L))
      .toDF("doc_id", "text", "y")
    val first = Streaming.onlineLogisticBatchStep(b1, "doc_id", "text", "y",
        256, 1.0, store, batchId = Some(7L))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // crash-after-publish replay: same batch, same id — store unchanged,
    // no second gradient step
    val replay = Streaming.onlineLogisticBatchStep(b1, "doc_id", "text", "y",
        256, 1.0, store, batchId = Some(7L))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(replay === first)
    val versions = graft.lake.VersionedTable.listVersions(spark, store)
    assert(versions.length === 1, s"replay must not publish: $versions")
    // a genuinely new batch id DOES apply
    val next = Streaming.onlineLogisticBatchStep(b1, "doc_id", "text", "y",
        256, 1.0, store, batchId = Some(8L))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(next !== first)
  }

  test("online logistic writer trains across micro-batches end to end") {
    implicit val sqlCtx = spark.sqlContext
    val store = java.nio.file.Files
      .createTempDirectory("graft_wstore_stream").toString + "/w"
    val input = MemoryStream[(Long, String, Long)]
    val q = Streaming.onlineLogisticWriter(
        input.toDF().toDF("doc_id", "text", "y"),
        "doc_id", "text", "y", dim = 4096, lr = 2.0, store)
      .start()
    input.addData((1L, "alpha beta", 1L), (2L, "noise junk", 0L))
    q.processAllAvailable()
    input.addData((3L, "alpha beta gamma", 1L), (4L, "noise cruft", 0L))
    q.processAllAvailable()
    q.stop()
    val w = graft.lake.VersionedTable.readCurrent(spark, store)
    // after two online rounds the trained gate separates the vocabularies
    val probe = Seq((10L, "alpha beta"), (11L, "noise junk"))
      .toDF("doc_id", "text")
    val scores = graft.textops.QualityModel
      .scoreLogistic(probe, w, "doc_id", "text", 4096)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scores(10L) > 0.6, s"positive probe ${scores(10L)}")
    assert(scores(11L) < 0.4, s"negative probe ${scores(11L)}")
  }
}
