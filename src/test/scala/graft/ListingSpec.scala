package graft

import graft.lake.{Clustering, SnapshotGroup, VersionedTable}
import graft.stream.Streaming
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Root listings per table operation, counted on the `probe:` test
  * filesystem ([[ProbeFileSystem]]): every operation lists its root
  * once, a stream batch lists its store and its sink once each, a
  * delta fold re-lists only to find a racing writer's delta, and a
  * merged read takes its base and its overlay from one listing, so a
  * compaction between two listings cannot tear it.
  */
class ListingSpec extends SparkSpec {

  import spark.implicits._

  private def kv(rows: (Long, String)*): DataFrame = rows.toDF("k", "v")

  private def rowsOf(df: DataFrame): Map[Long, String] =
    df.select("k", "v").as[(Long, String)].collect().toMap

  test("every VersionedTable operation lists its table root once") {
    val root = ProbeFileSystem.tmpDir(spark, "ops") + "/t"
    val first = VersionedTable.publish(kv((1L, "a"), (2L, "b")), root,
      statsColumns = Seq("k"))
    def once[T](body: => T): Int = ProbeFileSystem.listingsOf(root)(body)._2
    val epoch = new java.sql.Timestamp(0L)
    val range = Seq(VersionedTable.ColRange("k", Some(1L), Some(2L)))
    val counts = Seq(
      // inherits the stats spec of the version above
      "publish" -> once(VersionedTable.publish(kv((1L, "a"), (2L, "b")), root)),
      "appendDelta" -> once(VersionedTable.appendDelta(kv((2L, "B")), root)),
      "readCurrent" -> once(VersionedTable.readCurrent(spark, root)),
      "readVersion" -> once(VersionedTable.readVersion(spark, root, first)),
      "readCurrentWhere" -> once(VersionedTable.readCurrentWhere(spark, root,
        range)),
      "readCurrentMerged" -> once(VersionedTable.readCurrentMerged(spark,
        root, Seq("k"))),
      "readCurrentMergedWhere" -> once(VersionedTable.readCurrentMergedWhere(
        spark, root, Seq("k"), range)),
      "requireVersionedOrEmpty" -> once(
        VersionedTable.requireVersionedOrEmpty(spark, root)),
      "requireParams" -> once(VersionedTable.requireParams(spark, root, "p")),
      "describe" -> once(VersionedTable.describe(spark, root)),
      "vacuumExpiredDeltas" -> once(VersionedTable.vacuumExpiredDeltas(spark,
        root, epoch)),
      "compactSegments" -> once(VersionedTable.compactSegments(spark, root, 1)),
      "upsertBatch" -> once(VersionedTable.upsertBatch(spark, kv((3L, "c")),
        Seq("k"), root)),
      "compact" -> once(VersionedTable.compact(spark, root, 1)),
      "recluster" -> once(Clustering.recluster(spark, root, Seq("k"), 1)),
      "vacuumDeltas" -> once(VersionedTable.vacuumDeltas(spark, root)),
      "vacuum" -> once(VersionedTable.vacuum(spark, root, 3)))
    assert(counts.toMap === counts.map(_._1 -> 1).toMap)
    // the writes above really ran: the upsert folded the delta
    assert(rowsOf(VersionedTable.readCurrentMerged(spark, root, Seq("k"))) ===
      Map(1L -> "a", 2L -> "B", 3L -> "c"))
    assert(VersionedTable.pendingDeltas(spark, root).isEmpty)
  }

  /** Near-dedup stream batch `i`: two documents of unrelated words at
    * 10:0i, so every batch admits both.
    */
  private def docs(i: Int): DataFrame = {
    def words(seed: String) = (1 to 12).map(w => java.util.UUID
      .nameUUIDFromBytes(s"$seed-$w".getBytes).toString.take(8)).mkString(" ")
    Seq(1, 2).map { j =>
      (10L * i + j, s"2024-01-01 10:0$i:00", words(s"$i-$j"))
    }.toDF("doc_id", "tss", "text")
      .withColumn("ts", col("tss").cast("timestamp")).drop("tss")
  }

  /** Runs near-dedup batch `i` over `store` and its survivors `sink`
    * the way `nearDedupWriter` does.
    */
  private def dedupBatch(store: String, sink: String, maxSegments: Int,
                         i: Int): Unit =
    Streaming.retentionStep(docs(i), store, Streaming.nearDedupStore(3, 64, 16),
        maxSegments, Streaming.morUpsertStep(_, Seq("doc_id"), sink)) {
      Streaming.nearDedupBatchCompute(docs(i), "doc_id", "text", "ts",
        _, "1 hour", 3, 64, 16)
    }.count()

  test("a steady near-dedup stream batch lists its store once (twice on a merge) and its survivors sink once") {
    val dir = ProbeFileSystem.tmpDir(spark, "stream")
    /** Runs batch `i`; returns how many times it listed the store root
      * and the sink root.
      */
    def step(maxSegments: Int, i: Int): (Int, Int) = {
      val (store, sink) = (s"$dir/store$maxSegments", s"$dir/sink$maxSegments")
      val ((_, sinkLists), storeLists) =
        ProbeFileSystem.listingsOf(store)(ProbeFileSystem.listingsOf(sink) {
          dedupBatch(store, sink, maxSegments, i)
        })
      (storeLists, sinkLists)
    }
    // maxSegments = 0: every batch republishes the store
    step(0, 0)
    assert(step(0, 1) === ((1, 1)))
    assert(step(0, 2) === ((1, 1)))
    // maxSegments = 2: batches 1 and 2 append a segment each; batch 3's
    // append makes three, so its merge is due and the tripwire lists the
    // store again
    step(2, 0)
    assert(step(2, 1) === ((1, 1)))
    assert(step(2, 2) === ((1, 1)))
    assert(step(2, 3) === ((2, 1)))
    assert(VersionedTable.pendingDeltas(spark, s"$dir/store2").size === 2)
    assert(VersionedTable.readCurrentMerged(spark, s"$dir/sink2",
      Seq("doc_id")).count() === 8)
  }

  test("a steady near-dedup stream batch probes neither root's parameter sidecar: the listing says it exists") {
    val dir = ProbeFileSystem.tmpDir(spark, "params")
    val (store, sink) = (s"$dir/store", s"$dir/sink")
    dedupBatch(store, sink, 0, 0)
    val ((_, sinkProbes), storeProbes) =
      ProbeFileSystem.statusesOf(s"$store/${VersionedTable.ParamsFile}")(
        ProbeFileSystem.statusesOf(s"$sink/${VersionedTable.ParamsFile}")(
          dedupBatch(store, sink, 0, 1)))
    assert((storeProbes, sinkProbes) === ((0, 0)))
    assert(VersionedTable.readCurrentMerged(spark, sink, Seq("doc_id"))
      .count() === 4)
  }

  test("a delta fold lists its root once beyond its caller's listing, in compactDeltas and in a sink's fold batch") {
    val root = ProbeFileSystem.tmpDir(spark, "fold") + "/t"
    VersionedTable.publish(kv((1L, "a"), (2L, "b")), root)
    VersionedTable.appendDelta(kv((2L, "B")), root)
    VersionedTable.appendDeleteDelta(Seq(1L).toDF("k"), root)
    val (_, folds) = ProbeFileSystem.listingsOf(root)(
      VersionedTable.compactDeltas(spark, root, Seq("k")))
    assert(folds === 2)
    assert(rowsOf(VersionedTable.readCurrent(spark, root)) === Map(2L -> "B"))
    assert(VersionedTable.pendingDeltas(spark, root).isEmpty)
    // a survivors sink: one bootstrap publish, then a delta per batch;
    // the tenth pending delta folds the overlay
    val sink = ProbeFileSystem.tmpDir(spark, "foldsink") + "/s"
    def upsert(i: Long): Unit =
      Streaming.morUpsertStep(kv((i, s"v$i")), Seq("k"), sink)
    (0L to 9L).foreach(upsert)
    assert(VersionedTable.pendingDeltas(spark, sink).size === 9)
    val (_, sinkFold) = ProbeFileSystem.listingsOf(sink)(upsert(10L))
    assert(sinkFold === 2)
    assert(VersionedTable.pendingDeltas(spark, sink).isEmpty)
    assert(rowsOf(VersionedTable.readCurrent(spark, sink)) ===
      (0L to 10L).map(i => i -> s"v$i").toMap)
  }

  test("a merged read takes base and overlay from one listing: a compaction racing it cannot tear the read") {
    val root = ProbeFileSystem.tmpDir(spark, "torn") + "/t"
    VersionedTable.publish(kv((1L, "a"), (2L, "b")), root)
    VersionedTable.appendDelta(kv((2L, "B"), (3L, "c")), root)
    val before = rowsOf(VersionedTable.readCurrentMerged(spark, root, Seq("k")))
    assert(before === Map(1L -> "a", 2L -> "B", 3L -> "c"))
    // fold the overlay into a new base just before the read's second
    // root listing, if the read lists the root twice
    val rootKey = ProbeFileSystem.key(new Path(root))
    var compacted = false
    ProbeFileSystem.hook = (p, n) =>
      if (p == rootKey && n == 2 && !compacted) {
        compacted = true
        VersionedTable.compactDeltas(spark, root, Seq("k"))
      }
    val read =
      try ProbeFileSystem.listingsOf(root)(
        VersionedTable.readCurrentMerged(spark, root, Seq("k")))._1
      finally ProbeFileSystem.hook = (_, _) => ()
    assert(rowsOf(read) === before,
      "the merged read saw a state that was never current")
    VersionedTable.compactDeltas(spark, root, Seq("k"))
    assert(rowsOf(VersionedTable.readCurrentMerged(spark, root, Seq("k"))) ===
      before)
  }

  test("publishSnapshot lists the group root once") {
    val group = ProbeFileSystem.tmpDir(spark, "group") + "/g"
    SnapshotGroup.publishSnapshot(spark, group, Seq("a" -> kv((1L, "a"))))
    val (snap, n) = ProbeFileSystem.listingsOf(group)(
      SnapshotGroup.publishSnapshot(spark, group, Seq("a" -> kv((2L, "b")))))
    assert(n === 1)
    assert(SnapshotGroup.listSnapshots(spark, group).last === snap)
    assert(rowsOf(SnapshotGroup.readSnapshot(spark, group, "a")) ===
      Map(2L -> "b"))
  }

  test("SnapshotGroup.describe and rollbackToSnapshot list the group root once and each member root once") {
    val group = ProbeFileSystem.tmpDir(spark, "groupops") + "/g"
    val first =
      SnapshotGroup.publishSnapshot(spark, group, Seq("a" -> kv((1L, "a"))))
    Seq(2L -> "b", 3L -> "c").foreach(r =>
      SnapshotGroup.publishSnapshot(spark, group, Seq("a" -> kv(r))))
    /** `body`'s result and how many times it listed the group root and
      * the member root.
      */
    def lists[T](body: => T): (T, (Int, Int)) = {
      val ((out, member), root) = ProbeFileSystem.listingsOf(group)(
        ProbeFileSystem.listingsOf(s"$group/a")(body))
      (out, (root, member))
    }
    // three snapshots pin the one member
    val (described, describeLists) = lists(SnapshotGroup.describe(spark, group))
    assert(describeLists === ((1, 1)))
    assert(described.count() === 3)
    val (back, rollbackLists) =
      lists(SnapshotGroup.rollbackToSnapshot(spark, group, first))
    assert(rollbackLists === ((1, 1)))
    assert(SnapshotGroup.listSnapshots(spark, group).last === back)
    assert(rowsOf(SnapshotGroup.readSnapshot(spark, group, "a")) ===
      Map(1L -> "a"))
  }
}
