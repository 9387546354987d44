package graft

import graft.lake.{SnapshotGroup, VersionedTable}
import graft.stream.Streaming
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Root listings per table operation, counted on the `probe:` test
  * filesystem ([[ProbeFileSystem]]): every operation lists its root
  * once, a stream batch lists its store and its sink once each, and a
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
      "vacuumDeltas" -> once(VersionedTable.vacuumDeltas(spark, root)),
      "vacuum" -> once(VersionedTable.vacuum(spark, root, 3)))
    assert(counts.toMap === counts.map(_._1 -> 1).toMap)
    // the writes above really ran: the upsert folded the delta
    assert(rowsOf(VersionedTable.readCurrentMerged(spark, root, Seq("k"))) ===
      Map(1L -> "a", 2L -> "B", 3L -> "c"))
    assert(VersionedTable.pendingDeltas(spark, root).isEmpty)
  }

  test("a steady near-dedup stream batch lists its store once (twice on a merge) and its survivors sink once") {
    val dir = ProbeFileSystem.tmpDir(spark, "stream")
    val spec = Streaming.nearDedupStore(3, 64, 16)
    // batch i: two documents of unrelated words at 10:0i, so every
    // batch admits both
    def words(seed: String) = (1 to 12).map(w => java.util.UUID
      .nameUUIDFromBytes(s"$seed-$w".getBytes).toString.take(8)).mkString(" ")
    def batch(i: Int): DataFrame = Seq(1, 2).map { j =>
      (10L * i + j, s"2024-01-01 10:0$i:00", words(s"$i-$j"))
    }.toDF("doc_id", "tss", "text")
      .withColumn("ts", col("tss").cast("timestamp")).drop("tss")
    /** Runs batch `i` the way `nearDedupWriter` does; returns how many
      * times it listed the store root and the sink root.
      */
    def step(maxSegments: Int, i: Int): (Int, Int) = {
      val (store, sink) = (s"$dir/store$maxSegments", s"$dir/sink$maxSegments")
      val ((_, sinkLists), storeLists) =
        ProbeFileSystem.listingsOf(store)(ProbeFileSystem.listingsOf(sink) {
          Streaming.retentionStep(batch(i), store, spec, maxSegments,
              Streaming.morUpsertStep(_, Seq("doc_id"), sink)) {
            Streaming.nearDedupBatchCompute(batch(i), "doc_id", "text", "ts",
              _, "1 hour", 3, 64, 16)
          }.count()
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
}
