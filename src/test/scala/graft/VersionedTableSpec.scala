package graft

import org.apache.spark.sql.functions._
import graft.lake.VersionedTable

/** Manifest-pointer publish: the concurrent-reader contract (old or new
  * data, never an error, NO retry anywhere), version retention, orphan
  * vacuum, and the routing of compact/upsert through the manifest.
  */
class VersionedTableSpec extends SparkSpec {

  import spark.implicits._

  private def tmpRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_vt_$tag").toString + "/t"

  test("publish/readCurrent round-trips and newest version wins") {
    val root = tmpRoot("rt")
    VersionedTable.publish(Seq((1, "a"), (2, "b")).toDF("k", "v"), root)
    VersionedTable.publish(Seq((1, "A"), (3, "c")).toDF("k", "v"), root)
    val out = VersionedTable.readCurrent(spark, root)
      .as[(Int, String)].collect().toMap
    assert(out === Map(1 -> "A", 3 -> "c"))
    assert(VersionedTable.listVersions(spark, root).length === 2)
  }

  /** Spark jobs started while `body` runs, counted by a listener. A
    * sentinel job in its own group runs after `body`: listener events
    * arrive in order, so every job `body` started is counted once the
    * sentinel's start is seen.
    */
  private def jobsWhile[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.put(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobGroup("jobs-sentinel", "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val n = Iterator.continually(
          groups.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .takeWhile { g => assert(g != null, "sentinel job never seen"); g != "jobs-sentinel" }
        .size
      (out, n)
    } finally sc.removeSparkListener(listener)
  }

  test("readCurrent keeps the schema and rows parquet inference gives, over every column type") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val types: Seq[(String, Boolean => DataType, Any)] = Seq(
      ("byte", _ => ByteType, 1.toByte),
      ("short", _ => ShortType, 2.toShort),
      ("int", _ => IntegerType, 3),
      ("long", _ => LongType, 4L),
      ("float", _ => FloatType, 5.5f),
      ("double", _ => DoubleType, -0.0),
      ("decimal", _ => DecimalType(12, 3), new java.math.BigDecimal("123456789.125")),
      ("string", _ => StringType, "s\u00e9"),
      ("binary", _ => BinaryType, Array[Byte](0, -1, 7)),
      ("boolean", _ => BooleanType, true),
      ("date", _ => DateType, java.sql.Date.valueOf("1969-12-31")),
      ("timestamp", _ => TimestampType, java.sql.Timestamp.valueOf("2024-02-29 23:59:59.123456")),
      ("timestamp_ntz", _ => TimestampNTZType, java.time.LocalDateTime.of(1900, 1, 1, 0, 0)),
      ("array", n => ArrayType(IntegerType, n), Seq(1, 2)),
      ("map", n => MapType(StringType, LongType, n), Map("a" -> 1L)),
      ("struct", n => StructType(Seq(StructField("a", IntegerType, n),
        StructField("b", StringType, n))), Row(1, "x")))
    val schema = StructType(StructField("id", IntegerType, false) +:
      types.flatMap { case (name, t, _) =>
        Seq(StructField(s"${name}_null", t(true), true),
          StructField(s"${name}_nonnull", t(false), false))
      })
    val full = Row.fromSeq(1 +: types.flatMap { case (_, _, v) => Seq(v, v) })
    val sparse = Row.fromSeq(2 +: types.flatMap { case (_, _, v) => Seq(null, v) })
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(Seq(full, sparse).asJava, schema)
    val root = tmpRoot("types")
    val v = VersionedTable.publish(df, root)
    val inferred = spark.read.parquet(s"$root/$v")
    val read = VersionedTable.readCurrent(spark, root)
    assert(read.schema === inferred.schema)
    assert(read.orderBy("id").collect() === inferred.orderBy("id").collect())
    assert(read.where(col("id") === 2).select("binary_null", "struct_null")
      .head() === Row(null, null))
  }

  test("versioned reads take their schema from the marker: building them runs no Spark job") {
    val root = tmpRoot("nojobs")
    val v = VersionedTable.publish(
      (0L until 10L).map(k => (k, s"b$k")).toDF("k", "v"), root)
    val pred = Seq(VersionedTable.ColRange("k", Some(2L), Some(4L)))
    val (cur, jCur) = jobsWhile(VersionedTable.readCurrent(spark, root))
    val (ver, jVer) = jobsWhile(VersionedTable.readVersion(spark, root, v))
    val (where, jWhere) =
      jobsWhile(VersionedTable.readCurrentWhere(spark, root, pred))
    assert((jCur, jVer, jWhere) === ((0, 0, 0)))
    val inferred = spark.read.parquet(s"$root/$v")
    assert(cur.collect().toSet === inferred.collect().toSet)
    assert(ver.collect().toSet === inferred.collect().toSet)
    assert(where.collect().toSet ===
      inferred.where(pred.head.rowPredicate).collect().toSet)
    // a stats-backed pruned read: the stats relation's own collect is
    // the only work — the kept-file scan adds no job
    val sroot = tmpRoot("nojobsstats")
    VersionedTable.publish((0L until 40L).map(k => (k, s"b$k")).toDF("k", "v")
      .repartition(4, col("k")).sortWithinPartitions("k"), sroot,
      statsColumns = Seq("k"))
    val (_, jPrune) = jobsWhile(VersionedTable.pruneFiles(spark, sroot, pred))
    val (pruned, jPruned) =
      jobsWhile(VersionedTable.readCurrentWhere(spark, sroot, pred))
    assert(jPruned === jPrune)
    assert(pruned.as[(Long, String)].collect().toMap ===
      Map(2L -> "b2", 3L -> "b3", 4L -> "b4"))
    // a base and 10 deltas, one widened and one a tombstone
    (1L to 8L).foreach(k =>
      VersionedTable.appendDelta(Seq((k, s"u$k")).toDF("k", "v"), root))
    VersionedTable.appendDelta(Seq((3L, "w3", "e")).toDF("k", "v", "extra"), root)
    VersionedTable.appendDeleteDelta(Seq(5L).toDF("k"), root)
    assert(VersionedTable.pendingDeltas(spark, root).size === 10)
    val (merged, jMerged) =
      jobsWhile(VersionedTable.readCurrentMerged(spark, root, Seq("k")))
    assert(jMerged === 0)
    assert(merged.columns.toSeq === Seq("k", "v", "extra"))
    val expected = (0L until 10L).filter(_ != 5L).map { k =>
      if (k == 3L) (k, "w3", "e")
      else (k, if (k >= 1 && k <= 8) s"u$k" else s"b$k", null)
    }
    assert(merged.as[(Long, String, String)].collect().sortBy(_._1).toSeq ===
      expected)
  }

  test("publishChecked commits only clean batches; a bad batch leaves the table untouched") {
    import graft.ingest.Expectations._
    val root = tmpRoot("checked")
    val rules = Seq(NotNull("v"), Unique(Seq("k")),
      InRange("n", 0.0, 100.0))
    // clean batch commits
    VersionedTable.publishChecked(
      Seq((1, "a", 10.0), (2, "b", 20.0)).toDF("k", "v", "n"), root, rules)
    assert(VersionedTable.readCurrent(spark, root).count() === 2)
    // bad batch (null v, duplicate k, out-of-range n) refuses BEFORE
    // any files are written: same version count, same current data
    val before = VersionedTable.listVersions(spark, root)
    val e = intercept[IllegalStateException] {
      VersionedTable.publishChecked(
        Seq((1, null, 10.0), (1, "b", 500.0)).toDF("k", "v", "n"), root, rules)
    }
    assert(e.getMessage.contains("not_null(v)")
      && e.getMessage.contains("unique(k)")
      && e.getMessage.contains("in_range(n,0.0,100.0)"),
      s"violation detail missing from: ${e.getMessage}")
    assert(VersionedTable.listVersions(spark, root) === before)
    assert(VersionedTable.readCurrent(spark, root)
      .as[(Int, String, Double)].collect().toSet ===
      Set((1, "a", 10.0), (2, "b", 20.0)))
  }

  test("readCurrent on an unpublished root fails like an absent dataset") {
    intercept[IllegalStateException] {
      VersionedTable.readCurrent(spark, tmpRoot("absent"))
    }
  }

  test("vacuum keeps the newest keep versions and removes aged orphans") {
    val root = tmpRoot("vac")
    // keepVersions=2 trims as we go: after 4 publishes only 2 remain
    (1 to 4).foreach { i =>
      VersionedTable.publish(Seq(i).toDF("n"), root, keepVersions = 2)
    }
    val versions = VersionedTable.listVersions(spark, root)
    assert(versions.length === 2)
    assert(VersionedTable.readCurrent(spark, root).as[Int].collect().toSeq === Seq(4))
    // an orphan older than the oldest retained version (crashed publish:
    // data dir, no marker) is vacuumed; the live versions are untouched
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val orphan = new org.apache.hadoop.fs.Path(root, "v-0000000000001-deadbeef")
    fs.mkdirs(orphan)
    VersionedTable.vacuum(spark, root, keep = 2)
    assert(!fs.exists(orphan))
    assert(VersionedTable.listVersions(spark, root) === versions)
    // a NEWER marker-less dir (a publish that could still be mid-commit)
    // must survive vacuum — only provably-dead orphans are removed
    val inflight = new org.apache.hadoop.fs.Path(root, "v-9999999999999-cafebabe")
    fs.mkdirs(inflight)
    VersionedTable.vacuum(spark, root, keep = 2)
    assert(fs.exists(inflight))
    // a stray `v-` dir this writer could not have produced (no embedded
    // timestamp) must be SKIPPED, not crash vacuum or be deleted
    val stray = new org.apache.hadoop.fs.Path(root, "v-user-made-dir")
    fs.mkdirs(stray)
    VersionedTable.vacuum(spark, root, keep = 2)
    assert(fs.exists(stray))
    assert(VersionedTable.listVersions(spark, root) === versions)
  }

  test("concurrent reader across publishes: old or new data, never an error, no retry") {
    val root = tmpRoot("conc")
    VersionedTable.publish(spark.range(100).toDF("id"), root, keepVersions = 4)
    val validCounts = (0 to 6).map(i => 100L + i * 100L).toSet
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    @volatile var publishing = true
    val readers = (1 to 2).map { _ =>
      new Thread(() => {
        try {
          while (publishing) {
            // plain resolve+read — NO readRetrying, no catch: any
            // transient window would surface as a test failure
            seen.add(VersionedTable.readCurrent(spark, root).count())
          }
        } catch { case t: Throwable => errors.add(t) }
      })
    }
    readers.foreach(_.start())
    (1 to 6).foreach { i =>
      VersionedTable.publish(spark.range(100L + i * 100L).toDF("id"), root,
        keepVersions = 4)
    }
    publishing = false
    readers.foreach(_.join(30000))
    assert(errors.isEmpty,
      s"concurrent reader hit: ${Option(errors.peek()).map(_.toString)}")
    assert(!seen.isEmpty)
    import scala.jdk.CollectionConverters._
    val invalid = seen.asScala.map(_.longValue()).filterNot(validCounts)
    assert(invalid.isEmpty, s"reader saw partial data: $invalid")
  }

  test("concurrent delta writers: readers see whole batches only; nothing lost, nothing doubled") {
    // SCALING.md's multi-writer claim, driven for real: delta appends
    // commute (disjoint key ranges per writer), so N writers may
    // append concurrently with no coordination while readers resolve
    // prefix-consistent snapshots — every batch a reader sees is
    // COMPLETE (marker-commit means a half-written delta is invisible)
    // and the final merge holds every appended row exactly once.
    val root = tmpRoot("mw")
    val rowsPer = 20
    val nWriters = 4
    val nBatches = 5
    VersionedTable.publish(
      Seq((-1L, "seed")).toDF("k", "tag"), root, keepVersions = 4)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val partial = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var writing = true
    val reader = new Thread(() => {
      try {
        while (writing) {
          // plain merged read, no catch/retry: any visibility window
          // or partial batch surfaces as a failure
          val byTag = VersionedTable.readCurrentMerged(spark, root, Seq("k"))
            .where(col("tag") =!= "seed")
            .groupBy("tag").count()
            .collect().map(r => r.getString(0) -> r.getLong(1))
          byTag.filter(_._2 != rowsPer.toLong)
            .foreach(t => partial.add(s"$t"))
        }
      } catch { case t: Throwable => errors.add(t) }
    })
    val writers = (0 until nWriters).map { w =>
      new Thread(() => {
        try {
          for (b <- 0 until nBatches) {
            // disjoint key ranges per writer — appends commute
            val batch = spark.range(rowsPer)
              .select((col("id") + w * 100000L + b * 1000L).as("k"),
                lit(s"$w-$b").as("tag"))
            VersionedTable.appendDelta(batch, root)
          }
        } catch { case t: Throwable => errors.add(t) }
      })
    }
    reader.start()
    writers.foreach(_.start())
    writers.foreach(_.join(120000))
    writing = false
    reader.join(120000)
    assert(errors.isEmpty,
      s"concurrent writer/reader hit: ${Option(errors.peek()).map(_.toString)}")
    assert(partial.isEmpty, s"reader saw partial batches: $partial")

    def assertComplete(): Unit = {
      val byTag = VersionedTable.readCurrentMerged(spark, root, Seq("k"))
        .where(col("tag") =!= "seed")
        .groupBy("tag").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byTag.size === nWriters * nBatches, s"missing batches: $byTag")
      assert(byTag.values.forall(_ == rowsPer.toLong),
        s"incomplete batches: ${byTag.filter(_._2 != rowsPer.toLong)}")
    }
    assertComplete()
    // quiesced compaction folds the overlay without changing the data
    VersionedTable.compactDeltas(spark, root, Seq("k"))
    assert(VersionedTable.pendingDeltas(spark, root).isEmpty)
    assertComplete()
  }

  test("VersionedTable.compact publishes a new version: no swap window") {
    val root = tmpRoot("cmp")
    // fragmented initial version: many small files
    VersionedTable.publish(spark.range(1000).toDF("id").repartition(16), root)
    val before = VersionedTable.currentVersion(spark, root).get
    val n = VersionedTable.compact(spark, root, targetFiles = 2)
    assert(n === 1000L)
    val after = VersionedTable.currentVersion(spark, root).get
    assert(after !== before) // compaction published a NEW version
    val files = VersionedTable.readCurrent(spark, root).inputFiles
    assert(files.length === 2)
    assert(VersionedTable.readCurrent(spark, root).count() === 1000L)
  }

  test("upsertBatch folds batches by key and converges under redelivery") {
    val root = tmpRoot("ups")
    val b1 = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val b2 = Seq((2L, "B"), (3L, "c")).toDF("k", "v")
    VersionedTable.upsertBatch(spark, b1, Seq("k"), root)
    VersionedTable.upsertBatch(spark, b2, Seq("k"), root)
    VersionedTable.upsertBatch(spark, b2, Seq("k"), root) // redelivery
    val out = VersionedTable.readCurrent(spark, root)
      .as[(Long, String)].collect().toMap
    assert(out === Map(1L -> "a", 2L -> "B", 3L -> "c"))
  }

  test("accumulateDaily persisted through the manifest: stale day replaced on re-run") {
    // the q_agg_daily_multiday shape, but with each day's run PERSISTED
    // via the versioned upsert instead of folded in memory
    val root = tmpRoot("daily")
    def day(dateId: String, n: Long) = Seq((dateId, n)).toDF("date_id", "total")
    VersionedTable.upsertBatch(spark, day("2024-06-01", 10L), Seq("date_id"), root)
    VersionedTable.upsertBatch(spark, day("2024-06-02", 5L), Seq("date_id"), root) // stale
    VersionedTable.upsertBatch(spark, day("2024-06-03", 30L), Seq("date_id"), root)
    VersionedTable.upsertBatch(spark, day("2024-06-02", 20L), Seq("date_id"), root) // corrected
    val out = VersionedTable.readCurrent(spark, root)
      .orderBy("date_id").as[(String, Long)].collect().toSeq
    assert(out === Seq(("2024-06-01", 10L), ("2024-06-02", 20L),
      ("2024-06-03", 30L)))
  }

  // -------------------------------------------------------------------
  // File-level data skipping + Z-order clustering
  // -------------------------------------------------------------------

  import graft.lake.Clustering
  import VersionedTable.ColRange

  test("publish with stats prunes files; pruned read is identical to the full filter") {
    val root = tmpRoot("skip")
    val df = spark.range(400).toDF("k")
      .withColumn("v", (col("k") % 7).cast("long"))
    VersionedTable.publish(df.repartitionByRange(4, col("k")), root,
      statsColumns = Seq("k"))
    val stats = VersionedTable.currentStats(spark, root).get
    assert(stats.count() === 4)
    assert(stats.columns.toSet === Set("file_path", "rows",
      "min_k", "max_k", "nulls_k"))
    val ranges = Seq(ColRange("k", Some(10L), Some(40L)))
    val Some((kept, total)) = VersionedTable.pruneFiles(spark, root, ranges)
    assert(total === 4L)
    assert(kept.length < 4, "a narrow range must skip files")
    val pruned = VersionedTable.readCurrentWhere(spark, root, ranges)
    // the pruned plan reads ONLY the surviving files…
    assert(pruned.inputFiles.length === kept.length)
    // …and returns exactly the rows of the unpruned filter
    val full = VersionedTable.readCurrent(spark, root)
      .where(col("k") >= 10 && col("k") <= 40)
    assert(pruned.collect().toSet === full.collect().toSet)
  }

  test("skipping edge cases: all files skipped, missing stats, uncovered column, null stats") {
    val root = tmpRoot("skipedge")
    // two range files; v is null below 120, so the low file (range
    // boundary lands near the median, well under 120) is ALL-null in v
    // and its v stats are null
    val df = spark.range(200).toDF("k")
      .withColumn("v", when(col("k") >= 120, col("k")).otherwise(lit(null).cast("long")))
    VersionedTable.publish(df.repartitionByRange(2, col("k")), root,
      statsColumns = Seq("k", "v"))
    // null v-stats: a range on v can never match the all-null file → skipped
    val Some((keptV, totalV)) =
      VersionedTable.pruneFiles(spark, root, Seq(ColRange("v", Some(150L), None)))
    assert(totalV === 2L && keptV.length === 1)
    assert(VersionedTable.readCurrentWhere(spark, root,
      Seq(ColRange("v", Some(150L), None))).count() === 50L) // v 150..199
    // all files skipped → empty result, schema intact, zero files read
    val none = VersionedTable.readCurrentWhere(spark, root,
      Seq(ColRange("k", Some(10000L), None)))
    assert(none.count() === 0L)
    assert(none.columns.toSeq === Seq("k", "v"))
    // version without stats → graceful full-scan fallback
    val plainRoot = tmpRoot("nostats")
    VersionedTable.publish(df, plainRoot)
    assert(VersionedTable.currentStats(spark, plainRoot).isEmpty)
    assert(VersionedTable.readCurrentWhere(spark, plainRoot,
      Seq(ColRange("v", Some(150L), None))).count() === 50L)
    // range on a column with no stats → fall back, never mis-prune
    assert(VersionedTable.pruneFiles(spark, root,
      Seq(ColRange("k", Some(0L), None), ColRange("x_unstated", Some(1L), None)))
      .isEmpty)
  }

  test("bloom point lookup prunes a hash layout that min/max ranges cannot") {
    val root = tmpRoot("bloom")
    val df = spark.range(4000).toDF("id")
      .withColumn("name", concat(lit("user-"),
        lpad(col("id").cast("string"), 6, "0")))
    VersionedTable.publish(df.repartition(8, col("id")), root,
      statsColumns = Seq("name"), bloomColumns = Seq("name"),
      bloomExpectedItems = 1000L, bloomFpp = 0.001)
    // hash layout: every file spans nearly the whole name range, so a
    // RANGE probe on the point keeps everything…
    val Some((rangeKept, total)) = VersionedTable.pruneFiles(spark, root,
      Seq(VersionedTable.ColRange("name",
        Some("user-001234"), Some("user-001234"))))
    assert(total === 8L && rangeKept.length === 8)
    // …while the Bloom-backed equality prunes to the holding file
    // (bloom probes are deterministic — no flakiness; <=2 allows an fp)
    val Some((kept, _)) = VersionedTable.pruneFiles(spark, root,
      Seq(VersionedTable.ColEquals("name", "user-001234")))
    assert(kept.length <= 2, s"bloom kept ${kept.length} of 8 files")
    val out = VersionedTable.readCurrentWhere(spark, root,
      Seq(VersionedTable.ColEquals("name", "user-001234")))
    assert(out.select("id").as[Long].collect().toSeq === Seq(1234L))
    // absent key: pruned read finds nothing, exactly like the full filter
    assert(VersionedTable.readCurrentWhere(spark, root,
      Seq(VersionedTable.ColEquals("name", "user-999999"))).count() === 0L)
    // equality on an uncovered column → fall back, never mis-prune
    assert(VersionedTable.pruneFiles(spark, root,
      Seq(VersionedTable.ColEquals("id_str", "x"))).isEmpty)
  }

  test("maintenance publishes inherit the stats spec — compaction never strips the file index") {
    val root = tmpRoot("inherit")
    val df = spark.range(400).toDF("k").withColumn("s", col("k").cast("string"))
    VersionedTable.publish(df.repartitionByRange(4, col("k")), root,
      statsColumns = Seq("k"), bloomColumns = Seq("s"))
    // compact() and upsertBatch() pass no stats args…
    VersionedTable.compact(spark, root, targetFiles = 4)
    VersionedTable.upsertBatch(spark,
      Seq((1000L, "x")).toDF("k", "s"), Seq("k"), root)
    // …yet the newest version still carries the full spec and prunes
    val stats = VersionedTable.currentStats(spark, root).get
    assert(stats.columns.contains("min_k") && stats.columns.contains("bloom_s"))
    val Some((kept, total)) = VersionedTable.pruneFiles(spark, root,
      Seq(VersionedTable.ColRange("k", Some(0L), Some(10L))))
    assert(kept.length < total, "inherited stats must still prune")
    assert(VersionedTable.readCurrentWhere(spark, root,
      Seq(VersionedTable.ColEquals("s", "x"))).count() === 1L)
  }

  test("IN-list pruning keeps the union of each key's candidate files") {
    val root = tmpRoot("inlist")
    val df = spark.range(4000).toDF("id")
      .withColumn("name", concat(lit("user-"),
        lpad(col("id").cast("string"), 6, "0")))
    VersionedTable.publish(df.repartition(8, col("id")), root,
      statsColumns = Seq("name"), bloomColumns = Seq("name"),
      bloomExpectedItems = 1000L, bloomFpp = 0.001)
    val in = VersionedTable.ColIn("name",
      Seq("user-000007", "user-003900", "user-999999")) // 2 present, 1 absent
    val Some((kept, total)) = VersionedTable.pruneFiles(spark, root, Seq(in))
    assert(total === 8L)
    assert(kept.length <= 4, s"IN pruning kept ${kept.length} of 8 files")
    val out = VersionedTable.readCurrentWhere(spark, root, Seq(in))
      .select("id").as[Long].collect().sorted.toSeq
    assert(out === Seq(7L, 3900L))
    // uncovered column → fall back, never mis-prune
    assert(VersionedTable.pruneFiles(spark, root,
      Seq(VersionedTable.ColIn("nope", Seq("x")))).isEmpty)
  }

  test("recluster restores tight file ranges that upserts drifted wide") {
    val root = tmpRoot("recluster")
    val grid = spark.range(64L * 64L)
      .select(expr("id DIV 64").as("x"), (col("id") % 64).as("y"))
    Clustering.publishClustered(grid, root, Seq("x", "y"),
      numFiles = 16, bits = 6)
    // an upsert publishes via plain parquet write — layout drifts, but
    // inherited stats keep correctness; pruning just weakens
    VersionedTable.upsertBatch(spark,
      spark.range(64L * 64L).select(expr("id DIV 64").as("x"),
        (col("id") % 64).as("y")), Seq("x", "y"), root)
    assert(VersionedTable.readCurrent(spark, root).count() === 64L * 64L)
    Clustering.recluster(spark, root, Seq("x", "y"), targetFiles = 16, bits = 6)
    // rows preserved, 16 fresh Z-ranges, and 2-D pruning tight again on
    // BOTH columns — the drifted layout prunes at best on one
    assert(VersionedTable.readCurrent(spark, root).count() === 64L * 64L)
    def kept(c: String): (Int, Long) = {
      val (k, t) = VersionedTable.pruneFiles(spark, root,
        Seq(ColRange(c, Some(0L), Some(7L)))).get
      (k.length, t)
    }
    val ((kx, tx), (ky, _)) = (kept("x"), kept("y"))
    assert(tx === 16L)
    assert(kx <= 8, s"reclustered x pruning kept $kx of $tx")
    assert(ky <= 8, s"reclustered y pruning kept $ky of $tx")
  }

  test("merge-on-read: delta appends, newest-wins merged read, compaction folds") {
    val root = tmpRoot("mor")
    VersionedTable.publish(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), root)
    VersionedTable.appendDelta(Seq((2L, "B2"), (4L, "d")).toDF("k", "v"), root)
    VersionedTable.appendDelta(Seq((2L, "B3"), (5L, "e")).toDF("k", "v"), root)
    val want = Map(1L -> "a", 2L -> "B3", 3L -> "c", 4L -> "d", 5L -> "e")
    def mergedMap = VersionedTable.readCurrentMerged(spark, root, Seq("k"))
      .as[(Long, String)].collect().toMap
    assert(mergedMap === want)
    // equivalence with the copy-on-write upsert path, batch for batch
    val cow = tmpRoot("morcow")
    VersionedTable.publish(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), cow)
    VersionedTable.upsertBatch(spark, Seq((2L, "B2"), (4L, "d")).toDF("k", "v"), Seq("k"), cow)
    VersionedTable.upsertBatch(spark, Seq((2L, "B3"), (5L, "e")).toDF("k", "v"), Seq("k"), cow)
    assert(VersionedTable.readCurrent(spark, cow)
      .as[(Long, String)].collect().toMap === want)
    // compaction folds the overlay into a plain base read
    VersionedTable.compactDeltas(spark, root, Seq("k"))
    assert(VersionedTable.pendingDeltas(spark, root).isEmpty)
    assert(VersionedTable.readCurrent(spark, root)
      .as[(Long, String)].collect().toMap === want)
    // a re-delivered batch lands as a new delta and the merge converges
    VersionedTable.appendDelta(Seq((2L, "B3"), (5L, "e")).toDF("k", "v"), root)
    assert(mergedMap === want)
  }

  test("delta retention: compaction keeps deltas a retained-base reader may need") {
    val root = tmpRoot("morret")
    VersionedTable.publish(Seq((1L, "a")).toDF("k", "v"), root, keepVersions = 2)
    VersionedTable.appendDelta(Seq((1L, "A")).toDF("k", "v"), root)
    // crashed append: data dir, no marker, ancient timestamp → orphan
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(root, "d-0000000000001-deadbeef"))
    VersionedTable.compactDeltas(spark, root, Seq("k"), keepVersions = 2)
    // the folded delta is NEWER than the oldest retained base (a reader
    // that resolved that base still needs it) → kept; the orphan is dead
    assert(VersionedTable.listDeltas(spark, root).length === 1)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "d-0000000000001-deadbeef")))
    // two more base publishes age the old base out of retention…
    VersionedTable.publish(Seq((2L, "b")).toDF("k", "v"), root, keepVersions = 2)
    VersionedTable.publish(Seq((3L, "c")).toDF("k", "v"), root, keepVersions = 2)
    // …and the next compaction can finally drop the folded delta
    VersionedTable.compactDeltas(spark, root, Seq("k"), keepVersions = 2)
    assert(VersionedTable.listDeltas(spark, root).isEmpty)
  }

  test("readVersion time-travels to any retained published version") {
    val root = tmpRoot("tt")
    val v1 = VersionedTable.publish(Seq((1, "a")).toDF("k", "v"), root)
    val v2 = VersionedTable.publish(Seq((1, "A"), (2, "b")).toDF("k", "v"), root)
    assert(VersionedTable.readVersion(spark, root, v1).count() === 1L)
    assert(VersionedTable.readVersion(spark, root, v2).count() === 2L)
    intercept[IllegalArgumentException] {
      VersionedTable.readVersion(spark, root, "v-0000000000042-deadbeef")
    }
  }

  test("z-order clustering prunes on every clustered column; a linear sort only on its own") {
    // 64x64 grid — the canonical multi-dimensional-locality fixture
    val grid = spark.range(64L * 64L)
      .select(expr("id DIV 64").as("x"), (col("id") % 64).as("y"))
    val zroot = tmpRoot("zord")
    val lroot = tmpRoot("linear")
    Clustering.publishClustered(grid, zroot, Seq("x", "y"),
      numFiles = 16, bits = 6)
    VersionedTable.publish(
      grid.repartitionByRange(16, col("x")).sortWithinPartitions("x"),
      lroot, statsColumns = Seq("x", "y"))
    def kept(root: String, c: String): Int =
      VersionedTable.pruneFiles(spark, root,
        Seq(ColRange(c, Some(0L), Some(7L)))).get._1.length
    // Morton tiles: an eighth-range on EITHER column keeps at most half
    // the files (ideal alignment keeps 4 of 16)
    assert(kept(zroot, "x") <= 8, s"z-order x pruning kept ${kept(zroot, "x")}")
    assert(kept(zroot, "y") <= 8, s"z-order y pruning kept ${kept(zroot, "y")}")
    // the linear layout is perfect on its sort column…
    assert(kept(lroot, "x") <= 4)
    // …and near-useless on the other (every file spans almost all of y)
    assert(kept(lroot, "y") >= 12)
    // layout never changes results: 2-D pruned read == exact grid count
    val out = VersionedTable.readCurrentWhere(spark, zroot, Seq(
      ColRange("x", Some(0L), Some(7L)), ColRange("y", Some(0L), Some(7L))))
    assert(out.count() === 64L)
    // schema is unchanged by clustering (helper columns dropped)
    assert(VersionedTable.readCurrent(spark, zroot).columns.toSeq ===
      Seq("x", "y"))
  }

  test("delete deltas: tombstoned keys vanish, newer upserts resurrect, compaction removes physically") {
    val root = tmpRoot("mordel")
    VersionedTable.publish(
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("k", "v"), root)
    VersionedTable.appendDeleteDelta(Seq(2L, 3L, 99L).toDF("k"), root)
    def merged = VersionedTable.readCurrentMerged(spark, root, Seq("k"))
    // deletes drop their keys; deleting an absent key (99) is a no-op;
    // the tombstone column never surfaces
    assert(merged.as[(Long, String)].collect().toMap ===
      Map(1L -> "a", 4L -> "d"))
    assert(!merged.columns.contains(VersionedTable.TombstoneCol))
    // a LATER upsert re-inserts a deleted key
    VersionedTable.appendDelta(Seq((3L, "C2")).toDF("k", "v"), root)
    assert(merged.as[(Long, String)].collect().toMap ===
      Map(1L -> "a", 3L -> "C2", 4L -> "d"))
    // a later delete removes an upserted key
    VersionedTable.appendDeleteDelta(Seq(4L).toDF("k"), root)
    val want = Map(1L -> "a", 3L -> "C2")
    assert(merged.as[(Long, String)].collect().toMap === want)
    // compaction makes the removal physical: the bare base holds only
    // survivors and carries no tombstone column
    VersionedTable.compactDeltas(spark, root, Seq("k"))
    val base = VersionedTable.readCurrent(spark, root)
    assert(base.as[(Long, String)].collect().toMap === want)
    assert(base.columns.toSeq === Seq("k", "v"))
    // redelivered delete converges (idempotent under retry)
    VersionedTable.appendDeleteDelta(Seq(4L).toDF("k"), root)
    assert(merged.as[(Long, String)].collect().toMap === want)
    // the reserved column is rejected everywhere it could leak in
    intercept[IllegalArgumentException] {
      VersionedTable.publish(
        Seq((1L, true)).toDF("k", VersionedTable.TombstoneCol), root)
    }
    intercept[IllegalArgumentException] {
      VersionedTable.appendDelta(
        Seq((1L, true)).toDF("k", VersionedTable.TombstoneCol), root)
    }
  }

  test("schema evolution: delta-added columns widen the merged view and bake in at compaction") {
    val root = tmpRoot("morevo")
    VersionedTable.publish(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root)
    // delta adds a column the base lacks
    VersionedTable.appendDelta(
      Seq((2L, "B", "en"), (3L, "c", "de")).toDF("k", "v", "lang"), root)
    val merged = VersionedTable.readCurrentMerged(spark, root, Seq("k"))
    assert(merged.columns.toSeq === Seq("k", "v", "lang"))
    assert(merged.as[(Long, String, Option[String])].collect().toSet ===
      Set((1L, "a", None), (2L, "B", Some("en")), (3L, "c", Some("de"))))
    // compaction publishes the widened schema as the new base
    VersionedTable.compactDeltas(spark, root, Seq("k"))
    assert(VersionedTable.readCurrent(spark, root).columns.toSeq ===
      Seq("k", "v", "lang"))
    // a later delta carrying only the ORIGINAL columns still merges —
    // its winning rows read null for the column it omits
    VersionedTable.appendDelta(Seq((1L, "A")).toDF("k", "v"), root)
    assert(VersionedTable.readCurrentMerged(spark, root, Seq("k"))
      .where(col("k") === 1L).select("v", "lang")
      .as[(String, Option[String])].collect().toSeq === Seq(("A", None)))
    // a layer missing the merge KEYS is refused loudly
    VersionedTable.appendDelta(Seq(("x", "y")).toDF("v", "lang"), root)
    intercept[IllegalArgumentException] {
      VersionedTable.readCurrentMerged(spark, root, Seq("k")).collect()
    }
  }

  test("base-only maintenance refuses pending deltas instead of silently dropping them") {
    val root = tmpRoot("morguard")
    VersionedTable.publish(Seq((1L, 10L), (2L, 20L)).toDF("k", "x"), root)
    VersionedTable.appendDelta(Seq((2L, 21L)).toDF("k", "x"), root)
    // compact and recluster read the bare base — their republish would
    // mark the pending delta folded without folding it
    intercept[IllegalArgumentException] {
      VersionedTable.compact(spark, root, targetFiles = 2)
    }
    intercept[IllegalArgumentException] {
      Clustering.recluster(spark, root, Seq("k"), targetFiles = 2)
    }
    // upsertBatch KNOWS the keys, so it folds the overlay instead
    VersionedTable.upsertBatch(spark, Seq((3L, 30L)).toDF("k", "x"),
      Seq("k"), root)
    assert(VersionedTable.readCurrent(spark, root)
      .as[(Long, Long)].collect().toMap ===
      Map(1L -> 10L, 2L -> 21L, 3L -> 30L))
    // with the overlay folded, maintenance proceeds
    assert(VersionedTable.compact(spark, root, targetFiles = 2) === 3L)
  }

  test("compaction recovers a delta appended concurrently with its publish") {
    val root = tmpRoot("morrace")
    VersionedTable.publish(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root)
    VersionedTable.appendDelta(Seq((2L, "B")).toDF("k", "v"), root)
    // race: another writer lands a delta AFTER compaction took the
    // listing it folds from but BEFORE it published — the new base's
    // timestamp will dominate this delta, so without recovery it would
    // be stranded (pendingDeltas would call it folded; its rows
    // silently lost)
    val stale = VersionedTable.list(spark, root)
    VersionedTable.appendDelta(Seq((3L, "c"), (2L, "B9")).toDF("k", "v"), root)
    VersionedTable.compactDeltasOn(stale, Seq("k"))
    // the racing delta's rows survived, with its newer write winning,
    // and nothing is left pending
    assert(VersionedTable.pendingDeltas(spark, root).isEmpty)
    assert(VersionedTable.readCurrent(spark, root)
      .as[(Long, String)].collect().toMap ===
      Map(1L -> "a", 2L -> "B9", 3L -> "c"))
  }

  test("a merged read plans two scan relations however many deltas are pending: the base and one overlay") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    Seq(1, 4, 10).foreach { n =>
      val root = tmpRoot(s"morscans$n")
      val base = VersionedTable.publish(
        (0L until 20L).map(k => (k, s"b$k")).toDF("k", "v"), root)
      val deltas = (1 to n).map(i =>
        VersionedTable.appendDelta(Seq((i.toLong, s"u$i"), (0L, s"w$i"))
          .toDF("k", "v"), root))
      val m = VersionedTable.readCurrentMerged(spark, root, Seq("k"))
      val scans = m.queryExecution.optimizedPlan.collect {
        case r: LogicalRelation => r.relation.asInstanceOf[HadoopFsRelation]
          .location.rootPaths.map(_.getName).toSet
      }.toSet
      assert(scans === Set(Set(base), deltas.toSet), s"$n deltas")
      // newest wins across the one overlay scan: key 0 is in every delta
      assert(m.as[(Long, String)].collect().toMap ===
        (0L until 20L).map(k => k -> (if (k == 0L) s"w$n"
          else if (k <= n) s"u$k" else s"b$k")).toMap)
    }
  }

  test("a delta missing a merge key fails the merged read loudly, with a usable marker and with an unusable one") {
    Seq(false, true).foreach { unusable =>
      val root = tmpRoot(s"morkeys$unusable")
      VersionedTable.publish(Seq((1L, "a")).toDF("k", "v"), root)
      VersionedTable.appendDelta(Seq((1L, "A")).toDF("k", "v"), root)
      val keyless =
        VersionedTable.appendDelta(Seq(("x", "y")).toDF("v", "lang"), root)
      // a later delta that does carry the key: the overlay's union schema
      // has it, the keyless layer still does not
      VersionedTable.appendDelta(Seq((2L, "b")).toDF("k", "v"), root)
      if (unusable) {
        val marker = java.nio.file.Paths.get(root, s"_ready-$keyless")
        java.nio.file.Files.write(marker, Array.emptyByteArray)
        java.nio.file.Files.deleteIfExists(
          java.nio.file.Paths.get(root, s"._ready-$keyless.crc"))
      }
      val e = intercept[IllegalArgumentException] {
        VersionedTable.readCurrentMerged(spark, root, Seq("k"))
      }
      assert(e.getMessage.contains("merge keys"), s"unusable marker: $unusable")
    }
  }

  test("vacuumOlderThan drops aged versions but never below minKeep") {
    val root = tmpRoot("ttl")
    val v1 = VersionedTable.publish(Seq((1, "a")).toDF("k", "v"), root)
    val v2 = VersionedTable.publish(Seq((2, "b")).toDF("k", "v"), root)
    val v3 = VersionedTable.publish(Seq((3, "c")).toDF("k", "v"), root)
    // everything younger than a long horizon → nothing removed
    assert(VersionedTable.vacuumOlderThan(spark, root, Long.MaxValue / 2).isEmpty)
    // zero retention: aged versions go, but the newest minKeep survive
    assert(VersionedTable.vacuumOlderThan(spark, root, 0L) === Seq(v1))
    assert(VersionedTable.listVersions(spark, root) === Seq(v2, v3))
    assert(VersionedTable.vacuumOlderThan(spark, root, 0L).isEmpty)
    intercept[IllegalArgumentException] {
      VersionedTable.vacuumOlderThan(spark, root, 0L, minKeep = 1)
    }
  }

  test("describe lists bases and deltas with currency and pending/folded status") {
    val root = tmpRoot("desc")
    val v1 = VersionedTable.publish(Seq((1L, "a")).toDF("k", "v"), root,
      statsColumns = Seq("k"))
    val d1 = VersionedTable.appendDelta(Seq((1L, "A")).toDF("k", "v"), root)
    def rows = VersionedTable.describe(spark, root).collect()
      .map(r => r.getString(1) -> (r.getString(0), r.getBoolean(5), r.getBoolean(6)))
      .toMap
    assert(rows(v1) === (("base", true, true)))     // stats'd, current
    assert(rows(d1) === (("delta", false, false)))  // pending overlay
    val v2 = VersionedTable.compactDeltas(spark, root, Seq("k"))
    assert(rows(v2)._1 === "base" && rows(v2)._3 === true)
    assert(rows(v1) === (("base", true, false)))     // superseded
    assert(rows(d1)._1 === "delta-folded")           // folded, retained
    // every listed entry has files and bytes
    assert(VersionedTable.describe(spark, root).collect()
      .forall(r => r.getInt(3) > 0 && r.getLong(4) > 0L))
  }

  test("a merged read planned before a concurrent compaction still reads correctly after it") {
    val root = tmpRoot("morconc")
    VersionedTable.publish(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root)
    VersionedTable.appendDelta(Seq((2L, "B"), (3L, "c")).toDF("k", "v"), root)
    // reader resolves base + overlay NOW (plan pins concrete paths)...
    val planned = VersionedTable.readCurrentMerged(spark, root, Seq("k"))
    // ...then a compaction publishes a new base and vacuums; retention
    // (keepVersions >= 2, deltas kept to the oldest retained base's
    // horizon) must keep the reader's resolved layers alive
    VersionedTable.compactDeltas(spark, root, Seq("k"))
    assert(planned.as[(Long, String)].collect().toMap ===
      Map(1L -> "a", 2L -> "B", 3L -> "c"))
  }

  test("merged pruned read: base files skip under the overlay; overrides, deletes, and overlay-only rows survive") {
    val root = tmpRoot("morskip")
    VersionedTable.publish(
      spark.range(1600).select(col("id").as("k"), (col("id") % 7).as("x"))
        .repartitionByRange(8, col("k")).sortWithinPartitions("k"),
      root, statsColumns = Seq("k"))
    // overlay: an in-range update, a brand-new out-of-base-range key,
    // and an in-range delete
    VersionedTable.appendDelta(Seq((100L, 99L), (2000L, 1L)).toDF("k", "x"), root)
    VersionedTable.appendDeleteDelta(Seq(101L).toDF("k"), root)
    val preds = Seq(ColRange("k", Some(90L), Some(110L)))
    val out = VersionedTable.readCurrentMergedWhere(spark, root, Seq("k"), preds)
      .as[(Long, Long)].collect().toMap
    // identical to the unpruned merged read + filter
    val full = VersionedTable.readCurrentMerged(spark, root, Seq("k"))
      .where(col("k").between(90L, 110L))
      .as[(Long, Long)].collect().toMap
    assert(out === full)
    assert(out(100L) === 99L)      // delta override visible
    assert(!out.contains(101L))    // tombstone applies through pruning
    assert(out.size === 20)        // 21 keys in range, one deleted
    // the stats really cut base files for this range
    val (kept, total) = VersionedTable.pruneFiles(spark, root, preds).get
    assert(total === 8L && kept.length <= 2, s"kept ${kept.length} of $total")
    // every base file skipped, yet the overlay-only row still surfaces
    val far = VersionedTable.readCurrentMergedWhere(spark, root, Seq("k"),
        Seq(ColRange("k", Some(1900L), Some(2100L))))
      .as[(Long, Long)].collect().toSeq
    assert(far === Seq((2000L, 1L)))
  }

  test("merged read resolves newest-wins in the overlay and anti-joins the base by broadcast") {
    val root = tmpRoot("morplan")
    VersionedTable.publish(
      spark.range(10000).select(col("id").as("k"), (col("id") * 2).as("x")),
      root)
    VersionedTable.appendDelta(Seq((5L, -1L)).toDF("k", "x"), root)
    VersionedTable.appendDeleteDelta(Seq(6L).toDF("k"), root)
    val m = VersionedTable.readCurrentMerged(spark, root, Seq("k"))
    assert(m.count() === 9999L) // one key deleted, one updated in place
    assert(m.where(col("k") === 5L).select("x").as[Long].head() === -1L)
    // AQE's final plan: the base is suppressed via a BROADCAST left-anti
    // probe against the (tiny) overlay key set — the base side is never
    // exchanged. A base∪overlay window would instead hash-partition the
    // whole table on k for every merged read.
    val plan = m.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), s"no anti join in:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"anti join not broadcast in:\n$plan")
  }

  test("concurrent delta appends from two writers both land and merge deterministically") {
    val root = tmpRoot("mortwo")
    VersionedTable.publish(Seq((1L, "a")).toDF("k", "v"), root)
    // two appends racing: names are unique (timestamp maxing + token),
    // marker creation is atomic, so both become visible — unlike two
    // racing BASE publishes, where the later name simply wins
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fs = Seq(
        Seq((2L, "w1")).toDF("k", "v"),
        Seq((3L, "w2")).toDF("k", "v")
      ).map(b => pool.submit(new java.util.concurrent.Callable[String] {
        def call(): String = VersionedTable.appendDelta(b, root)
      }))
      val names = fs.map(_.get())
      assert(names.distinct.length === 2)
    } finally pool.shutdown()
    assert(VersionedTable.pendingDeltas(spark, root).length === 2)
    val m = VersionedTable.readCurrentMerged(spark, root, Seq("k"))
      .as[(Long, String)].collect().toMap
    assert(m === Map(1L -> "a", 2L -> "w1", 3L -> "w2"))
  }

  test("segment stamps: vacuumExpiredDeltas drops only fully-expired stamped segments, never unstamped deltas") {
    val root = tmpRoot("segvac")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    VersionedTable.publish(Seq((0L, "base")).toDF("k", "v"), root)
    val dOld = VersionedTable.appendDeltaStamped(
      Seq((1L, "old")).toDF("k", "v"), root, Some(ts("2024-01-01 10:00:00")))
    val dLive = VersionedTable.appendDeltaStamped(
      Seq((2L, "live")).toDF("k", "v"), root, Some(ts("2024-01-01 11:00:00")))
    val dUnstamped = VersionedTable.appendDelta(
      Seq((3L, "unstamped")).toDF("k", "v"), root)
    val dEmpty = VersionedTable.appendDeltaStamped(
      Seq.empty[(Long, String)].toDF("k", "v"), root, None) // empty batch
    assert(VersionedTable.pendingDeltas(spark, root).size === 4)
    val dead = VersionedTable.vacuumExpiredDeltas(spark, root,
      ts("2024-01-01 10:30:00"))
    // dOld fully behind the horizon and dEmpty (MinValue stamp) drop;
    // dLive survives (stamp >= horizon); an unstamped delta belongs to
    // the republish path, which this one must never touch
    assert(dead.toSet === Set(dOld, dEmpty))
    assert(VersionedTable.pendingDeltas(spark, root).toSet
      === Set(dLive, dUnstamped))
    // an exactly-at-horizon stamp is NOT expired (strict inequality,
    // matching the steps' `_ts >= horizon` keep-filter)
    assert(VersionedTable.vacuumExpiredDeltas(spark, root,
      ts("2024-01-01 11:00:00")).isEmpty)
  }

  test("an empty or unparsable commit marker: vacuum and merge skip the segment loudly, reads fall back to inference") {
    val root = tmpRoot("segcorrupt")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def stamped(k: Long, v: String, at: String) =
      VersionedTable.appendDeltaStamped(Seq((k, v)).toDF("k", "v"), root,
        Some(ts(at)))
    def marker(d: String) = java.nio.file.Paths.get(root, s"_ready-$d")
    def crc(d: String) = java.nio.file.Paths.get(root, s"._ready-$d.crc")
    VersionedTable.publish(Seq((0L, "base")).toDF("k", "v"), root)
    val dTorn = stamped(1L, "x", "2024-01-01 10:00:00")
    val dEmpty = stamped(2L, "y", "2024-01-01 10:02:00")
    val dGood = stamped(3L, "z", "2024-01-01 10:05:00")
    // a torn marker: the stale .crc sidecar makes the READ itself throw
    // (checksum mismatch) — the unreadable flavor of the failure
    java.nio.file.Files.write(marker(dTorn), "{\"maxTs\":17040".getBytes)
    // an empty one, as a table written before markers carried a
    // manifest has, or a reader racing the commit sees
    java.nio.file.Files.write(marker(dEmpty), Array.emptyByteArray)
    java.nio.file.Files.deleteIfExists(crc(dEmpty))
    val buf = new java.io.ByteArrayOutputStream()
    val prevErr = System.err
    def loudly[T](body: => T): T =
      try {
        System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
        body
      } finally System.setErr(prevErr)
    // horizon past every stamp: the good segment drops, the two bad
    // ones are treated as unstamped (skipped), and no exception escapes
    val dead = loudly(VersionedTable.vacuumExpiredDeltas(spark, root,
      ts("2024-01-01 12:00:00")))
    assert(dead === Seq(dGood))
    assert(VersionedTable.pendingDeltas(spark, root) === Seq(dTorn, dEmpty))
    Seq(dTorn, dEmpty).foreach { d =>
      assert(buf.toString("UTF-8").contains(s"commit marker") &&
        buf.toString("UTF-8").contains(s"_ready-$d"))
    }
    // the L1 merge folds the stamped segments and leaves the bad ones
    val g1 = stamped(4L, "g1", "2024-01-01 13:00:00")
    val g2 = stamped(5L, "g2", "2024-01-01 13:05:00")
    assert(loudly(VersionedTable.compactSegments(spark, root, 1)) === Seq(g1, g2))
    assert(VersionedTable.pendingDeltas(spark, root).take(2) === Seq(dTorn, dEmpty))
    // readable garbage (checksum sidecar dropped): the parse-failure
    // flavor skips just as non-fatally
    java.nio.file.Files.deleteIfExists(crc(dTorn))
    assert(loudly(VersionedTable.vacuumExpiredDeltas(spark, root,
      ts("2024-01-01 12:00:00"))).isEmpty)
    // reads infer the bad layers' schemas: every row stays readable,
    // through the overlay and from a base whose marker is empty too
    val base = VersionedTable.currentVersion(spark, root).get
    java.nio.file.Files.write(marker(base), Array.emptyByteArray)
    java.nio.file.Files.deleteIfExists(crc(base))
    val merged = loudly(VersionedTable.readCurrentMerged(spark, root, Seq("k")))
    assert(merged.as[(Long, String)].collect().toMap ===
      Map(0L -> "base", 1L -> "x", 2L -> "y", 4L -> "g1", 5L -> "g2"))
    val inferred = spark.read.parquet(s"$root/$base")
    val read = loudly(VersionedTable.readCurrent(spark, root))
    assert(read.schema === inferred.schema && read.collect() === inferred.collect())
    assert(buf.toString("UTF-8").contains(s"_ready-$base"))
  }

  test("segment-mode vacuum sweeps crashed-append orphans once a later write commits") {
    val root = tmpRoot("segorphan")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    VersionedTable.publish(Seq((0L, "base")).toDF("k", "v"), root)
    val d1 = VersionedTable.appendDeltaStamped(
      Seq((1L, "live")).toDF("k", "v"), root, Some(ts("2024-01-01 10:00:00")))
    // simulate a crashed append: parquet (and stamp) written, marker
    // never created — an OLD orphan (ts below the next committed write)
    // and a NEW one (ts above everything committed; could be in flight)
    val oldTs = graft.lake.VersionedTable.listDeltas(spark, root)
      .map(_.stripPrefix("d-").takeWhile(_ != '-').toLong).max
    def fakeOrphan(tsMs: Long, tok: String): String = {
      val name = f"d-$tsMs%013d-$tok"
      Seq((9L, "orphan")).toDF("k", "v").write.parquet(s"$root/$name")
      name
    }
    val orphOld = fakeOrphan(oldTs - 5, "orpho")
    val orphNew = fakeOrphan(oldTs + 1000000, "orphn")
    val swept = VersionedTable.vacuumExpiredDeltas(spark, root,
      ts("2020-01-01 00:00:00")) // horizon expires nothing stamped
    // the old orphan is garbage (a later write committed ⇒ its writer
    // crashed and the batch was replayed); the new one could be an
    // append in flight and must survive
    assert(swept === Seq(orphOld))
    assert(!new java.io.File(s"$root/$orphOld").exists())
    assert(new java.io.File(s"$root/$orphNew").exists())
    assert(VersionedTable.pendingDeltas(spark, root) === Seq(d1))
  }

  test("compactSegments folds the oldest stamped segments into one, stamped max-of-folded") {
    val root = tmpRoot("segcompact")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    VersionedTable.publish(Seq((0L, "base")).toDF("k", "v"), root)
    val stamps = (1 to 5).map(i => ts(f"2024-01-01 10:0$i:00"))
    val names = stamps.zipWithIndex.map { case (s, i) =>
      VersionedTable.appendDeltaStamped(
        Seq((i.toLong + 1, s"seg$i")).toDF("k", "v"), root, Some(s))
    }
    val dUnstamped = VersionedTable.appendDelta(
      Seq((99L, "unstamped")).toDF("k", "v"), root)
    // bound 3: the oldest 3 stamped segments fold into ONE (leaving
    // merged + 2 newest = 3 stamped); the unstamped delta — republish
    // path property — is never touched or counted
    val folded = VersionedTable.compactSegments(spark, root, maxSegments = 3)
    assert(folded === names.take(3))
    val pending = VersionedTable.pendingDeltas(spark, root)
    assert(pending.size === 4) // merged + seg3 + seg4 + unstamped
    assert(pending.contains(dUnstamped))
    names.take(3).foreach(n => assert(!pending.contains(n)))
    // row content is preserved exactly (a row-set overlay: union)
    val rows = spark.read.parquet(
        pending.filterNot(_ == dUnstamped).map(d => s"$root/$d"): _*)
      .as[(Long, String)].collect().toSet
    assert(rows === (0 until 5).map(i => (i.toLong + 1, s"seg$i")).toSet)
    // the merged segment is stamped with the MAX of its constituents:
    // a horizon past stamp 3 (but not 4) must drop it whole
    val deadEarly = VersionedTable.vacuumExpiredDeltas(spark, root,
      ts("2024-01-01 10:03:00"))
    assert(deadEarly.isEmpty, "merged stamp must be max, not min")
    val dead = VersionedTable.vacuumExpiredDeltas(spark, root,
      ts("2024-01-01 10:03:30"))
    assert(dead.size === 1)
    assert(spark.read.parquet(
        VersionedTable.pendingDeltas(spark, root)
          .filterNot(_ == dUnstamped).map(d => s"$root/$d"): _*)
      .as[(Long, String)].collect().toSet
      === Set((4L, "seg3"), (5L, "seg4")))
    // within bound → no-op
    assert(VersionedTable.compactSegments(spark, root, maxSegments = 3).isEmpty)
  }

  test("compactSegments crash window: merged committed but constituents not yet dropped — readers absorb, the next compact converges") {
    // the documented crash discipline: the merged segment COMMITS
    // (marker) before the constituents drop, so a crash between the two
    // leaves duplicate rows across layers. Build exactly that state:
    // segments A,B,C live, PLUS a committed merged twin of A∪B stamped
    // max(A,B) — byte-for-byte what a crash at VersionedTable.scala's
    // drop loop leaves behind.
    val root = tmpRoot("segcrash")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    VersionedTable.publish(Seq((0L, "base")).toDF("k", "v"), root)
    val stamps = (1 to 3).map(i => ts(f"2024-01-01 10:0$i:00"))
    (1 to 3).foreach { i =>
      VersionedTable.appendDeltaStamped(
        Seq((i.toLong, s"seg$i")).toDF("k", "v"), root, Some(stamps(i - 1)))
    }
    VersionedTable.appendDeltaStamped( // the crashed merge's survivor
      Seq((1L, "seg1"), (2L, "seg2")).toDF("k", "v"), root, Some(stamps(1)))
    val expected = Set((0L, "base"), (1L, "seg1"), (2L, "seg2"), (3L, "seg3"))
    def mergedRead(): Set[(Long, String)] = {
      val pending = VersionedTable.pendingDeltas(spark, root)
      VersionedTable.readCurrent(spark, root)
        .unionByName(spark.read.parquet(pending.map(d => s"$root/$d"): _*))
        .distinct() // the row-set overlay fold every reader applies
        .as[(Long, String)].collect().toSet
    }
    // 1. the crash state is correct to read: duplicates absorb
    assert(VersionedTable.pendingDeltas(spark, root).size === 4)
    assert(mergedRead() === expected)
    // 2. the next compact converges rather than compounding: fold to one
    val folded = VersionedTable.compactSegments(spark, root, maxSegments = 1)
    assert(folded.size === 4)
    val pending = VersionedTable.pendingDeltas(spark, root)
    assert(pending.size === 1)
    assert(mergedRead() === expected)
    // physical convergence too: the fold dedups nothing itself (it is a
    // re-package), so the one segment holds A∪B∪C plus the twin's A∪B
    assert(spark.read.parquet(s"$root/${pending.head}").count() === 5)
    // 3. idempotent from here
    assert(VersionedTable.compactSegments(spark, root, maxSegments = 1).isEmpty)
    assert(mergedRead() === expected)
  }

  test("compactSegments refuses the merge, loudly, under a concurrent in-flight append") {
    // single-writer tripwire (r19): an UNMARKED delta dir at least as
    // new as the newest committed write is a second writer's append in
    // flight — merging (which deletes committed segment dirs) under a
    // racing writer is refused and retried next batch
    val root = tmpRoot("segrace")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    VersionedTable.publish(Seq((0L, "base")).toDF("k", "v"), root)
    (1 to 4).foreach { i =>
      VersionedTable.appendDeltaStamped(
        Seq((i.toLong, s"seg$i")).toDF("k", "v"), root,
        Some(ts(f"2024-01-01 10:0$i:00")))
    }
    val newestTs = VersionedTable.listDeltas(spark, root)
      .map(_.stripPrefix("d-").takeWhile(_ != '-').toLong).max
    val inFlight = f"d-${newestTs + 999}%013d-race0"
    Seq((9L, "race")).toDF("k", "v").write.parquet(s"$root/$inFlight")
    // capture the warning via System.err (the refusal prints there,
    // like an unusable marker's warning)
    val buf = new java.io.ByteArrayOutputStream()
    val prevErr = System.err
    val folded =
      try {
        System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
        VersionedTable.compactSegments(spark, root, maxSegments = 2)
      } finally System.setErr(prevErr)
    assert(folded.isEmpty, "merge must be refused under a racing append")
    assert(VersionedTable.pendingDeltas(spark, root).size === 4,
      "a refused merge must leave the backlog untouched")
    val w = buf.toString("UTF-8")
    assert(w.contains("REFUSING segment merge"))
    assert(w.contains(inFlight))
    assert(w.contains("single-writer"))
    // the racing writer finishes (or crashes and is swept): merge folds
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/$inFlight"), true)
    assert(VersionedTable.compactSegments(spark, root, maxSegments = 2)
      .size === 3)
    assert(VersionedTable.pendingDeltas(spark, root).size === 2)
  }

  test("compactSegments merges widened segment schemas instead of dropping late columns") {
    val root = tmpRoot("segwiden")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    VersionedTable.publish(Seq((0L, "base")).toDF("k", "v"), root)
    VersionedTable.appendDeltaStamped(
      Seq((1L, "old")).toDF("k", "v"), root, Some(ts("2024-01-01 10:01:00")))
    VersionedTable.appendDeltaStamped( // widened: a new `score` column
      Seq((2L, "new", 0.5)).toDF("k", "v", "score"), root,
      Some(ts("2024-01-01 10:02:00")))
    val dTail = VersionedTable.appendDeltaStamped(
      Seq((3L, "tail")).toDF("k", "v"), root, Some(ts("2024-01-01 10:03:00")))
    // fold the two oldest (one narrow, one wide) into a single segment
    assert(VersionedTable.compactSegments(spark, root, maxSegments = 2).size === 2)
    val pending = VersionedTable.pendingDeltas(spark, root)
    assert(pending.size === 2) // merged + tail
    val merged = spark.read.option("mergeSchema", "true")
      .parquet(s"$root/${pending.filterNot(_ == dTail).head}")
    assert(merged.columns.toSet === Set("k", "v", "score"),
      "the widened column must survive the fold")
    val byKey = merged.select("k", "score").as[(Long, Option[Double])]
      .collect().toMap
    assert(byKey === Map(1L -> None, 2L -> Some(0.5)))
  }

  test("a legacy plain-parquet dataset at a sink path fails loudly, not silently reset") {
    val root = tmpRoot("legacy")
    Seq((1L, "old-state")).toDF("k", "v").write.parquet(root)
    val e = intercept[IllegalArgumentException] {
      VersionedTable.upsertBatch(spark,
        Seq((2L, "new")).toDF("k", "v"), Seq("k"), root)
    }
    assert(e.getMessage.contains("unversioned data"))
    // the legacy data is untouched
    assert(spark.read.parquet(root).count() === 1)
    // an empty or version-only root still bootstraps normally
    val fresh = tmpRoot("legacy2")
    VersionedTable.upsertBatch(spark,
      Seq((2L, "new")).toDF("k", "v"), Seq("k"), fresh)
    assert(VersionedTable.readCurrent(spark, fresh).count() === 1)
  }

  test("compact and recluster refuse a plain parquet directory with the migration message") {
    import graft.lake.Clustering
    val root = tmpRoot("plain")
    spark.range(100).toDF("k").repartition(4).write.parquet(root)
    def files() = new java.io.File(root).listFiles.toSeq
      .map(f => f.getName -> f.length).sorted
    val before = files()
    val refusals = Seq(
      intercept[IllegalArgumentException] {
        VersionedTable.compact(spark, root, targetFiles = 1)
      },
      intercept[IllegalArgumentException] {
        Clustering.recluster(spark, root, Seq("k"), targetFiles = 1)
      })
    refusals.foreach(e => assert(e.getMessage.contains("unversioned data")))
    assert(files() === before, "a refused rewrite touched the directory")
    assert(spark.read.parquet(root).count() === 100L)
  }

  test("rollbackTo restores a prior version's content and discards pending deltas") {
    val root = tmpRoot("rollback")
    VersionedTable.publish(Seq((1L, "good"), (2L, "good")).toDF("k", "v"), root)
    val goodVersion = VersionedTable.currentVersion(spark, root).get
    VersionedTable.publish(Seq((1L, "bad")).toDF("k", "v"), root)
    VersionedTable.appendDelta(Seq((9L, "pending")).toDF("k", "v"), root)
    val rolled = VersionedTable.rollbackTo(spark, root, goodVersion)
    assert(VersionedTable.currentVersion(spark, root).contains(rolled))
    val cur = VersionedTable.readCurrent(spark, root)
      .as[(Long, String)].collect().toMap
    assert(cur === Map(1L -> "good", 2L -> "good"))
    // the rollback's timestamp dominates the delta: the overlay is gone
    val merged = VersionedTable.readCurrentMerged(spark, root, Seq("k"))
      .as[(Long, String)].collect().toMap
    assert(merged === Map(1L -> "good", 2L -> "good"))
    // the rolled-back-FROM version is still listed (time travel survives)
    assert(VersionedTable.listVersions(spark, root).length === 3)
  }

  test("snapshot group: readers see complete snapshots, never a mix") {
    import graft.lake.SnapshotGroup
    val group = tmpRoot("group")
    val s1 = SnapshotGroup.publishSnapshot(spark, group, Seq(
      "fact" -> Seq((1L, 10L), (2L, 20L)).toDF("k", "amt"),
      "dim" -> Seq((1L, "a"), (2L, "b")).toDF("k", "name")))
    // a member's per-table current advances mid-flight (as during the
    // next group publish) — the GROUP still resolves s1's pins
    VersionedTable.publish(Seq((1L, 99L)).toDF("k", "amt"), s"$group/fact")
    val factPinned = SnapshotGroup.readSnapshot(spark, group, "fact")
      .as[(Long, Long)].collect().toMap
    assert(factPinned === Map(1L -> 10L, 2L -> 20L))
    // commit snapshot 2; newest resolves to it, s1 stays readable
    val s2 = SnapshotGroup.publishSnapshot(spark, group, Seq(
      "fact" -> Seq((1L, 11L)).toDF("k", "amt"),
      "dim" -> Seq((1L, "a2")).toDF("k", "name")))
    assert(SnapshotGroup.listSnapshots(spark, group) === Seq(s1, s2))
    assert(SnapshotGroup.readSnapshot(spark, group, "dim")
      .as[(Long, String)].collect().toMap === Map(1L -> "a2"))
    assert(SnapshotGroup.readSnapshot(spark, group, "dim", Some(s1))
      .as[(Long, String)].collect().toMap === Map(1L -> "a", 2L -> "b"))
    // pins cover exactly the member set
    assert(SnapshotGroup.snapshotTables(spark, group).keySet === Set("fact", "dim"))
    intercept[IllegalArgumentException] {
      SnapshotGroup.readSnapshot(spark, group, "nope")
    }
  }

  test("snapshot group: rollback re-pins without moving data; describe reports pins") {
    import graft.lake.SnapshotGroup
    val group = tmpRoot("grollback")
    val s1 = SnapshotGroup.publishSnapshot(spark, group, Seq(
      "t" -> Seq((1L, "v1")).toDF("k", "v")))
    val s2 = SnapshotGroup.publishSnapshot(spark, group, Seq(
      "t" -> Seq((1L, "v2")).toDF("k", "v")))
    val versionsBefore = VersionedTable.listVersions(spark, s"$group/t")
    val rb = SnapshotGroup.rollbackToSnapshot(spark, group, s1)
    // newest snapshot now reads s1's content — and NO member version
    // was written (pointer flip, not rewrite)
    assert(SnapshotGroup.readSnapshot(spark, group, "t")
      .as[(Long, String)].collect().toMap === Map(1L -> "v1"))
    assert(VersionedTable.listVersions(spark, s"$group/t") === versionsBefore)
    assert(SnapshotGroup.listSnapshots(spark, group) === Seq(s1, s2, rb))
    // describe: 3 snapshots × 1 member, all pins readable, newest current
    val d = SnapshotGroup.describe(spark, group)
      .collect().map(r => (r.getString(0), r.getBoolean(3), r.getBoolean(4)))
    assert(d.length === 3)
    assert(d.count(_._2) === 1 && d.filter(_._2).head._1 === rb)
    assert(d.forall(_._3))
    // rolling back past retention fails loudly (the manifest ages out
    // before its pins — snapshotTables rejects the pruned name)
    (1 to 5).foreach { i =>
      SnapshotGroup.publishSnapshot(spark, group,
        Seq("t" -> Seq((1L, s"v$i")).toDF("k", "v")),
        keepSnapshots = 2, keepVersions = 3)
    }
    val gone = intercept[IllegalArgumentException] {
      SnapshotGroup.rollbackToSnapshot(spark, group, rb)
    }
    assert(gone.getMessage.contains("not a committed snapshot"))
  }

  test("snapshot group: manifest retention prunes, temps invisible, members survive") {
    import graft.lake.SnapshotGroup
    val group = tmpRoot("groupret")
    val names = (1 to 4).map { i =>
      SnapshotGroup.publishSnapshot(spark, group,
        Seq("t" -> Seq((i.toLong, i.toLong)).toDF("k", "v")),
        keepSnapshots = 2, keepVersions = 4)
    }
    val listed = SnapshotGroup.listSnapshots(spark, group)
    assert(listed === names.drop(2))
    // a stray uncommitted temp never lists as a snapshot
    val fs = new org.apache.hadoop.fs.Path(group)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(group, ".g-9999.tmp"), false).close()
    assert(SnapshotGroup.listSnapshots(spark, group) === listed)
    // every RETAINED snapshot's pinned versions are still readable
    listed.foreach { s =>
      assert(SnapshotGroup.readSnapshot(spark, group, "t", Some(s)).count() === 1)
    }
  }
}
