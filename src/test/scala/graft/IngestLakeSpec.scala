package graft

import graft.ingest.Ingestion
import graft.lake.LakeStorage
import org.apache.spark.sql.functions._
import java.nio.file.Files

class IngestLakeSpec extends SparkSpec {
  import spark.implicits._

  private def fixtureCsv(): String = {
    val dir = Files.createTempDirectory("graft_ingest").toString
    val csv =
      """Account Number,Legal Name,Owner First Name,Owner Middle Initial,Owner Last Name,Suffix,Legal Entity Owner,Title
        |85613,"MERCER (US) LLC",Ron,M,Anderson,,,OTHER
        |85613,"MERCER (US) LLC",Jane,,Smith,JR,,CEO
        |509748,"investments perdomo llc",celso,rafael,perdomo,,,MANAGING MEMBER
        |600100,"ACME CORP",,,,,HOLDINGS INC,OWNER
        |600101,"  padded name co  ", null ,N/A,NULL,,,manager
        |600102,EMPTY OWNER CO,,,,,,PRESIDENT
        |""".stripMargin
    Files.writeString(java.nio.file.Paths.get(dir, "owners.csv"), csv)
    s"$dir/owners.csv"
  }

  test("CSV read normalizes NA sentinels; clean derives the three columns") {
    val df = Ingestion.readCsv(spark, fixtureCsv())
    assert(df.count() === 6)
    val cleaned = Ingestion.clean(df).cache()

    val byKey = cleaned.collect().map(r =>
      (r.getAs[Long]("Account Number"), r.getAs[String]("Owner First Name"),
       r.getAs[String]("Owner Full Name"), r.getAs[Boolean]("Is Individual Owner"),
       r.getAs[Boolean]("Has Multiple Owners"))).toSeq

    // multi-owner account flagged on both rows
    assert(byKey.filter(_._1 == 85613).forall(_._5))
    assert(byKey.filter(_._1 == 509748).forall(!_._5))
    // full name skips null parts, uppercased
    assert(byKey.find(_._2 == "RON").get._3 === "RON M ANDERSON")
    assert(byKey.find(_._2 == "JANE").get._3 === "JANE SMITH JR")
    // corporate owner: null name parts → null full name, not individual
    val corp = byKey.find(_._1 == 600100).get
    assert(corp._3 === null && !corp._4)
    // NA sentinels (' null ', 'N/A', 'NULL') became null → all-null name
    val padded = byKey.find(_._1 == 600101).get
    assert(padded._3 === null && padded._4)
  }

  test("audited CSV read quarantines malformed rows instead of crashing or dropping") {
    val dir = Files.createTempDirectory("graft_bad").toString
    val csv =
      """Account Number,Legal Name,Owner First Name,Owner Middle Initial,Owner Last Name,Suffix,Legal Entity Owner,Title
        |85613,"GOOD ROW LLC",Ron,M,Anderson,,,OTHER
        |not_a_number,"BAD KEY CO",Amy,,Lee,,,CEO
        |600100,"ALSO FINE CORP",,,,,HOLDINGS INC,OWNER
        |""".stripMargin
    Files.writeString(java.nio.file.Paths.get(dir, "mixed.csv"), csv)
    val audited = Ingestion.readCsvAudited(spark, s"$dir/mixed.csv")
    try {
      // badRows first and WITHOUT a caller-side cache: it must be
      // self-sufficient (Spark rejects corrupt-column-only CSV scans;
      // badRows carries its own cache)
      val bad = Ingestion.badRows(audited).as[String].collect()
      assert(bad.length === 1 && bad.head.startsWith("not_a_number"))
      val good = Ingestion.goodRows(audited)
      assert(good.count() === 2)
      assert(good.columns.toSeq === Ingestion.schema.fieldNames.toSeq)
      assert(good.select("Account Number").as[Long].collect().sorted
        === Array(85613L, 600100L))
    } finally audited.unpersist()
  }

  test("writeQuarantine writes the audit file and releases its cache") {
    val dir = Files.createTempDirectory("graft_bad2").toString
    val csv =
      """Account Number,Legal Name,Owner First Name,Owner Middle Initial,Owner Last Name,Suffix,Legal Entity Owner,Title
        |85613,"GOOD ROW LLC",Ron,M,Anderson,,,OTHER
        |oops,"BAD KEY CO",Amy,,Lee,,,CEO
        |""".stripMargin
    Files.writeString(java.nio.file.Paths.get(dir, "mixed.csv"), csv)
    val audited = Ingestion.readCsvAudited(spark, s"$dir/mixed.csv")
    val n = Ingestion.writeQuarantine(audited, s"$dir/quarantine")
    assert(n === 1)
    assert(spark.read.text(s"$dir/quarantine").count() === 1)
    // the scoped form must not leave the parse pinned in storage memory
    assert(audited.storageLevel === org.apache.spark.storage.StorageLevel.NONE)
  }

  test("quality profile reports counts, nulls, completeness") {
    val prof = Ingestion.qualityProfile(Ingestion.readCsv(spark, fixtureCsv()))
      .collect().head
    assert(prof.getAs[Long]("total_records") === 6)
    assert(prof.getAs[Long]("unique_businesses") === 5)
    assert(prof.getAs[Long]("Owner First Name nulls") === 3)
    assert(prof.getAs[Long]("duplicate_rows") === 0)
  }

  test("schema-evolution read merges old and new partition schemas") {
    val root = Files.createTempDirectory("graft_evo").toString
    LakeStorage.write(Seq((1L, "a")).toDF("id", "v"),
      root, "processed", "evo", "20240101")
    // a later pipeline version adds a column
    LakeStorage.write(Seq((2L, "b", 9.5)).toDF("id", "v", "score"),
      root, "processed", "evo", "20240102")
    val merged = LakeStorage.readMerged(spark, root, "processed", "evo")
    assert(merged.columns.toSet === Set("id", "v", "score", "date"))
    val byId = merged.select("id", "score").as[(Long, Option[Double])]
      .collect().toMap
    assert(byId === Map(1L -> None, 2L -> Some(9.5))) // old partition → null
  }

  test("bucketed tables join with zero shuffle on either side") {
    // external tables (explicit path) — the warehouse dir is never used
    val root = Files.createTempDirectory("graft_bucket").toString
    val facts = (1 to 100).map(i => (i.toLong, i * 2.0)).toDF("k", "x")
    val dims = (1 to 100).map(i => (i.toLong, s"d$i")).toDF("k", "d")
    LakeStorage.writeBucketed(facts, "b_facts", s"$root/b_facts", "k", 4)
    LakeStorage.writeBucketed(dims, "b_dims", s"$root/b_dims", "k", 4)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_facts").join(spark.table("b_dims"), "k")
      assert(joined.count() === 100)
      val p = joined.queryExecution.executedPlan.toString
      // co-located buckets: no Exchange anywhere in the join plan
      assert(!p.contains("Exchange hashpartitioning"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS b_facts")
      spark.sql("DROP TABLE IF EXISTS b_dims")
    }
  }

  test("lake write/read round-trips with partition pruning and retention") {
    val root = Files.createTempDirectory("graft_lake").toString
    val d1 = Seq((1, "a")).toDF("k", "v")
    val d2 = Seq((2, "b")).toDF("k", "v")
    LakeStorage.write(d1, root, "processed", "t", "20240101")
    LakeStorage.write(d2, root, "processed", "t", "20240315")
    assert(LakeStorage.listPartitions(spark, root, "processed", "t")
      === Seq("20240101", "20240315"))
    assert(LakeStorage.latestPartition(spark, root, "processed", "t")
      === Some("20240315"))
    val latest = LakeStorage.readLatest(spark, root, "processed", "t")
    assert(latest.select("k").as[Int].collect().toSeq === Seq(2))
    // pruning: the plan must read only one of the two partitions
    val scanned = latest.queryExecution.executedPlan.toString
    assert(!scanned.contains("20240101") || scanned.contains("PartitionFilters"))

    val dropped = LakeStorage.applyRetention(spark, root, "processed", "t",
      keepDays = 30, asOf = "20240320")
    assert(dropped === Seq("20240101"))
    assert(LakeStorage.listPartitions(spark, root, "processed", "t")
      === Seq("20240315"))
  }

  test("snapshotDiff labels added/removed/changed/unchanged by content fingerprint") {
    import spark.implicits._
    val old = Seq((1L, "alpha text"), (2L, "beta text"), (3L, "gamma text"))
      .toDF("doc_id", "text")
    val nw = Seq((2L, "beta text"), (3L, "gamma REVISED"), (4L, "delta text"))
      .toDF("doc_id", "text")
    val d = LakeStorage.snapshotDiff(old, nw, "doc_id", "text")
      .select("doc_id", "status")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d === Map(1L -> "removed", 2L -> "unchanged", 3L -> "changed",
      4L -> "added"))
    // fingerprint = canonical form: whitespace/case churn is NOT a change
    val nwWs = Seq((2L, "  BETA   text "), (3L, "gamma text")).toDF("doc_id", "text")
    val d2 = LakeStorage.snapshotDiff(old.filter($"doc_id" > 1), nwWs, "doc_id", "text")
      .select("doc_id", "status")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d2 === Map(2L -> "unchanged", 3L -> "unchanged"))
  }

  test("keyedDiff compares every non-key column null-safely") {
    import spark.implicits._
    val old = Seq((1L, Some("a"), Some(1.0)), (2L, Some("b"), Some(2.0)),
      (3L, Some("c"), None), (5L, None, Some(5.0)))
      .toDF("k", "s", "v")
    val nw = Seq((2L, Some("b"), Some(2.0)),   // identical → unchanged
      (3L, Some("c"), Some(3.0)),              // null → value: changed
      (4L, Some("d"), Some(4.0)),              // new key: added
      (5L, None, Some(5.0)))                   // null == null: unchanged
      .toDF("k", "s", "v")
    val d = LakeStorage.keyedDiff(old, nw, Seq("k"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d === Map(1L -> "removed", 2L -> "unchanged", 3L -> "changed",
      4L -> "added", 5L -> "unchanged"))
    // schema mismatch is refused loudly
    intercept[IllegalArgumentException] {
      LakeStorage.keyedDiff(old, nw.drop("v"), Seq("k"))
    }
  }

  test("changeFeed is churn-only and applyChanges round-trips to the new snapshot") {
    import spark.implicits._
    val old = Seq((1L, "alpha", "s1"), (2L, "beta", "s1"), (3L, "gamma", "s2"))
      .toDF("doc_id", "text", "src")
    val nw = Seq((2L, "beta", "s1"), (3L, "gamma REVISED", "s2"),
      (4L, "delta", "s2")).toDF("doc_id", "text", "src")
    val feed = LakeStorage.changeFeed(old, nw, "doc_id", "text")
    // feed ∝ churn: one removed (bare key), one changed, one added —
    // the unchanged row never appears
    val ops = feed.select("doc_id", "op").as[(Long, String)].collect().toMap
    assert(ops === Map(1L -> "removed", 3L -> "changed", 4L -> "added"))
    assert(feed.where($"op" === "removed").select("text").as[Option[String]]
      .collect() === Seq(None))
    // round-trip law: apply(old, feed(old, new)) ≡ new, row for row
    val applied = LakeStorage.applyChanges(old, feed, "doc_id")
    assert(applied.orderBy("doc_id").collect().toSeq ===
      nw.orderBy("doc_id").collect().toSeq)
    // idempotent: re-applying the same feed changes nothing
    val again = LakeStorage.applyChanges(applied, feed, "doc_id")
    assert(again.orderBy("doc_id").collect().toSeq ===
      nw.orderBy("doc_id").collect().toSeq)
  }

  test("audited JSONL read parses good lines and quarantines malformed ones") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_jsonl").toString
    val p = java.nio.file.Paths.get(dir, "docs.jsonl")
    Files.writeString(p, Seq(
      """{"doc_id": 1, "text": "hello world"}""",
      """{"doc_id": 2, "text": "second doc", "extra": "ignored"}""",
      """not json at all""",
      """{"doc_id": "notanumber", "text": 5}""").mkString("\n"))
    val docSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val audited = Ingestion.readJsonlAudited(spark, p.toString, docSchema).cache()
    val good = Ingestion.goodJsonRows(audited)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(good === Set((1L, "hello world"), (2L, "second doc")))
    val bad = Ingestion.badRows(audited)
      .select(Ingestion.corruptCol).as[String](spark.implicits.newStringEncoder)
      .collect().toSet
    assert(bad.exists(_.contains("not json")))
    assert(bad.exists(_.contains("notanumber")))
    audited.unpersist()
  }

  test("expectations count all constraint violations in one aggregation pass") {
    import spark.implicits._
    import graft.ingest.Expectations._
    val df = Seq(
      (1L, Some("a"), 5.0, Some("X")),
      (1L, Some("b"), -2.0, Some("Y")),   // dup key, below range
      (2L, None, 50.0, Some("Z")),        // null name, out of set
      (3L, Some("c"), 11.0, None))        // above range, null segment (passes set)
      .toDF("k", "name", "bal", "seg")
    val out = violations(df, Seq(
        NotNull("name"), Unique(Seq("k")), InRange("bal", 0.0, 10.0),
        InSet("seg", Seq("X", "Y")),
        Satisfies("positive_bal", col("bal") > 0)))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out("not_null(name)") === ((1L, false)))
    assert(out("unique(k)") === ((1L, false)))
    assert(out("in_range(bal,0.0,10.0)") === ((3L, false))) // −2, 50, 11
    assert(out("in_set(seg)") === ((1L, false)))
    assert(out("satisfies(positive_bal)") === ((1L, false)))
    // a clean frame passes everything
    val clean = violations(df.filter($"k" === 1L && $"bal" > 0),
      Seq(NotNull("name"), Unique(Seq("k", "name"))))
      .collect().map(r => r.getString(0) -> r.getBoolean(2)).toMap
    assert(clean.values.forall(identity))
  }

  test("incrementalAggRefresh carries untouched groups verbatim, recomputes touched ones") {
    import spark.implicits._
    val old = Seq((1L, "a b", "A"), (2L, "c d", "A"), (3L, "e f", "B"))
      .toDF("doc_id", "text", "source")
    val nw = Seq((1L, "a b", "A"), (2L, "c d", "A"),
      (3L, "e f CHANGED", "B"), (4L, "g h i", "B"))
      .toDF("doc_id", "text", "source")
    val aggFn = (d: org.apache.spark.sql.DataFrame) => d.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(trim(col("text")), " ")).cast("long")).as("total_tokens"))
    // poison source A's STORED row: if the refresh recomputed untouched
    // groups it would "fix" this — carrying it proves incrementality
    val stored = aggFn(old).withColumn("n_docs",
      when(col("source") === "A", lit(999L)).otherwise(col("n_docs")))
    val out = LakeStorage.incrementalAggRefresh(old, nw, "doc_id", "text",
        "source", stored, aggFn)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out("A") === ((999L, 4L)))  // carried verbatim, poison intact
    assert(out("B") === ((2L, 6L)))    // recomputed from the new snapshot
  }

  test("incrementalAggRefresh re-aggregates BOTH groups when a row moves groups unchanged") {
    import spark.implicits._
    // doc 2 moves A → B with IDENTICAL text: a fingerprint-only diff
    // calls it "unchanged" and neither group would refresh — A would
    // keep counting it, B would never see it
    val old = Seq((1L, "a b", "A"), (2L, "c d", "A"), (3L, "e f", "B"))
      .toDF("doc_id", "text", "source")
    val nw = Seq((1L, "a b", "A"), (2L, "c d", "B"), (3L, "e f", "B"))
      .toDF("doc_id", "text", "source")
    val aggFn = (d: org.apache.spark.sql.DataFrame) => d.groupBy("source")
      .agg(count(lit(1)).as("n_docs"))
    val out = LakeStorage.incrementalAggRefresh(old, nw, "doc_id", "text",
        "source", aggFn(old), aggFn)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = aggFn(nw)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === full) // incremental ≡ full recompute: A=1, B=2
    assert(out === Map("A" -> 1L, "B" -> 2L))
  }

  test("ingest pipeline end-to-end writes parquet and quality JSON") {
    val out = Files.createTempDirectory("graft_pipe").toString
    val processed = Ingestion.run(spark, fixtureCsv(), out)
    assert(processed.count() === 6)
    assert(processed.columns.contains("Owner Full Name"))
    val report = spark.read.json(s"$out/quality_report")
    assert(report.count() === 1)
  }
}
