package graft

import graft.ingest.Ingestion
import graft.warehouse.StarSchema
import org.apache.spark.sql.functions._

class WarehouseSpec extends SparkSpec {
  import spark.implicits._

  private lazy val cleaned = Ingestion.clean(Seq(
    (85613L, "MERCER (US) LLC", Some("Ron"), Some("M"), Some("Anderson"), None, None, Some("OTHER")),
    (85613L, "MERCER (US) LLC", Some("Jane"), None, Some("Smith"), Some("JR"), None, Some("CEO")),
    (509748L, "INVESTMENTS PERDOMO LLC", Some("Celso"), Some("Rafael"), Some("Perdomo"), None, None, Some("MANAGING MEMBER")),
    (600100L, "ACME CORP", None, None, None, None, Some("HOLDINGS INC"), Some("OWNER")),
    (600200L, "A VERY LONG BUSINESS NAME FOR SIZE BUCKETING LTD", Some("Ann"), None, Some("Lee"), None, None, Some("WIZARD")))
    .map { case (a, l, f, m, ln, s, e, t) => (a, l, f.orNull, m.orNull, ln.orNull, s.orNull, e.orNull, t.orNull) }
    .toDF("Account Number", "Legal Name", "Owner First Name", "Owner Middle Initial",
      "Owner Last Name", "Suffix", "Legal Entity Owner", "Title"))

  private lazy val wh = StarSchema.loadAll(spark, cleaned)

  test("dimensions classify and dedup correctly") {
    val biz = wh("dim_business").collect()
      .map(r => r.getAs[Long]("account_number") ->
        (r.getAs[String]("business_type"), r.getAs[String]("business_size_category"))).toMap
    assert(biz(85613L)._1 === "LLC")
    assert(biz(600100L)._1 === "Corporation")
    assert(biz(600200L)._1 === "Limited")
    assert(biz(600200L)._2 === "Large")
    assert(wh("dim_owner").count() === 5)
    assert(wh("dim_role").count() === 10)
  }

  test("fact joins every staged row to its dims; unseeded title falls back") {
    val fact = wh("fact_business_ownership").cache()
    assert(fact.count() === 5)
    val wizard = fact.filter(col("title") === "WIZARD").collect().head
    assert(wizard.getAs[String]("role_category") === "Other")
    // exactly one primary owner per business
    val primaries = fact.groupBy("account_number")
      .agg(sum(when(col("is_primary_owner"), 1).otherwise(0)).as("n"))
      .select("n").as[Long].collect()
    assert(primaries.forall(_ === 1))
  }

  test("metrics, demographics, and role distribution are consistent") {
    val m = wh("fact_business_metrics").collect()
      .map(r => r.getAs[Long]("account_number") -> r.getAs[Long]("total_owners")).toMap
    assert(m(85613L) === 2 && m(509748L) === 1)

    val demo = wh("fact_owner_demographics").collect()
    assert(demo.forall(_.getAs[Boolean]("is_unique_name")))
    val ranks = demo.map(_.getAs[Long]("name_frequency_rank")).sorted
    assert(ranks.toSeq === (1L to demo.length.toLong))

    val pct = wh("agg_role_distribution")
      .agg(sum(col("percentage"))).as[Double].collect().head
    assert(math.abs(pct - 100.0) < 0.5)
  }

  test("reporting views: one-call named SQL surface; is_current filter drops stale entities") {
    // Mark one business's fact rows stale: every view must drop the
    // affected entities entirely (the reference's LEFT JOIN … WHERE
    // is_current inner-izes), not zero them.
    val fact = wh("fact_business_ownership")
      .withColumn("is_current", col("account_number") =!= 600100L)
    StarSchema.registerViews(spark, wh + ("fact_business_ownership" -> fact),
      loadTs = "2024-06-01 00:00:00")
    val summary = spark.sql("SELECT * FROM v_business_ownership_summary")
      .collect().map(r => r.getAs[Long]("account_number") -> r).toMap
    assert(summary.size === 3 && !summary.contains(600100L))
    assert(summary(85613L).getAs[Long]("total_owners") === 2)
    assert(summary(85613L).getAs[Long]("individual_owners") === 2)
    assert(summary(85613L).getAs[Long]("leadership_owners") === 1) // CEO, not OTHER
    assert(summary(85613L).getAs[java.time.LocalDateTime]("last_updated")
      .toString.startsWith("2024-06-01"))

    // the corporate owner's only business is the stale one → gone
    assert(spark.sql(
      "SELECT * FROM v_owner_demographics WHERE full_name IS NULL").count() === 0)
    val ann = spark.sql(
      "SELECT * FROM v_owner_demographics WHERE full_name = 'ANN LEE'")
      .collect().head
    assert(ann.getAs[Long]("businesses_owned") === 1)
    assert(ann.getAs[Long]("unique_roles") === 1)
    assert(ann.getAs[Int]("name_length") === 7)
    assert(ann.getAs[Double]("complexity_score") === 0.4)

    val roles = spark.sql("SELECT * FROM v_role_distribution")
      .collect().map(r => r.getAs[String]("title") -> r).toMap
    assert(roles.contains("CEO") && roles.contains("MANAGING MEMBER"))
    assert(!roles.contains("OWNER"))  // held only at the stale business
    assert(!roles.contains("WIZARD")) // unseeded: counts under OTHER
    // OTHER fallback: Ron (seeded OTHER) + Ann (unseeded WIZARD) both
    // count under the OTHER dim_role row — same as the fact's fallback.
    assert(roles("OTHER").getAs[Long]("total_owners") === 2)
    assert(roles("OTHER").getAs[Long]("total_businesses") === 2)
    assert(math.abs(
      roles.values.map(_.getAs[Double]("percentage")).sum - 100.0) < 0.5)

    // without an is_current column the whole load is current by default
    StarSchema.registerViews(spark, wh)
    assert(spark.sql("SELECT * FROM v_business_ownership_summary").count() === 4)
  }

  test("ownership joins degrade to shuffled joins when dims can't broadcast") {
    // Simulate "dimensions outgrew the broadcast threshold" (the 100 TB
    // failure mode a forced broadcast hint would hide): with broadcasts
    // disabled, the owner/business joins must plan as shuffled
    // hash/sort-merge joins; only the hinted 10-row role seed broadcasts.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      // limit() gives a distinct logical plan so the earlier test's
      // cached fact (planned with broadcasts enabled) is not reused.
      val staged = cleaned.limit(5)
      val fact = StarSchema.factOwnership(staged, StarSchema.dimBusiness(staged),
        StarSchema.dimOwner(staged), StarSchema.dimRole(spark))
      assert(fact.count() === 5) // still correct under the degraded plan
      val p = fact.queryExecution.executedPlan.toString
        .split("== Initial Plan").head // AQE prints final plan first
      val nBroadcast = "BroadcastHashJoin".r.findAllMatchIn(p).length
      assert(nBroadcast <= 1, s"unhinted dim join still broadcasts:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("demographics rank avoids a single-partition window over the names") {
    val demo = StarSchema.factOwnerDemographics(StarSchema.dimOwner(cleaned))
    val p = demo.queryExecution.executedPlan.toString
    // the two-phase ranking's signature: partition-local row numbers
    // over _pid on the materialized range-partitioned relation — never
    // a single-partition window over the full name frame
    assert(p.contains("windowspecdefinition(_pid"))
  }

  test("daily business aggregate rolls up counts and exact average") {
    val row = wh("agg_daily_business").collect().head
    assert(row.getAs[Long]("total_businesses") === 4)
    assert(row.getAs[Long]("new_businesses") === 0) // no creation predicate given
    assert(row.getAs[Long]("multi_owner_businesses") === 1)  // MERCER has 2 owners
    assert(row.getAs[Long]("single_owner_businesses") === 3)
    assert(row.getAs[Double]("avg_owners_per_business") === 1.25) // 5 owners / 4
    assert(row.getAs[java.sql.Date]("date_id").toString === "2024-01-01")
  }

  test("daily owner aggregate splits individual/corporate and picks the top role") {
    val row = wh("agg_daily_owners").collect().head
    assert(row.getAs[Long]("total_owners") === 5)
    assert(row.getAs[Long]("individual_owners") === 4)
    assert(row.getAs[Long]("corporate_owners") === 1) // ACME's HOLDINGS INC
    assert(row.getAs[Long]("unique_owners") === 4)    // corporate rows carry no full name
    // all five titles tie at one fact row — deterministic tiebreak on title
    assert(row.getAs[String]("most_common_role") === "CEO")
  }

  test("multi-day accumulation: re-loading a date REPLACES its row; persisted fold is idempotent") {
    val dimR = StarSchema.dimRole(spark)
    def day(df: org.apache.spark.sql.DataFrame, dateId: String) = {
      val b = StarSchema.dimBusiness(df)
      val o = StarSchema.dimOwner(df)
      val f = StarSchema.factOwnership(df, b, o, dimR)
      StarSchema.aggDailyBusiness(b, StarSchema.factBusinessMetrics(f), dateId)
    }
    val day1 = cleaned.filter(col("Account Number").isin(85613L, 509748L))
    val day2Stale = cleaned.filter(col("Account Number") === 600100L)
    val day2Fix = cleaned.filter(col("Account Number").isin(600100L, 600200L))
    // out-of-order corrected re-run of day 2: its stale row must be
    // REPLACED (the reference's ON CONFLICT DO UPDATE), day 1 untouched
    val acc = StarSchema.accumulateDaily(Seq(
      day(day1, "2024-01-01"), day(day2Stale, "2024-01-02"),
      day(day2Fix, "2024-01-02")))
    val rows = acc.collect()
      .map(r => r.getAs[java.sql.Date]("date_id").toString ->
        r.getAs[Long]("total_businesses")).toMap
    assert(rows === Map("2024-01-01" -> 2L, "2024-01-02" -> 2L))
    assert(acc.count() === 2) // one row per date, stale row gone

    // persisted operating mode: write the accumulated table, re-load
    // the SAME day from disk state — the fold is idempotent (no growth,
    // values unchanged)
    val path = java.nio.file.Files.createTempDirectory("graft_aggacc").toString + "/agg"
    acc.write.parquet(path)
    val reloaded = StarSchema.accumulateDaily(Seq(
      spark.read.parquet(path), day(day2Fix, "2024-01-02")))
    assert(reloaded.count() === 2)
    assert(reloaded.collect().map(r =>
        (r.getAs[java.sql.Date]("date_id").toString,
          r.getAs[Long]("total_businesses"),
          r.getAs[Double]("avg_owners_per_business"))).sorted.toSeq
      === acc.collect().map(r =>
        (r.getAs[java.sql.Date]("date_id").toString,
          r.getAs[Long]("total_businesses"),
          r.getAs[Double]("avg_owners_per_business"))).sorted.toSeq)
  }

  test("integrity check passes on a consistent load") {
    val verdict = wh("integrity").collect().head
    assert(verdict.getAs[Boolean]("passed"))
    assert(verdict.getAs[Long]("orphaned_business_fk") === 0L)
  }

  test("integrity check counts planted orphans, lazily and over published tables") {
    // three bad fact rows: an unknown business, an unknown owner, and a
    // NULL owner FK (no dimension row can match a NULL key)
    val fact = wh("fact_business_ownership")
    val one = fact.orderBy("owner_id", "title").limit(1)
    val planted = fact
      .union(one.withColumn("business_id", lit(-1L)))
      .union(one.withColumn("owner_id", lit(-2L)))
      .union(one.withColumn("owner_id", lit(null).cast("long")))
    def verdict(gate: org.apache.spark.sql.DataFrame) = {
      val r = gate.collect().head
      (r.getAs[Long]("orphaned_business_fk"), r.getAs[Long]("orphaned_owner_fk"),
        r.getAs[Boolean]("passed"))
    }
    val dimB = wh("dim_business")
    val dimO = wh("dim_owner")
    val lazyGate = StarSchema.derived(wh + ("fact_business_ownership" -> planted))
    assert(verdict(lazyGate("integrity")) === ((1L, 2L, false)))
    // duplicate dimension keys cannot inflate an orphan count
    assert(verdict(StarSchema.integrityCheck(spark, planted,
      dimB.union(dimB), dimO.union(dimO))) === ((1L, 2L, false)))

    // the same tables published and read back with their marker schema
    val root = java.nio.file.Files.createTempDirectory("graft_gate").toString
    def published(df: org.apache.spark.sql.DataFrame, t: String) = {
      graft.lake.VersionedTable.publish(df, s"$root/$t")
      graft.lake.VersionedTable.readCurrent(spark, s"$root/$t")
    }
    val stored = StarSchema.derived(wh ++ Map(
      "dim_business" -> published(dimB, "dim_business"),
      "dim_owner" -> published(dimO, "dim_owner"),
      "fact_business_ownership" -> published(planted, "fact")))
    assert(verdict(stored("integrity")) === ((1L, 2L, false)))
    assert(stored("integrity").columns.toSeq ===
      Seq("orphaned_business_fk", "orphaned_owner_fk", "passed"))

    // the gate is lazy: building it over a fact that fails when read
    // runs nothing; only reading the verdict does
    val poisoned = planted.withColumn("business_id",
      when(col("business_id") === -1L, raise_error(lit("fact was read")))
        .otherwise(col("business_id")))
    val gate = StarSchema.integrityCheck(spark, poisoned, dimB, dimO)
    assert(intercept[Exception](gate.collect()).getMessage
      .contains("fact was read"))
  }

  test("dim_date generates correct calendar attributes") {
    val dd = StarSchema.dimDate(spark, "2024-02-01", "2024-03-01")
    assert(dd.count() === 30)
    val leap = dd.filter(col("date_id") === to_date(lit("2024-02-29"))).collect().head
    assert(leap.getAs[Int]("day_of_week") === 5) // Thursday (Sunday=1)
    assert(leap.getAs[String]("day_name") === "Thursday")
    assert(!leap.getAs[Boolean]("is_weekend"))
  }

  test("SCD2 collapses an observation log into change intervals") {
    // key 1: A,A,B,A — re-appearing state A must open a NEW version
    // key 2: single observation — one open-ended current version
    val log = Seq(
      (1L, 10, "A"), (1L, 20, "A"), (1L, 30, "B"), (1L, 40, "A"),
      (2L, 15, "X"))
      .toDF("k", "ts", "attr").withColumn("seq", col("ts"))
    val v = graft.warehouse.Scd.buildType2(log, Seq("k"), Seq("attr"), "ts", "seq")
      .select("k", "attr", "valid_from", "valid_to", "is_current")
      .as[(Long, String, Int, Option[Int], Boolean)].collect().toSet
    assert(v === Set(
      (1L, "A", 10, Some(30), false),
      (1L, "B", 30, Some(40), false),
      (1L, "A", 40, None, true),
      (2L, "X", 15, None, true)))
  }

  test("SCD2 last-write-wins within an instant and null-safe attr compare") {
    val log = Seq(
      // two writes at ts=10: seq 2 wins -> state "B"
      (1L, 10, Some("A"), 1L), (1L, 10, Some("B"), 2L),
      // B -> null is a change; null -> null is not; null -> C is
      (1L, 20, None, 3L), (1L, 30, None, 4L), (1L, 40, Some("C"), 5L))
      .toDF("k", "ts", "attr", "seq")
    val v = graft.warehouse.Scd.buildType2(log, Seq("k"), Seq("attr"), "ts", "seq")
      .select("k", "attr", "valid_from", "valid_to")
      .as[(Long, Option[String], Int, Option[Int])].collect().toSet
    assert(v === Set(
      (1L, Some("B"), 10, Some(20)),
      (1L, None, 20, Some(40)),
      (1L, Some("C"), 40, None)))
  }

  test("SCD2 versions build on one exchange: both windows reuse the key shuffle") {
    val df = graft.warehouse.Scd.buildType2(
      graft.core.Tables.orders(spark, sfDir),
      Seq("o_custkey"), Seq("o_orderpriority"), "o_orderdate", "o_orderkey")
    val p = df.queryExecution.executedPlan.toString
    assert(p.split("Exchange hashpartitioning").length - 1 === 1, p)
  }
}
