package graft

import graft.analytics.Report
import graft.core.Tables
import graft.ingest.Ingestion
import graft.lake.{LakeStorage, VersionedTable}
import graft.operators.{Packing, Sampling}
import graft.serve.QueryService
import graft.textops.Curation
import graft.warehouse.StarSchema
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The reference's full batch lifecycle (SURVEY §3.1 + §3.3) end-to-end:
  * CSV → ingest/clean → lake layers → analytics report → star-schema
  * warehouse → integrity gate → serve-layer queries.
  */
class EndToEndSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  test("full pipeline: csv -> lake -> report -> warehouse -> serve") {
    val work = Files.createTempDirectory("graft_e2e").toString
    val csv =
      """Account Number,Legal Name,Owner First Name,Owner Middle Initial,Owner Last Name,Suffix,Legal Entity Owner,Title
        |1001,ALPHA LLC,Amy,,Stone,,,CEO
        |1001,ALPHA LLC,Bob,J,Stone,,,MEMBER
        |1002,BETA CORP,,,,,GAMMA HOLDINGS INC,OWNER
        |1003,DELTA LTD,Cara,,Reyes,,,MANAGER
        |1004,EPSILON LLC,Dan,,Ng,,,PRESIDENT
        |""".stripMargin
    val csvPath = s"$work/owners.csv"
    Files.writeString(java.nio.file.Paths.get(csvPath), csv)

    // 1. ingest + clean
    val cleaned = Ingestion.clean(Ingestion.readCsv(spark, csvPath))

    // 2. lake: processed layer, dated partition; read back via pruning
    LakeStorage.write(cleaned, work + "/lake", "processed", "owners", "20240801")
    val fromLake = LakeStorage.readLatest(spark, work + "/lake", "processed", "owners")
    assert(fromLake.count() === 5)

    // 3. analytics report to the analytics layer
    val report = Report.comprehensiveReport(fromLake.drop("date"))
    Report.writeJson(report, work + "/lake/analytics/demographics")
    val back = spark.read.json(work + "/lake/analytics/demographics")
    assert(back.count() === 1)
    val row = back.select(
      col("ownership_patterns.total_businesses"),
      col("business_names.llc_count"),
      col("diversity.last_name_entropy")).collect().head
    assert(row.getLong(0) === 4)
    // row-grain count: ALPHA LLC contributes 2 rows + EPSILON LLC
    assert(row.getLong(1) === 3)
    assert(row.getDouble(2) > 0.0)

    // 4. warehouse load + integrity gate
    val wh = StarSchema.loadAll(spark, fromLake.drop("date"))
    assert(wh("integrity").collect().head.getAs[Boolean]("passed"))
    assert(wh("fact_business_ownership").count() === 5)

    // 5. serve layer: search + detail + pagination over the lake table
    val hits = QueryService.search(fromLake, "Legal Name", "llc")
    assert(hits.select(countDistinct(col("Account Number"))).as[Long].head() === 2)
    val detail = QueryService.groupCollect(
      fromLake.drop("date"), "Account Number",
      Seq("Legal Name"), Seq("Owner Full Name", "Title"))
    val alpha = detail.filter(col("Account Number") === 1001).collect().head
    assert(alpha.getAs[Seq[String]]("Owner Full Name_list")
      === Seq("AMY STONE", "BOB J STONE"))
    val page = QueryService.paginate(detail, Seq("Account Number"), 0, 2)
    assert(page.count() === 2)
  }

  test("Pipeline.runFull: the reference CLI lifecycle from one call") {
    val work = Files.createTempDirectory("graft_cli").toString
    val csv =
      """Account Number,Legal Name,Owner First Name,Owner Middle Initial,Owner Last Name,Suffix,Legal Entity Owner,Title
        |1001,ALPHA LLC,Amy,,Stone,,,CEO
        |1001,ALPHA LLC,Bob,J,Stone,,,MEMBER
        |1002,BETA CORP,,,,,GAMMA HOLDINGS INC,OWNER
        |1003,DELTA LTD,Cara,,Reyes,,,MANAGER
        |1004,EPSILON LLC,Dan,,Ng,,N/A,PRESIDENT
        |""".stripMargin
    val csvPath = s"$work/owners.csv"
    Files.writeString(java.nio.file.Paths.get(csvPath), csv)

    val res = Pipeline.runFull(spark, csvPath, s"$work/lake",
      dateId = "2024-08-01")

    // integrity verdict: every fact row resolved both dimensions
    assert(res.integrityPassed)
    assert(res.warehouse("fact_business_ownership").count() === 5)

    // quality report: written JSON carries the profile counts
    // (the N/A sentinel parsed to null, so Legal Entity Owner has
    // exactly one real value)
    val quality = spark.read.json(res.paths("quality_report"))
      .collect().head
    assert(quality.getAs[Long]("total_records") === 5)
    assert(quality.getAs[Long]("unique_businesses") === 4)
    assert(quality.getAs[Long]("duplicate_rows") === 0)
    assert(quality.getAs[Long]("Legal Entity Owner nulls") === 4)

    // analytics report landed in the analytics layer
    val analytics = spark.read.json(res.paths("analytics"))
    assert(analytics.select(col("ownership_patterns.total_businesses"))
      .collect().head.getLong(0) === 4)

    // aggregated datasets: read back from the lake like a consumer
    val roles = LakeStorage
      .readLatest(spark, s"$work/lake", "aggregated", "role_distribution")
      .collect().map(r => r.getAs[String]("Title") -> r.getAs[Long]("cnt"))
      .toMap
    assert(roles === Map("CEO" -> 1L, "MEMBER" -> 1L, "OWNER" -> 1L,
      "MANAGER" -> 1L, "PRESIDENT" -> 1L))
    val alpha = res.aggregations("ownership_summary")
      .filter(col("Account Number") === 1001L).collect().head
    assert(alpha.getAs[Seq[String]]("owner_names")
      === Seq("AMY STONE", "BOB J STONE"))
    assert(alpha.getAs[Boolean]("has_multiple_owners"))

    // the reporting views registered: named SQL works immediately
    val dist = spark.sql(
      "SELECT title, total_owners FROM v_role_distribution").collect()
    assert(dist.nonEmpty)
    assert(dist.map(_.getAs[Long]("total_owners")).sum === 5)

    // the star's core is published once under <lakeRoot>/warehouse/,
    // and the views read it: no scan of the processed layer, and no
    // Window — the primary-owner flag was computed at publish time
    val tables = Seq("dim_business", "dim_owner", "fact_business_ownership")
    tables.foreach { t =>
      assert(res.paths(t) === s"$work/lake/warehouse/$t")
      assert(VersionedTable.listVersions(spark, res.paths(t)).size === 1)
    }
    val viewNames = Seq("v_role_distribution", "v_business_ownership_summary")
    def viewRows(): Map[String, Set[Row]] = viewNames.map(v =>
      v -> spark.sql(s"SELECT * FROM $v").collect().toSet).toMap
    val published = viewRows()
    viewNames.foreach { v =>
      val q = spark.sql(s"SELECT * FROM $v")
      q.collect()
      val plan = q.queryExecution.executedPlan
      val roots = collectWithSubqueries(plan) {
        case f: FileSourceScanExec => f.relation.location.rootPaths.map(_.toString)
      }.flatten
      assert(roots.exists(_.contains("/warehouse/fact_business_ownership/")), roots)
      assert(roots.forall(_.contains("/warehouse/")), roots)
      assert(!roots.exists(_.contains("processed/business_owners")), roots)
      assert(collectWithSubqueries(plan) { case w: WindowExec => w }.isEmpty,
        s"$v plans a Window:\n$plan")
    }

    // re-run of the same date is idempotent: dynamic partition
    // overwrite replaces the partition instead of duplicating it, and
    // each warehouse table gets a new version with the same view rows
    val res2 = Pipeline.runFull(spark, csvPath, s"$work/lake",
      dateId = "2024-08-01")
    assert(res2.integrityPassed)
    assert(res2.cleaned.count() === 5)
    assert(LakeStorage
      .readLatest(spark, s"$work/lake", "aggregated", "role_distribution")
      .count() === 5)
    tables.foreach(t =>
      assert(VersionedTable.listVersions(spark, res2.paths(t)).size === 2))
    assert(viewRows() === published)

    // the same views over the lazy load of the same input agree
    StarSchema.registerViews(spark,
      StarSchema.loadAll(spark, res2.cleaned, "2024-08-01"),
      loadTs = "2024-08-01 00:00:00")
    assert(viewRows() === published)
  }

  test("training-data lifecycle: near-dedup -> curate -> split -> report") {
    val docs = Tables.documents(spark, sfDir)
    val total = docs.count()
    val nearDeduped = Curation.dropNearDuplicates(docs, "doc_id", "text",
      shingleN = 3, threshold = 0.5)
    val curated = Curation.curate(nearDeduped, "doc_id", "text",
      minQuality = 3.0, keepLangs = Seq("en")).cache()
    val kept = curated.count()
    assert(kept > 0 && kept < total) // the gates actually gate
    // deterministic split covers the curated set exactly
    val bySplit = Sampling.withSplit(curated, "doc_id", 20)
      .groupBy("split").count().as[(String, Long)].collect().toMap
    assert(bySplit.values.sum === kept)
    assert(bySplit.keySet.subsetOf(Set("train", "test")))
    // per-source report over the curated corpus
    val rep = Curation.report(curated, "text").collect()
    assert(rep.nonEmpty)
    assert(rep.forall(r => r.getAs[Long]("n_docs") > 0 &&
      r.getAs[Double]("avg_quality") >= 3.0))
    curated.unpersist()
  }

  test("train-prep lifecycle: decontaminate -> mix -> chunk -> pack -> order") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sfDir)
    // 1. benchmark decontamination against a held-out eval slice
    val bench = docs.filter(col("doc_id") % 20 === 0).select(col("text"))
    val clean = textops.Dedup.decontaminate(docs, "doc_id", "text",
      bench, "text", n = 3, minShared = 2L)
    // 2. mix sources to a token budget
    val sized = clean.withColumn("n_tokens",
      size(textops.TextFunctions.tokens(col("text"))).cast("long"))
    val mixed = Sampling.sampleToTokenBudget(sized, "source", "doc_id",
      "n_tokens", targetTokens = 300L).cache()
    val nMixed = mixed.count()
    assert(nMixed > 0 && nMixed < docs.count())
    // 3. chunk long docs into 16-token windows
    val chunks = textops.TextAnalysis.chunkDocuments(mixed, "doc_id",
      "text", chunkTokens = 16, stride = 8)
    assert(chunks.count() >= nMixed) // at least one window per doc
    // 4. greedily pack chunks into 64-token training sequences per source
    val chunkRows = chunks.join(mixed.select("doc_id", "source"), "doc_id")
      .withColumn("chunk_id",
        col("doc_id") * 10000L + col("start_tok")) // stable unique id
    val packed = Packing.packGreedy(chunkRows, "source", "chunk_id",
      "n_chunk_tokens", budget = 64L)
    val overBudget = Packing.packSummary(packed, "source", "n_chunk_tokens")
      .filter(col("pack_tokens") > 64L).count()
    assert(overBudget == 0L) // chunks are ≤16 tokens, so no overflow packs
    // 5. deterministic training order over the packed rows
    val ordered = Sampling.shuffleOrder(packed, "chunk_id", "epoch0")
    val n = packed.count()
    assert(ordered.agg(max("ord")).as[Long].head() == n)
    assert(ordered.select("ord").distinct().count() == n)
    mixed.unpersist()
  }

  test("incremental lake dedup: day-2 ingest bloom-anti'd against the day-1 fingerprint store") {
    import org.apache.spark.sql.functions._
    import graft.textops.TextFunctions
    val work = Files.createTempDirectory("graft-incr-dedup").toString
    // null text would yield a null fingerprint, which no anti join can
    // ever drop — exclude it up front like a real ingest gate would
    val docs = Tables.documents(spark, sfDir).filter(col("text").isNotNull)
    def fp(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("fp", TextFunctions.fingerprint(col("text")))
    // day 1: first 60% of the corpus lands; persist its fingerprints
    val day1 = fp(docs.filter(col("doc_id") % 10 < 6))
    LakeStorage.write(day1.select("fp").distinct(),
      work, "processed", "fingerprints", "20260811")
    // day 2 arrives with half re-deliveries of day-1 content + new docs
    val day2 = fp(docs.filter(col("doc_id") % 10 >= 3))
    val store = LakeStorage.read(spark, work, "processed", "fingerprints")
    val fresh = graft.operators.Joins.antiJoinBloom(
      day2, store, "fp", expectedItems = 100000L, fpp = 0.03)
    // exactly the genuinely-new content survives (ids 6..9 mod 10, minus
    // any text that exactly duplicates a day-1 doc's content)
    val expected = day2.join(store, Seq("fp"), "left_anti")
      .select("doc_id").as[Long].collect().sorted
    val got = fresh.select("doc_id").as[Long].collect().sorted
    assert(got.toSeq == expected.toSeq && got.nonEmpty)
    // append day-2's new fingerprints; the store now dedups both days
    LakeStorage.write(fresh.select("fp").distinct(),
      work, "processed", "fingerprints", "20260812")
    val store2 = LakeStorage.read(spark, work, "processed", "fingerprints")
    val rerun = graft.operators.Joins.antiJoinBloom(
      day2, store2, "fp", 100000L, 0.03)
    assert(rerun.count() == 0L) // idempotent re-delivery drops everything
  }
}
