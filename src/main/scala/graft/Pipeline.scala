package graft

import graft.analytics.{Demographics, Report}
import graft.ingest.Ingestion
import graft.lake.{LakeStorage, VersionedTable}
import graft.warehouse.StarSchema
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, Future, blocking}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

/** One-call batch lifecycle — the reference CLI's `run_full_pipeline`
  * (`scripts/run_pipeline.py:57-128`) composed with the warehouse load
  * its ETL runs separately (`src/etl/pipeline.py:33-83`): a user who
  * today runs `python scripts/run_pipeline.py data.csv` followed by
  * the ETL gets the same lifecycle from one library call.
  *
  * Stages, in the reference's order:
  *
  *   1. ingestion — CSV → cleaned rows into the lake's `processed`
  *      layer (dated partition) + the single-pass quality profile as a
  *      JSON report (`run_ingestion_pipeline`);
  *   2. analytics — the comprehensive demographics report into the
  *      `analytics` layer (`run_analytics_pipeline`);
  *   3. aggregated datasets — ownership summary / role distribution /
  *      first-name distribution into the `aggregated` layer
  *      (`run_pipeline.py:78-110`; list-valued columns sort for
  *      determinism where pandas kept arrival order);
  *   4. warehouse — the star schema stored once, as the reference's
  *      load into PostgreSQL stores it: `dim_business` and `dim_owner`
  *      are published as [[VersionedTable]]s under
  *      `<lakeRoot>/warehouse/<table>`, then `fact_business_ownership`
  *      is built from the PUBLISHED dims and published beside them;
  *      the three reporting views, the post-load integrity gate and
  *      every derived table read those tables
  *      (`etl/pipeline.py` → `StarSchema.dimensions`/`derived`/
  *      `registerViews`).
  *
  * The returned [[Pipeline.Result]] carries the cleaned frame, every
  * warehouse table, the aggregation frames, the written lake paths
  * (the three warehouse roots among them), and the integrity verdict.
  * The published tables are read back with their known schema, so no
  * schema-inference job runs. A view query scans those three tables —
  * it never re-derives the dimensions, the fact or its primary-owner
  * window from the processed layer. Beyond the writes, the eager work
  * is the gate's one query (a 1-row verdict relation of both orphan-FK
  * counts, the same shape the reference's validation step returns)
  * and the demographics fact's two-phase rank. `dim_role`, the
  * metrics and demographics facts and the daily aggregates stay lazy
  * over the published tables.
  *
  * Scale shape: each stage is the already-audited operator (see the
  * per-operator scaladocs) — nothing new executes here; the entry
  * point only sequences writes. The raw CSV parse is cached across
  * its two consumers (clean-write and quality profile) and released
  * before the heavier stages run, exactly like [[Ingestion.run]].
  * Writes that nothing later reads — the analytics report and the
  * aggregated datasets — run on pool threads beside the warehouse
  * load, as do the `dim_business` publish (beside `dim_owner`'s) and
  * the view registration (beside the gate); their Spark jobs run
  * concurrently, and `runFull` awaits every one before returning or
  * throwing, rethrowing the first failure.
  */
object Pipeline {

  private def await[T](f: Future[T]): T = Await.result(f, Duration.Inf)

  /** Everything `runFull` produced: frames for further work, paths for
    * the lake artifacts, and the integrity verdict.
    */
  final case class Result(
      cleaned: DataFrame,
      warehouse: Map[String, DataFrame],
      aggregations: Map[String, DataFrame],
      paths: Map[String, String],
      integrityPassed: Boolean)

  /** Run the full lifecycle over `csvPath`, writing every artifact
    * under `lakeRoot` (the [[LakeStorage]] layer layout). `dateId`
    * stamps the processed/aggregated partitions and the warehouse's
    * daily aggregates — a parameter, not CURRENT_DATE, so reruns are
    * reproducible (the reference stamps wall-clock).
    */
  def runFull(spark: SparkSession, csvPath: String, lakeRoot: String,
              dateId: String = "2024-01-01"): Result = {
    val partition = dateId.replace("-", "")

    // 1. ingestion: parse once (cached), clean → processed layer,
    //    profile → quality report (run_ingestion_pipeline's two outputs)
    val raw = Ingestion.readCsv(spark, csvPath).cache()
    val qualityPath = s"$lakeRoot/analytics/quality_report"
    try {
      LakeStorage.write(Ingestion.clean(raw), lakeRoot, "processed",
        "business_owners", partition)
      Ingestion.qualityProfile(raw)
        .coalesce(1).write.mode("overwrite").json(qualityPath)
    } finally raw.unpersist()
    // downstream reads the published lake partition, not the CSV plan —
    // the same handoff the reference makes through its parquet file
    val cleaned = LakeStorage
      .readLatest(spark, lakeRoot, "processed", "business_owners")
      .drop("date")

    // 2. analytics: comprehensive demographics report (written below,
    //    beside the warehouse load)
    val analyticsPath = s"$lakeRoot/analytics/demographics"

    // 3. aggregated datasets (run_pipeline.py:78-110). Lists sort for
    //    determinism (pandas kept arrival order — an accident of the
    //    input file, not a semantic); counts order desc with a value
    //    tiebreak so ties don't reshuffle between runs.
    val ownership = cleaned.groupBy("Account Number").agg(
      first(col("Legal Name")).as("Legal Name"),
      sort_array(collect_list(col("Owner Full Name"))).as("owner_names"),
      sort_array(collect_list(col("Title"))).as("titles"),
      max(col("Is Individual Owner")).as("any_individual_owner"),
      first(col("Has Multiple Owners")).as("has_multiple_owners"))
    val roleDist = Demographics.frequencyTable(cleaned, "Title")
    val nameDist = Demographics.frequencyTable(
      cleaned.filter(col("Is Individual Owner")), "Owner First Name")
    val aggs = Map(
      "ownership_summary" -> ownership,
      "role_distribution" -> roleDist,
      "name_distribution" -> nameDist)

    // Writes nothing below reads (stages 2 and 3) and warehouse steps
    // that do not depend on each other run on pool threads; every one
    // is awaited before runFull returns or throws.
    val pending = ArrayBuffer.empty[Future[Any]]
    def async[T](body: => T): Future[T] = {
      val f = Future(blocking(body))
      pending += f
      f
    }
    try {
      async(Report.writeJson(Report.comprehensiveReport(cleaned), analyticsPath))
      aggs.foreach { case (name, df) =>
        async(LakeStorage.write(df, lakeRoot, "aggregated", name, partition))
      }

      // 4. warehouse: publish the star's core once — both dimensions,
      //    then the ownership fact built from the PUBLISHED dims, each
      //    read back with the schema its marker records — and serve the
      //    views, the gate and the derived tables from it
      def published(df: DataFrame, table: String): DataFrame = {
        val root = s"$lakeRoot/warehouse/$table"
        VersionedTable.publish(df, root)
        VersionedTable.readCurrent(spark, root)
      }
      val dims = StarSchema.dimensions(cleaned)
      val dimBusiness = async(published(dims("dim_business"), "dim_business"))
      val dimO = published(dims("dim_owner"), "dim_owner")
      val dimB = await(dimBusiness)
      val fact = published(StarSchema.factOwnership(cleaned, dimB, dimO,
        dims("dim_role")), "fact_business_ownership")
      val wh = StarSchema.derived(dims ++ Map("dim_business" -> dimB,
        "dim_owner" -> dimO, "fact_business_ownership" -> fact), dateId)
      async(StarSchema.registerViews(spark, wh, loadTs = s"$dateId 00:00:00"))
      val passed = wh("integrity").collect().head.getAs[Boolean]("passed")
      pending.foreach(await(_)) // rethrows the first failure

      Result(
        cleaned = cleaned,
        warehouse = wh,
        aggregations = aggs,
        paths = Map(
          "processed" -> s"$lakeRoot/processed/business_owners",
          "quality_report" -> qualityPath,
          "analytics" -> analyticsPath) ++
          aggs.keys.map(n => n -> s"$lakeRoot/aggregated/$n") ++
          Seq("dim_business", "dim_owner", "fact_business_ownership")
            .map(t => t -> s"$lakeRoot/warehouse/$t"),
        integrityPassed = passed)
    } finally pending.foreach(Await.ready(_, Duration.Inf))
  }
}
