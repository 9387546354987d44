package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Date-partitioned Parquet lake (`dl/src/data_lake/storage_manager.py`):
  * `<root>/<layer>/<table>/date=YYYYMMDD/…` with layer conventions
  * raw/processed/analytics/aggregated.
  *
  * Uses Hive-style `partitionBy("date")` so partition discovery and
  * pruning are native: `readPartition` compiles to a scan of exactly one
  * directory — the manual glob/max logic of the reference
  * (`storage_manager.py:220-244`) becomes a catalog/FS listing.
  * Works against any Hadoop filesystem (local, HDFS, S3A) — the
  * reference's separate local/S3 paths collapse into one code path.
  */
object LakeStorage {

  val layers = Seq("raw", "processed", "analytics", "aggregated")

  private def tablePath(root: String, layer: String, table: String) =
    s"$root/$layer/$table"

  /** Write one dated partition of a table (snappy parquet — default). */
  def write(df: DataFrame, root: String, layer: String, table: String,
            date: String): Unit =
    df.withColumn("date", lit(date))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic") // replace only this date
      .partitionBy("date")
      .parquet(tablePath(root, layer, table))

  def read(spark: SparkSession, root: String, layer: String, table: String): DataFrame =
    spark.read.parquet(tablePath(root, layer, table))

  /** Schema-evolution read: partitions written at different pipeline
    * versions may carry different (compatible) schemas — `mergeSchema`
    * unions the footers so old partitions surface the new columns as
    * nulls instead of failing the scan. Costs a footer read per file at
    * planning (why it is not the default read).
    */
  def readMerged(spark: SparkSession, root: String, layer: String,
                 table: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(tablePath(root, layer, table))

  /** Partition listing via the filesystem (no full scan); a missing
    * table lists empty.
    */
  def listPartitions(spark: SparkSession, root: String, layer: String,
                     table: String): Seq[String] = {
    val p = new Path(tablePath(root, layer, table))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names =
      try fs.listStatus(p).toSeq.map(_.getPath.getName)
      catch { case _: java.io.FileNotFoundException => Nil }
    names.filter(_.startsWith("date=")).map(_.stripPrefix("date=")).sorted
  }

  def latestPartition(spark: SparkSession, root: String, layer: String,
                      table: String): Option[String] =
    listPartitions(spark, root, layer, table).lastOption

  /** Read only the newest partition — `where date = max` prunes at
    * planning time to a single directory scan.
    */
  def readLatest(spark: SparkSession, root: String, layer: String,
                 table: String): DataFrame =
    latestPartition(spark, root, layer, table) match {
      case Some(d) => read(spark, root, layer, table).where(col("date") === d)
      case None => spark.emptyDataFrame
    }

  /** Bucketed external table write — the co-location lever for repeated
    * large joins (SURVEY §4: the engine's replacement for the
    * reference's B-tree indexes on join keys). Two tables bucketed by
    * the same key into the same bucket count join with ZERO shuffle of
    * either side (asserted in IngestLakeSpec): at 100 TB that turns the
    * nightly fact⋈fact join from a full-network shuffle into a local
    * merge per bucket. `sortBy` keeps each bucket sorted so the join
    * needs no sort either.
    */
  def writeBucketed(df: DataFrame, table: String, path: String,
                    keyCol: String, buckets: Int): Unit =
    df.write.format("parquet").mode("overwrite")
      .bucketBy(buckets, keyCol).sortBy(keyCol)
      .option("path", path)
      .saveAsTable(table)

  /** Snapshot diff — change-data-capture between two corpus versions
    * by key + content fingerprint: `added` (key only in `newDf`),
    * `removed` (only in `oldDf`), `changed` (both, fingerprints
    * differ), `unchanged`. The engine-side primitive behind
    * incremental training-data refreshes: downstream stages re-process
    * exactly the added ∪ changed sliver instead of the whole corpus.
    *
    * One full-outer hash join on the key, fingerprints computed
    * map-side (md5 of the canonical form — the exact-dedup key, so
    * "changed" means the content actually changed, not that bytes or
    * whitespace moved). Returns (key, status, old_fp, new_fp).
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
                   textCol: String): DataFrame = {
    val o = oldDf.select(col(idCol),
      graft.textops.TextFunctions.fingerprint(col(textCol)).as("old_fp"))
    val n = newDf.select(col(idCol),
      graft.textops.TextFunctions.fingerprint(col(textCol)).as("new_fp"))
    o.join(n, Seq(idCol), "full_outer")
      .withColumn("status",
        when(col("old_fp").isNull, "added")
          .when(col("new_fp").isNull, "removed")
          .when(col("old_fp") === col("new_fp"), "unchanged")
          .otherwise("changed"))
  }

  /** Generic keyed diff between two RELATIONAL snapshots — the
    * [[snapshotDiff]] idea (which fingerprints a text column) applied
    * to arbitrary rows: a key is added/removed/changed/unchanged by
    * NULL-SAFE comparison of every non-key column (a value moving to
    * or from NULL is a change, not a match — `<=>` semantics, the
    * same contract SQL's IS NOT DISTINCT FROM replays).
    *
    * One full-outer hash join on the key; the non-key columns ride as
    * a single struct so the comparison is one codegen'd expression,
    * not |columns| join conditions. Both sides must share a schema
    * and be key-unique (a duplicated key would cross-multiply in the
    * join — enforce upstream with Expectations.Unique). Returns
    * (keys…, status).
    */
  def keyedDiff(oldDf: DataFrame, newDf: DataFrame,
                keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "at least one key column required")
    require(oldDf.columns.sorted.sameElements(newDf.columns.sorted),
      s"schemas differ: [${oldDf.columns.sorted.mkString(",")}] vs " +
        s"[${newDf.columns.sorted.mkString(",")}]")
    val valCols = oldDf.columns.filterNot(keyCols.contains).sorted
    require(valCols.nonEmpty, "need at least one non-key column to compare")
    def pack(df: DataFrame, v: String, e: String) =
      df.select(keyCols.map(col) :+
        struct(valCols.map(col).toIndexedSeq: _*).as(v) :+ lit(true).as(e): _*)
    pack(oldDf, "_ov", "_oe")
      .join(pack(newDf, "_nv", "_ne"), keyCols, "full_outer")
      .withColumn("status",
        when(col("_oe").isNull, "added")
          .when(col("_ne").isNull, "removed")
          .when(col("_ov") <=> col("_nv"), "unchanged")
          .otherwise("changed"))
      .select(keyCols.map(col) :+ col("status"): _*)
  }

  /** CDC change feed between two snapshots — the replayable form of
    * [[snapshotDiff]]: full NEW-side rows for added/changed keys (op =
    * 'added'/'changed') plus bare key rows for removals (op =
    * 'removed', other columns null). Feed size ∝ the churn, not the
    * corpus — the artifact a downstream consumer ships instead of the
    * snapshot.
    */
  def changeFeed(oldDf: DataFrame, newDf: DataFrame, idCol: String,
                 textCol: String): DataFrame = {
    val diff = snapshotDiff(oldDf, newDf, idCol, textCol)
      .select(col(idCol), col("status"))
    val upserts = newDf
      .join(diff.where(col("status").isin("added", "changed")), Seq(idCol))
      .withColumnRenamed("status", "op")
    val removals = diff.where(col("status") === "removed")
      .select(Seq(col(idCol)) ++
        newDf.columns.filter(_ != idCol).map(c => lit(null).cast(
          newDf.schema(c).dataType).as(c)) :+ col("status").as("op"): _*)
    upserts.unionByName(removals)
  }

  /** Apply a [[changeFeed]] to a base snapshot: removed keys drop,
    * added/changed rows replace by key. One anti-join (touched keys
    * out) + one union (upserts in) — shuffle ∝ base on the key plus
    * the feed, never a full rewrite of untouched data when the lake is
    * key-partitioned. Round-trip law (spec'd):
    * `applyChanges(old, changeFeed(old, new)) ≡ new` row-for-row.
    */
  def applyChanges(base: DataFrame, feed: DataFrame, idCol: String): DataFrame = {
    val touched = feed.select(col(idCol))
    val upserts = feed.where(col("op") =!= "removed").drop("op")
    base.join(touched, Seq(idCol), "left_anti").unionByName(upserts)
  }

  /** Incremental maintenance of a grouped aggregate across snapshot
    * versions — materialized-view refresh driven by [[snapshotDiff]]:
    * groups untouched by the change set keep their stored rows
    * verbatim; only groups containing an added/removed/changed key are
    * re-aggregated from the new snapshot. The refreshed table is
    * EXACTLY the full recompute (proved by the oracle: the incremental
    * query hash-matches a direct aggregation of the new snapshot) at a
    * fraction of the work when changes are sparse — the daily reality
    * of a training-data lake.
    *
    * `aggFn` is the aggregation being maintained (doc frame → one row
    * per `groupCol`). Cost shape: the diff join, a touched-group
    * relation (usually tiny → broadcast), an anti join against the
    * stored aggregate, and `aggFn` over the touched slice of the new
    * snapshot (partition-pruned when the lake is grouped-partitioned).
    */
  def incrementalAggRefresh(oldDf: DataFrame, newDf: DataFrame,
                            idCol: String, textCol: String, groupCol: String,
                            storedAgg: DataFrame,
                            aggFn: DataFrame => DataFrame): DataFrame = {
    // Change detection covers GROUP MEMBERSHIP as well as content: a
    // row that moves groups with identical text must re-aggregate BOTH
    // its old and new group — a fingerprint-only diff would label it
    // "unchanged" and silently diverge from the full recompute. The
    // null-safe <=> comparisons make added/removed rows (one side all
    // null) changed by definition.
    val o = oldDf.select(col(idCol), col(groupCol).as("_og"),
      graft.textops.TextFunctions.fingerprint(col(textCol)).as("_of"))
    val n = newDf.select(col(idCol), col(groupCol).as("_ng"),
      graft.textops.TextFunctions.fingerprint(col(textCol)).as("_nf"))
    val changed = o.join(n, Seq(idCol), "full_outer")
      .filter(not(col("_of") <=> col("_nf")) || not(col("_og") <=> col("_ng")))
      .select(col(idCol))
    val touched = oldDf.select(col(idCol), col(groupCol))
      .unionByName(newDf.select(col(idCol), col(groupCol)))
      .join(changed, idCol)
      .select(groupCol).distinct()
    storedAgg.join(touched, Seq(groupCol), "left_anti")
      .unionByName(aggFn(newDf.join(touched, Seq(groupCol))))
  }

  /** Drop partitions older than `keepDays` relative to `asOf` (yyyyMMdd).
    * Pure FS operation — no data scan (`storage_manager.py:246-265`).
    */
  def applyRetention(spark: SparkSession, root: String, layer: String,
                     table: String, keepDays: Int, asOf: String): Seq[String] = {
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd")
    val cutoff = java.time.LocalDate.parse(asOf, fmt).minusDays(keepDays.toLong)
    val doomed = listPartitions(spark, root, layer, table)
      .filter(d => java.time.LocalDate.parse(d, fmt).isBefore(cutoff))
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    doomed.foreach { d =>
      fs.delete(new Path(s"${tablePath(root, layer, table)}/date=$d"), true)
    }
    doomed
  }
}
