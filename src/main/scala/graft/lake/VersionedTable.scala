package graft.lake

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SchemaBridge
import org.apache.spark.sql.types.{DataType, StructType}

/** Manifest-pointer publish for plain-parquet datasets — the engine's
  * substitute for a transactional table format's snapshot swap, and
  * the one way graft rewrites a table's files: a reader never finds
  * the table's path absent or half-written.
  *
  * Layout (all under one table root):
  * {{{
  *   <root>/v-<ts>-<token>/part-*.parquet   immutable version directory
  *   <root>/_ready-v-<ts>-<token>           publish marker = manifest
  *   <root>/d-<ts>-<token>/part-*.parquet   delta (merge-on-read layer)
  *   <root>/_ready-d-<ts>-<token>           its marker
  * }}}
  *
  * A marker holds one JSON object: the layer's schema as written
  * (`{"schema": <StructType JSON>}`, nullable — what parquet inference
  * returns), plus `"maxTs": <ms>` on a stamped segment
  * ([[appendDeltaStamped]]). Every read takes its schema from the
  * marker, so no read runs a footer-inference job; an empty or
  * unparsable marker (a table written before markers carried a
  * manifest, a reader racing the commit's write, a damaged file) falls
  * back to inference, loudly, and is never read as an empty schema.
  * Every operation lists the root once ([[VersionedTable.Listing]]),
  * and a listing never outlives the operation that took it.
  *
  * The commit primitive is FILE CREATION, not pointer overwrite: a
  * version becomes visible the instant its `_ready-` marker appears in
  * a directory listing, and file creation is atomically visible on
  * every Hadoop filesystem (an overwrite-rename of a single pointer
  * file is NOT — `AbstractFileSystem`'s generic OVERWRITE rename is
  * delete-then-rename, which reopens exactly the absent-pointer window
  * this exists to kill). Readers resolve the CURRENT version as the
  * lexicographically greatest marker (names embed a zero-padded
  * publish timestamp, so greatest = newest); version directories are
  * immutable once published, so a resolved read can never lose files
  * under itself.
  *
  * Concurrent-reader contract (spec-pinned, no retry anywhere):
  *  - a reader overlapping any number of publishes sees SOME fully
  *    published version — old or new data, never an error, never a
  *    partial directory (data files are fully written before the
  *    marker is created);
  *  - [[vacuum]] (run by [[publish]]) keeps the newest `keepVersions`
  *    versions, so a reader that resolved version N can finish reading
  *    it until N ages `keepVersions` publishes into the past — size
  *    the retention to the longest read a deployment runs, exactly
  *    like a table format's snapshot-expiry horizon.
  *  - crash between data write and marker creation leaves an orphan
  *    (invisible) directory; vacuum removes orphans older than the
  *    oldest retained PUBLISHED version, never a directory whose
  *    marker may still be in flight.
  *
  * Object stores: S3 listings are strongly consistent (post-2020), and
  * marker creation is a single atomic PUT — this scheme needs no
  * rename at all, which is precisely what makes it object-store-safe
  * where directory-rename swaps are not.
  *
  * Single writer assumed (same as the sinks it backs); two concurrent
  * publishes degrade gracefully — both versions land, the greater name
  * wins the next resolve, the loser ages out via vacuum.
  */
object VersionedTable {

  private val MarkerPrefix = "_ready-"
  private val VersionPrefix = "v-"
  private val DeltaPrefix = "d-"

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** One listing of a table root and what the name grammar above says
    * about it — the one place that parses that grammar. Every
    * operation lists its root once and works from that value; a write
    * continues from its pre-write listing plus its own commit
    * ([[committed]]) and drops ([[without]]). That view can only miss
    * a racing writer's layer, which keeps an extra version and never
    * drops one. A listing never outlives one operation or one stream
    * batch. Only two loops re-list, because seeing a racing writer is
    * their job: [[compactDeltasOn]]'s stranded-delta re-list (once per
    * fold round) and [[compactSegments]]' in-flight tripwire.
    */
  private[graft] final case class Listing(spark: SparkSession, root: String,
                                          names: Seq[String]) {
    val rootP = new Path(root)
    lazy val fs: FileSystem = fsOf(spark, rootP)
    private def isLayer(n: String) =
      n.startsWith(VersionPrefix) || n.startsWith(DeltaPrefix)
    private lazy val marked = names.filter(_.startsWith(MarkerPrefix))
      .map(_.stripPrefix(MarkerPrefix)).filter(isLayer).sorted
    private lazy val markedSet = marked.toSet
    /** Published base versions, ascending. */
    lazy val versions: Seq[String] = marked.filter(_.startsWith(VersionPrefix))
    /** Published deltas, ascending, folded ones included. */
    lazy val deltas: Seq[String] = marked.filter(_.startsWith(DeltaPrefix))
    def base: Option[String] = versions.lastOption
    def current: String = base.getOrElse(
      throw new IllegalStateException(s"no published version at $root"))
    /** The deltas strictly newer than the current base, ascending. */
    lazy val pending: Seq[String] =
      deltas.filter(versionTs(_) > versionTs(current))
    def anyDelta: Boolean = deltas.nonEmpty
    /** Timestamp of the newest committed layer, version or delta;
      * `Long.MinValue` when nothing is committed.
      */
    lazy val newestTs: Long =
      marked.map(versionTs).foldLeft(Long.MinValue)(math.max)
    /** The `prefix` directories no marker names (data written, marker
      * never created: a crashed or in-flight write), each with its
      * name's timestamp. Callers pick the dead or in-flight ones by it.
      */
    def unmarked(prefix: String): Seq[(String, Long)] =
      names.filter(n => n.startsWith(prefix) && !markedSet(n))
        .flatMap(n => versionTsOpt(n).map(n -> _))
    /** Entries outside the versioned layout: loose, unversioned data. */
    lazy val foreign: Seq[String] = names.filterNot(n => isLayer(n) ||
      n.startsWith(MarkerPrefix) || n.startsWith(".") || n.startsWith("_"))
    def committed(layer: String): Listing =
      copy(names = names ++ Seq(layer, s"$MarkerPrefix$layer"))
    def without(layers: Seq[String]): Listing = {
      val gone = layers.toSet
      copy(names = names.filterNot(n => gone(n.stripPrefix(MarkerPrefix))))
    }

    /** See [[VersionedTable.requireVersionedOrEmpty]]. */
    def requireVersionedOrEmpty(): Unit =
      require(base.isDefined || foreign.isEmpty,
        s"$root holds unversioned data (${foreign.take(3).mkString(", ")}" +
          s"${if (foreign.length > 3) ", …" else ""}): reading it as an " +
          "empty table would silently discard it — migrate the legacy " +
          "dataset explicitly (read the loose parquet files, publish " +
          "them as a version, remove the loose files)")

    /** Maintenance ops that republish from the BARE base (compact,
      * recluster) cannot fold a delta overlay — and their new base
      * timestamp would mark every pending delta as folded, silently
      * dropping those writes. Refuse loudly instead; callers run
      * [[compactDeltas]] first. ([[publish]] itself stays callable with
      * pending deltas: a wholesale state replacement — compactDeltas'
      * own fold, or a caller republishing a merged/recomputed table —
      * legitimately supersedes the overlay.)
      */
    def requireNoPendingDeltas(op: String): Unit = {
      val n = if (base.isDefined) pending.size else 0
      require(n == 0,
        s"$op reads only the base version, but $root has $n " +
          s"pending delta(s) whose rows it would silently drop — run " +
          s"compactDeltas first")
    }
  }

  /** One `listStatus` of `root` as a [[Listing]]; a missing root lists
    * empty.
    */
  private[graft] def list(spark: SparkSession, root: String): Listing = {
    val rootP = new Path(root)
    Listing(spark, root,
      try fsOf(spark, rootP).listStatus(rootP).toSeq.map(_.getPath.getName)
      catch { case _: java.io.FileNotFoundException => Nil })
  }

  /** Published versions, ascending (oldest first). Marker-backed: a
    * version directory without its marker does not exist yet. Filters
    * to BASE versions (`v-`) — delta versions (`d-`, see
    * [[appendDelta]]) have their own listing.
    */
  def listVersions(spark: SparkSession, root: String): Seq[String] =
    list(spark, root).versions

  def currentVersion(spark: SparkSession, root: String): Option[String] =
    list(spark, root).base

  /** True when `root` holds at least one published version. */
  def isVersioned(spark: SparkSession, root: String): Boolean =
    list(spark, root).base.isDefined

  /** Guard for "absent means empty" code paths (streaming state
    * stores, upsert sinks): a root that holds DATA but no version —
    * a plain-parquet dataset from a pre-versioned layout — must fail
    * loudly, because treating it as an empty table would silently
    * discard the accumulated state on the first write. Migration is a
    * deliberate act: read the loose part files (glob them directly —
    * a plain read of the root would trip over the version
    * subdirectories), publish them as the first version of a fresh
    * root (or this root, whose loose files then become invisible dead
    * bytes to delete), and re-point the sink.
    */
  def requireVersionedOrEmpty(spark: SparkSession, root: String): Unit =
    list(spark, root).requireVersionedOrEmpty()

  /** Name of the parameter-fingerprint sidecar ([[requireParams]]).
    * Underscore-prefixed so every listing path (markers, versions,
    * deltas, [[requireVersionedOrEmpty]]'s foreign-file scan) ignores
    * it, like parquet's own `_SUCCESS`.
    */
  val ParamsFile = "_params"

  /** Parameter-fingerprint guard for stateful stores whose ROW VALUES
    * are a function of per-call parameters — shingle width and hash
    * family (novelty gate), LSH geometry (near-dedup bands), sketch
    * size k (KMV), hashed feature dimension (online logistic),
    * tokenizer version (drift monitor). Calling such a step with a
    * CHANGED parameter silently mixes incompatible rows in one store:
    * the old rows neither match nor error, they just stop colliding /
    * bias the estimate — the same bug class the semdedup `_qfp`
    * fingerprint closes for quantizer growth. Unlike the quantizer
    * (whose store keeps raw vectors, so it can MIGRATE by
    * re-bucketing on read), these stores keep one-way hashes or
    * truncated sketches — no migration is possible, so the choice
    * here is REJECT: the first batch stamps the parameter string into
    * a `_params` sidecar at the store root, and a later batch with a
    * different string fails loudly, telling the operator to rebase on
    * a fresh store path (or revert the parameters).
    *
    * Seams, all deliberate: a pre-seam store (versions but no
    * sidecar) ADOPTS the calling batch's parameters — legacy rows
    * can't be verified, and refusing every existing store would force
    * a rebase on upgrade; a sidecar over an UNPUBLISHED root (crashed
    * bootstrap) is overwritten, the empty store simply adopts; the
    * sidecar lands via create-then-rename so a concurrent reader
    * never sees a partial write (single-writer stores, like every
    * sink here). Any other stamped string is a mismatch, including an
    * older rendering of the same parameters.
    */
  def requireParams(spark: SparkSession, root: String, params: String): Unit =
    requireParamsOn(list(spark, root), params)

  /** [[requireParams]] against the listing `l`. */
  private[graft] def requireParamsOn(l: Listing, params: String): Unit = {
    // the layout guard runs before the stamp, so a legacy plain-parquet
    // root is never written to
    l.requireVersionedOrEmpty()
    val fs = l.fs
    val pf = new Path(l.rootP, ParamsFile)
    // the listing already says whether the sidecar exists: no probe
    val listed = l.names.contains(ParamsFile)
    val existing: Option[String] =
      if (listed) {
        val in = fs.open(pf)
        try Some(new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8))
        finally in.close()
      } else None
    // the sidecar IS the guard: a delete or rename that fails silently
    // (some Hadoop filesystems return false instead of throwing) would
    // leave no — or a stale — pin, and the next batch would adopt
    // whatever parameters it was called with. Treat both like publish
    // treats its marker: result-checked, loud on failure.
    def stamp(): Unit = {
      val tmp = new Path(l.rootP,
        s".${ParamsFile}.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      require(renameIntoPlace(fs, tmp, pf, params, () =>
        if (listed)
          require(fs.delete(pf, false),
            s"failed to delete stale parameter sidecar $pf")),
        s"failed to publish parameter sidecar $pf (rename returned false)")
    }
    existing match {
      case Some(p) if p == params => ()
      case Some(p) if l.base.isDefined =>
        throw new IllegalStateException(
          s"store at ${l.root} was built with parameters [$p] but this step " +
            s"was called with [$params] — its rows are not comparable " +
            "under the new parameters and cannot be migrated (one-way " +
            "hashes/sketches). Rebase on a fresh store path, or revert " +
            "the parameters.")
      case _ =>
        // absent, or stale over an unpublished root: (re)stamp
        stamp()
    }
  }

  /** Land `text` (UTF-8) as `dest` through the dot-temp `tmp`: write
    * it, close it, run `beforeRename`, then rename it into place, so a
    * concurrent reader sees the old file or the whole new one, never a
    * partial write. Returns the rename's result — some Hadoop
    * filesystems return false instead of throwing — for the caller to
    * fail on in its own words.
    */
  private[lake] def renameIntoPlace(fs: FileSystem, tmp: Path, dest: Path,
                                    text: String,
                                    beforeRename: () => Unit = () => ()): Boolean = {
    val out = fs.create(tmp, true)
    try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    beforeRename()
    fs.rename(tmp, dest)
  }

  /** Read the current version with the schema its marker records —
    * no schema-inference job, so building the read runs no Spark job.
    * Fails (like any read of an absent dataset) when nothing has been
    * published.
    */
  def readCurrent(spark: SparkSession, root: String): DataFrame =
    scanLayers(spark, root, Seq(list(spark, root).current))

  /** What a commit marker records (see the layout above). */
  private final case class Marker(schema: StructType, maxTs: Option[Long])

  private val Json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Create layer `name`'s marker with its manifest — the one
    * `fs.create` that commits the layer (atomic visibility; an object
    * store's single PUT carries the content with it).
    */
  private def commitMarker(fs: FileSystem, rootP: Path, name: String,
                           schema: StructType,
                           maxTs: Option[Long] = None): Unit = {
    val stamp = maxTs.fold("")(ms => s""""maxTs":$ms,""")
    val json = SchemaBridge.asNullable(schema).json
    val out = fs.create(new Path(rootP, s"$MarkerPrefix$name"), false)
    try out.write(s"""{$stamp"schema":$json}"""
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Layer `name`'s marker, or None when it is empty or unreadable or
    * does not parse: reads then infer the schema from the files and
    * segment expiry skips the layer, both LOUDLY rather than throwing —
    * one bad marker must not permanently fail every later read or
    * maintenance call against the store.
    */
  private def readMarker(fs: FileSystem, rootP: Path,
                         name: String): Option[Marker] = {
    val p = new Path(rootP, s"$MarkerPrefix$name")
    val parsed = scala.util.Try {
      val in = fs.open(p)
      val node = try Json.readTree(in) finally in.close()
      Marker(DataType.fromJson(node.get("schema").toString)
        .asInstanceOf[StructType], Option(node.get("maxTs")).map(_.asText.toLong))
    }.toOption
    if (parsed.isEmpty)
      System.err.println(s"[graft] empty or unparsable commit marker $p — " +
        "reads infer the schema from its files and segment expiry skips " +
        "it; republish, or delete the segment dir, to clear this warning")
    parsed
  }

  /** One parquet scan over `files` (default: every file of the layers
    * `names`) with the union of those layers' marker schemas. A layer
    * whose marker is unusable sends the scan to inference — merging
    * footers when it spans several layers, since deltas may widen the
    * schema and one file's footer would drop a column.
    *
    * Every layer must carry the columns `keys` (a merge's keys): one
    * that misses any fails loudly, judged by its marker schema, or by
    * its own inferred schema when its marker is unusable — never by the
    * union, which another layer's columns would fill.
    */
  private[graft] def scanLayers(spark: SparkSession, root: String,
                                names: Seq[String],
                                files: Seq[String] = Nil,
                                keys: Seq[String] = Nil): DataFrame = {
    val rootP = new Path(root)
    val fs = fsOf(spark, rootP)
    val layers = names.map(n => new Path(rootP, n).toString)
    val paths = if (files.nonEmpty) files else layers
    val schemas = names.map(n => readMarker(fs, rootP, n).map(_.schema))
    layers.zip(schemas).foreach { case (layer, schema) =>
      lazy val cols =
        schema.getOrElse(spark.read.parquet(layer).schema).fieldNames
      val missing = keys.filterNot(k => cols.contains(k))
      require(missing.isEmpty,
        s"every layer must carry the merge keys; $layer misses $missing")
    }
    if (schemas.forall(_.isDefined))
      spark.read.schema(schemas.flatten.reduce { (a, b) =>
        StructType(a ++ b.filterNot(f => a.fieldNames.contains(f.name)))
      }).parquet(paths: _*)
    else spark.read.option("mergeSchema", names.size > 1).parquet(paths: _*)
  }

  /** A delta's segment-expiry stamp ([[appendDeltaStamped]]) from its
    * marker: None for an un-stamped delta and, loudly, for an unusable
    * marker.
    */
  private[graft] def segmentStamp(spark: SparkSession, root: String,
                                  delta: String): Option[Long] = {
    val rootP = new Path(root)
    readMarker(fsOf(spark, rootP), rootP, delta).flatMap(_.maxTs)
  }

  /** Constraint-gated publish: evaluate declarative
    * [[graft.ingest.Expectations]] constraints over the batch and
    * commit ONLY when every one passes — the write-audit-publish
    * pattern with the audit INSIDE the commit protocol, so a bad
    * batch can never become the current version (readers keep the
    * last good version; nothing to roll back).
    *
    * The constraint scan runs over the batch BEFORE any files are
    * written (one aggregation pass — the single-pass violations
    * relation); on failure the table is untouched and the violation
    * counts ride the exception message. The alternative ordering
    * (write files, check, skip the marker) would leave orphan
    * directories for vacuum — checking first costs one extra scan of
    * the batch and leaves no garbage.
    */
  def publishChecked(df: DataFrame, root: String,
                     constraints: Seq[graft.ingest.Expectations.Constraint],
                     keepVersions: Int = 3,
                     statsColumns: Seq[String] = Nil,
                     bloomColumns: Seq[String] = Nil): String = {
    val bad = graft.ingest.Expectations.violations(df, constraints)
      .filter(col("violations") > 0)
      .collect() // audit verdict: |constraints|-row planning relation
    if (bad.nonEmpty) {
      val detail = bad.map(r => s"${r.getString(0)}=${r.getLong(1)}")
        .mkString(", ")
      throw new IllegalStateException(
        s"publishChecked refused $root: constraint violations [$detail]")
    }
    publish(df, root, keepVersions, statsColumns, bloomColumns)
  }

  /** Time travel: read a specific PUBLISHED version (a name from
    * [[listVersions]]). Versions are immutable, so the read is
    * reproducible for as long as retention keeps the version alive —
    * pair with `keepVersions` sized to the audit horizon. Composes with
    * [[LakeStorage.snapshotDiff]] for version-over-version diffs.
    */
  def readVersion(spark: SparkSession, root: String, version: String): DataFrame = {
    require(listVersions(spark, root).contains(version),
      s"$version is not a published version of $root (vacuumed, mid-publish, or never existed)")
    scanLayers(spark, root, Seq(version))
  }

  /** Millisecond timestamp embedded in a version or delta name; None
    * for names this writer could not have produced (vacuum must skip
    * those, not crash on a stray user-made `v-` directory).
    */
  private def versionTsOpt(v: String): Option[Long] =
    digitsTs(v.stripPrefix(VersionPrefix).stripPrefix(DeltaPrefix))

  /** Shared name→timestamp parse for every lake commit protocol
    * (versions, deltas, snapshot-group manifests): the leading digit
    * run of a prefix-stripped name, or None for a name this writer
    * family could not have produced (strays are skipped, not crashed
    * on).
    */
  private[lake] def digitsTs(stripped: String): Option[Long] = {
    val digits = stripped.takeWhile(_ != '-')
    if (digits.nonEmpty && digits.forall(_.isDigit) && digits.length <= 18)
      Some(digits.toLong)
    else None
  }

  private def versionTs(v: String): Long = versionTsOpt(v).getOrElse(
    throw new IllegalArgumentException(s"not a version name: $v"))

  /** Write `df` as a new immutable version and publish it by marker
    * creation; then vacuum to `keepVersions`. Returns the version name.
    * The data write completes (all files + parquet `_SUCCESS`) before
    * the marker exists, so no reader can resolve a partial version.
    *
    * `statsColumns` nonEmpty additionally writes a per-file min/max
    * stats relation ([[StatsDir]]) into the version directory BEFORE
    * the marker — stats are atomic with the publish (a resolved version
    * either has complete stats or, if published without, none), and
    * the `_`-prefixed subdirectory is invisible to data reads (Hadoop's
    * hidden-path filter). Stat columns must be atomic orderable types;
    * the extra cost is one column-pruned scan of the fresh version.
    * `bloomColumns` (string columns only) adds a per-file Bloom filter
    * each, sized by `bloomExpectedItems`/`bloomFpp` (size to per-FILE
    * rows — see [[graft.functions.BloomAggregator]]), for
    * [[ColEquals]] point-lookup pruning where min/max ranges are too
    * wide to cut anything.
    *
    * Stats are part of the table's physical contract, not one write's:
    * when BOTH stat params are empty, the new version INHERITS the
    * previous version's stats spec (recomputed over the new data), so
    * maintenance publishes — [[compact]], [[upsertBatch]], the
    * streaming sinks — never silently strip a table's file index and
    * downgrade every later pruned read to a full scan. Pass
    * `statsColumns` explicitly to change the spec; there is no way to
    * drop stats from a table that has them except republishing under a
    * fresh root (deliberate — losing an index should be loud).
    */
  def publish(df: DataFrame, root: String, keepVersions: Int = 3,
              statsColumns: Seq[String] = Nil,
              bloomColumns: Seq[String] = Nil,
              bloomExpectedItems: Long = 100000L,
              bloomFpp: Double = 0.01): String =
    publishOn(list(df.sparkSession, root), df, keepVersions, statsColumns,
      bloomColumns, bloomExpectedItems, bloomFpp).current

  /** [[publish]] over the listing `l`: returns `l` with the new version
    * committed and what its vacuum removed dropped.
    */
  private[graft] def publishOn(l: Listing, df: DataFrame,
                               keepVersions: Int = 3,
                               statsColumns: Seq[String] = Nil,
                               bloomColumns: Seq[String] = Nil,
                               bloomExpectedItems: Long = 100000L,
                               bloomFpp: Double = 0.01): Listing = {
    require(keepVersions >= 2,
      s"keepVersions must be >= 2 so in-flight readers of the previous " +
        s"version survive a publish, got $keepVersions")
    require(!df.columns.contains(TombstoneCol),
      s"$TombstoneCol is reserved for delete deltas and never appears " +
        s"in a base version")
    l.fs.mkdirs(l.rootP)
    // strictly increasing even under clock skew: never at or below any
    // published version OR delta timestamp — a compaction's base must
    // strictly dominate every delta it folded, or a merged read would
    // re-apply them
    val ts = math.max(System.currentTimeMillis(), l.newestTs + 1)
    val token = java.util.UUID.randomUUID().toString.take(8)
    val version = f"$VersionPrefix$ts%013d-$token"
    val versionPath = new Path(l.rootP, version).toString
    val (statsCols, bloomCols) =
      if (statsColumns.nonEmpty || bloomColumns.nonEmpty)
        (statsColumns, bloomColumns)
      else inheritedStatsSpec(l)
    df.write.mode("errorifexists").parquet(versionPath)
    if (statsCols.nonEmpty || bloomCols.nonEmpty)
      writeFileStats(l.spark, versionPath, df.schema, statsCols, bloomCols,
        bloomExpectedItems, bloomFpp)
    commitMarker(l.fs, l.rootP, version, df.schema)
    val published = l.committed(version)
    published.without(vacuumOn(published, keepVersions))
  }

  // ---------------------------------------------------------------------
  // File-level data skipping — the manifest's answer to a table format's
  // stats-based file pruning. Stats live INSIDE the immutable version
  // directory, so they can never describe files of a different version.
  // ---------------------------------------------------------------------

  private val StatsDir = "_filestats"

  /** A conjunct file-skipping predicate: `rowPredicate` is the EXACT
    * row-level filter (always re-applied after pruning, so skipping is
    * purely a scan optimization, never a semantics change), `fileKeep`
    * the stats-relation keep test — None when the current version's
    * stats cannot evaluate it (caller must fall back to a full scan).
    * All forms are null-rejecting at row level, which is what makes
    * pruning on null/absent stats sound.
    */
  sealed trait SkipPred {
    def column: String
    def rowPredicate: Column
    private[lake] def fileKeep(statsCols: Seq[String]): Option[Column]
  }

  /** `lower <= column <= upper` with either bound optional (None =
    * unbounded). Equality on an orderable non-string column is the
    * degenerate range (lower == upper); string equality should prefer
    * [[ColEquals]], which adds Bloom pruning. A file whose min/max
    * stats are null for the column (all-null or empty) can hold no
    * matching row — `coalesce` to false = skip.
    */
  final case class ColRange(column: String,
                            lower: Option[Any] = None,
                            upper: Option[Any] = None) extends SkipPred {
    require(lower.isDefined || upper.isDefined,
      s"unbounded range on $column would skip nothing")
    def rowPredicate: Column = {
      val lo = lower.map(v => col(column) >= lit(v))
      val hi = upper.map(v => col(column) <= lit(v))
      (lo.toSeq ++ hi.toSeq).reduce(_ && _)
    }
    private[lake] def fileKeep(statsCols: Seq[String]): Option[Column] =
      if (!statsCols.contains(s"min_$column")) None
      else {
        val lo = lower.map(v => col(s"max_$column") >= lit(v))
        val hi = upper.map(v => col(s"min_$column") <= lit(v))
        Some(coalesce((lo.toSeq ++ hi.toSeq).reduce(_ && _), lit(false)))
      }
  }

  /** String-equality point predicate. Prunes with whatever the version
    * carries for the column — min/max range (equality is a degenerate
    * range; lexicographic bounds are sound for it) AND the per-file
    * Bloom filter when `bloomColumns` included it at publish. On a
    * hash-clustered layout min/max bounds are corpus-wide and prune
    * nothing; the Bloom is what cuts a point lookup to the one-or-few
    * files that might hold the key (fpp of the rest). The probe runs
    * IN SPARK over the O(files) stats relation — the one deliberate
    * UDF outside a data path, same planning-relation class as the
    * file-list collect.
    */
  final case class ColEquals(column: String, value: String) extends SkipPred {
    require(value != null, s"equality on $column with null never matches — filter nulls explicitly")
    def rowPredicate: Column = col(column) === lit(value)
    private[lake] def fileKeep(statsCols: Seq[String]): Option[Column] =
      pointKeep(column, value, statsCols)
  }

  /** Per-value file-keep test shared by [[ColEquals]] and [[ColIn]]:
    * min/max containment AND bloom membership, whichever the version's
    * stats carry.
    */
  private def pointKeep(column: String, value: String,
                        statsCols: Seq[String]): Option[Column] = {
    val range =
      if (statsCols.contains(s"min_$column"))
        Some(coalesce(col(s"min_$column") <= lit(value) &&
          col(s"max_$column") >= lit(value), lit(false)))
      else None
    val bloom =
      if (statsCols.contains(s"bloom_$column"))
        Some(graft.functions.BloomAggregator.mightContainUdf(
          col(s"bloom_$column"), lit(value)))
      else None
    (range.toSeq ++ bloom.toSeq).reduceOption(_ && _)
  }

  /** IN-list point predicate — the batch-lookup shape ("fetch these
    * 200 keys"). A file survives when ANY listed value might be
    * present (OR of the per-value [[ColEquals]] tests), so the kept
    * set is the union of each key's candidate files — at high file
    * counts that stays ∝ |values|, not ∝ table size.
    */
  final case class ColIn(column: String, values: Seq[String]) extends SkipPred {
    require(values.nonEmpty, s"empty IN-list on $column never matches")
    require(values.forall(_ != null),
      s"IN-list on $column contains null, which never equi-matches — drop it")
    def rowPredicate: Column = col(column).isin(values: _*)
    private[lake] def fileKeep(statsCols: Seq[String]): Option[Column] = {
      val keeps = values.map(v => pointKeep(column, v, statsCols))
      if (keeps.exists(_.isEmpty)) None
      else Some(keeps.flatten.reduce(_ || _))
    }
  }

  /** The previous version's stats spec, recovered from its stats
    * schema, so maintenance publishes recompute the same index over
    * the new data. Bloom sizing is not recoverable from serialized
    * filters; inherited blooms use the publish defaults (sizing only
    * moves fpp, never correctness).
    */
  private def inheritedStatsSpec(l: Listing): (Seq[String], Seq[String]) =
    statsOf(l) match {
      case Some(st) =>
        (st.columns.toSeq.filter(_.startsWith("min_")).map(_.stripPrefix("min_")),
          st.columns.toSeq.filter(_.startsWith("bloom_")).map(_.stripPrefix("bloom_")))
      case None => (Nil, Nil)
    }

  /** Per-file stats of a freshly written version directory: row count
    * plus min/max/null-count per stat column, one output row per data
    * file. Computed with a column-pruned scan grouped by the
    * `_metadata.file_path` hidden column — at most `statsColumns` wide,
    * never a full-row read.
    */
  private def writeFileStats(spark: SparkSession, versionPath: String,
                             schema: StructType,
                             statsColumns: Seq[String],
                             bloomColumns: Seq[String],
                             bloomExpectedItems: Long,
                             bloomFpp: Double): Unit = {
    val written = spark.read.schema(schema).parquet(versionPath)
    val missing = (statsColumns ++ bloomColumns).filterNot(written.columns.contains)
    require(missing.isEmpty, s"stats columns absent from data: $missing")
    bloomColumns.foreach { c =>
      require(written.schema(c).dataType ==
        org.apache.spark.sql.types.StringType,
        s"bloom columns must be strings (build and probe must hash the " +
          s"same type), got ${written.schema(c).dataType} for '$c'")
    }
    val aggs = count(lit(1)).as("rows") +:
      (statsColumns.flatMap { c =>
        Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"),
          sum(col(c).isNull.cast("long")).as(s"nulls_$c"))
      } ++ bloomColumns.map { c =>
        graft.functions.BloomAggregator
          .bloomAgg(bloomExpectedItems, bloomFpp, col(c)).as(s"bloom_$c")
      })
    written
      .groupBy(col("_metadata.file_path").as("file_path"))
      .agg(aggs.head, aggs.tail: _*)
      .coalesce(1)
      .write.mode("errorifexists")
      .parquet(new Path(versionPath, StatsDir).toString)
  }

  /** The stats relation of the current version, if that version was
    * published with `statsColumns`. */
  def currentStats(spark: SparkSession, root: String): Option[DataFrame] =
    statsOf(list(spark, root))

  private def statsOf(l: Listing): Option[DataFrame] = l.base.flatMap { v =>
    val p = new Path(new Path(l.rootP, v), StatsDir)
    if (l.fs.exists(p)) Some(l.spark.read.parquet(p.toString)) else None
  }

  /** Driver-side file pruning for `preds` against the current
    * version's stats: Some((kept, total)) when the stats can evaluate
    * every predicate, None when stats are absent or a predicate's
    * column is uncovered (caller must fall back to a full scan). The
    * stats relation is O(files) rows and the result is a file LIST —
    * this is planning-time work of the same class as
    * partition-pruning's directory listing, not a data collect.
    */
  def pruneFiles(spark: SparkSession, root: String,
                 preds: Seq[SkipPred]): Option[(Seq[String], Long)] =
    pruneFilesOn(list(spark, root), preds)

  private def pruneFilesOn(l: Listing,
                           preds: Seq[SkipPred]): Option[(Seq[String], Long)] =
    statsOf(l).flatMap { stats =>
      val keeps = preds.map(_.fileKeep(stats.columns.toSeq))
      if (keeps.exists(_.isEmpty)) None
      else {
        // ONE pass: collecting (file, keep) pairs yields the kept list
        // and the total together — a separate stats.count() would cost
        // a second job per pruned read, on the hot point-lookup path
        val rows = stats
          .select(col("file_path"),
            coalesce(keeps.flatten.reduce(_ && _), lit(false)).as("_keep"))
          .collect()
        Some((rows.filter(_.getBoolean(1)).map(_.getString(0)).toSeq,
          rows.length.toLong))
      }
    }

  /** Read the current version restricted to `preds`, skipping whole
    * files whose stats (min/max ranges, per-file Blooms) prove they
    * hold no matching row. The exact row predicate is re-applied on
    * the surviving files, so the result is IDENTICAL to
    * `readCurrent(...).where(pred)` — files are only ever skipped,
    * never trusted to pre-filter rows. Falls back to the full scan
    * (with the same predicate) when stats are missing.
    * All-files-skipped folds to an empty relation without touching a
    * single data file (`PruneFilters` on the `lit(false)` conjunct).
    */
  def readCurrentWhere(spark: SparkSession, root: String,
                       preds: Seq[SkipPred]): DataFrame = {
    require(preds.nonEmpty, "readCurrentWhere needs at least one predicate")
    prunedCurrent(list(spark, root), preds)
      .where(preds.map(_.rowPredicate).reduce(_ && _))
  }

  /** The current version's files that `preds` may match ([[pruneFiles]]),
    * read with the version's marker schema; every file when the stats
    * cannot decide, none (a `lit(false)` filter) when they rule out all.
    */
  private def prunedCurrent(l: Listing, preds: Seq[SkipPred]): DataFrame = {
    val base = Seq(l.current)
    pruneFilesOn(l, preds) match {
      case Some((kept, _)) if kept.isEmpty =>
        scanLayers(l.spark, l.root, base).where(lit(false))
      case Some((kept, _)) => scanLayers(l.spark, l.root, base, kept)
      case None => scanLayers(l.spark, l.root, base)
    }
  }

  /** Drop published layers, marker first (a reader can only resolve
    * marked layers), then data; for an unmarked orphan only the data.
    */
  private def dropLayers(l: Listing, names: Seq[String]): Unit =
    names.foreach { n =>
      l.fs.delete(new Path(l.rootP, s"$MarkerPrefix$n"), false)
      l.fs.delete(new Path(l.rootP, n), true)
    }

  /** Drop all but the newest `keep` published versions (marker first,
    * then data — a reader can only resolve marked versions), plus any
    * orphan (marker-less) version directory older than the oldest
    * retained version. Returns the removed version names.
    */
  def vacuum(spark: SparkSession, root: String, keep: Int): Seq[String] =
    vacuumOn(list(spark, root), keep)

  private def vacuumOn(l: Listing, keep: Int): Seq[String] = {
    require(keep >= 1, s"must keep at least one version, got $keep")
    val doomed = l.versions.dropRight(keep)
    // orphans: data dirs with no marker, provably dead — strictly older
    // than a version that IS published (a writer creates its marker
    // immediately after its data write, so an in-flight publish is
    // always the newest timestamp in the root)
    val oldestKept = l.versions.drop(doomed.length).headOption.map(versionTs)
    val orphans = l.unmarked(VersionPrefix)
      .collect { case (n, ts) if oldestKept.exists(ts < _) => n }
    dropLayers(l, doomed ++ orphans)
    doomed ++ orphans
  }

  /** Roll the table back to a PUBLISHED version: republish that
    * version's rows as a new current version (stats spec inherited,
    * standard vacuum). The rollback is a data rewrite, not a pointer
    * flip — deliberate: "current" is defined as the newest marker, so a
    * pointer-style rollback would need markers that redirect to older
    * data directories, and then vacuum would have to reference-count
    * redirects to avoid deleting a directory a live marker still points
    * at. A rewrite keeps every invariant (immutable version dirs,
    * newest-marker-wins, orphan rule) untouched at the cost of one
    * distributed copy of the table.
    *
    * Because the new version's timestamp dominates every pending delta,
    * a rollback also DISCARDS the pending delta overlay — rolling back
    * to v means "the table's content is exactly v", not "v plus
    * whatever upserts landed after the bad publish".
    *
    * Pass the table's own retention as `keepVersions` — the embedded
    * vacuum runs like any publish's, so a rollback with the default on
    * a table maintained at keepVersions=10 would silently shrink its
    * audit horizon to 3.
    */
  def rollbackTo(spark: SparkSession, root: String, version: String,
                 keepVersions: Int = 3): String =
    publish(readVersion(spark, root, version), root,
      keepVersions = keepVersions)

  /** Time-based retention — the `VACUUM ... RETAIN n HOURS` form:
    * drop published versions older than `maxAgeMs` (by their embedded
    * publish timestamp), but always keep the newest `minKeep` so the
    * count-based reader contract survives even when everything is old.
    * Orphan cleanup follows the same horizon rule as [[vacuum]].
    * Returns the removed version names. Size `maxAgeMs` to the longest
    * read (or audit/time-travel window) a deployment runs, exactly
    * like a table format's snapshot-expiry age.
    */
  def vacuumOlderThan(spark: SparkSession, root: String, maxAgeMs: Long,
                      minKeep: Int = 2): Seq[String] = {
    require(minKeep >= 2,
      s"must keep at least 2 versions so in-flight readers of the " +
        s"previous version survive a publish, got $minKeep")
    require(maxAgeMs >= 0, s"retention age must be >= 0, got $maxAgeMs")
    val l = list(spark, root)
    val cutoff = System.currentTimeMillis() - maxAgeMs
    val aged = l.versions.dropRight(minKeep).filter(versionTs(_) < cutoff)
    if (aged.isEmpty) Seq.empty else vacuumOn(l, l.versions.length - aged.length)
  }

  /** Operator introspection: one row per published version and pending
    * delta — kind, name, publish time, file count, bytes, and whether
    * the version carries a stats index. An O(manifest) FS walk (never
    * reads data files), built driver-side like every other planning
    * relation over the version listing.
    */
  def describe(spark: SparkSession, root: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val l = list(spark, root)
    def rowsFor(names: Seq[String], kind: String) = names.map { v =>
      val p = new Path(l.rootP, v)
      val files = l.fs.listStatus(p).toSeq.filterNot(s =>
        s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith("."))
      val hasStats = l.fs.exists(new Path(p, StatsDir))
      Row(kind, v, new java.sql.Timestamp(versionTs(v)),
        files.count(_.isFile), files.filter(_.isFile).map(_.getLen).sum,
        hasStats, l.base.contains(v))
    }
    val pending = if (l.base.isDefined) l.pending.toSet else Set.empty[String]
    val rows = rowsFor(l.versions, "base") ++
      rowsFor(l.deltas.filter(pending), "delta") ++
      rowsFor(l.deltas.filterNot(pending), "delta-folded")
    val schema = StructType(Seq(
      StructField("kind", StringType), StructField("name", StringType),
      StructField("published_at", TimestampType),
      StructField("num_files", IntegerType), StructField("bytes", LongType),
      StructField("has_stats", BooleanType),
      StructField("is_current", BooleanType)))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
      .orderBy("published_at", "name")
  }

  /** Small-file compaction: rewrite the current version to
    * `targetFiles` files as a NEW version — no rename of live data, no
    * reader window at all. Streaming sinks and dynamic partition
    * writes leave many KB-sized files whose per-file open and footer
    * cost dominates scans. Returns the row count (invariant-check
    * hook; the rewrite never changes data). A root holding loose,
    * unversioned parquet is refused before anything is written
    * ([[requireVersionedOrEmpty]]): migrate it first.
    *
    * The hash `repartition` DESTROYS a Z-ordered layout: inherited
    * stats are recomputed honestly (correctness never degrades), but
    * every file's min/max widens to near-corpus range and pruning
    * stops cutting. Compact a clustered table with
    * [[Clustering.publishClustered]] instead — same no-window publish,
    * layout preserved.
    */
  def compact(spark: SparkSession, root: String, targetFiles: Int,
              keepVersions: Int = 3): Long = {
    require(targetFiles > 0,
      s"target file count must be positive, got $targetFiles")
    val l = list(spark, root)
    l.requireVersionedOrEmpty()
    l.requireNoPendingDeltas("compact")
    val v = publishOn(l, scanLayers(spark, root, Seq(l.current))
      .repartition(targetFiles), keepVersions).current
    scanLayers(spark, root, Seq(v)).count()
  }

  /** Key-wise upsert of `batch` into the table (J5 semantics via
    * [[graft.operators.Joins.upsert]]), published as a new version.
    * First call on an empty root publishes the batch as-is. This is
    * the persistence step behind the idempotent streaming sink and
    * `StarSchema.accumulateDaily` — re-delivered batches converge to
    * the same state, and readers never hit the old swap window.
    */
  def upsertBatch(spark: SparkSession, batch: DataFrame, keys: Seq[String],
                  root: String, keepVersions: Int = 3,
                  statsColumns: Seq[String] = Nil,
                  bloomColumns: Seq[String] = Nil): Unit = {
    // the base scan pins a concrete version path at plan time, and
    // publish's vacuum (keepVersions >= 2) retains that version through
    // the write — the merge can stream from old to new version without
    // materializing. Stats params matter only on the FIRST publish of a
    // root (bootstrap); later calls inherit the spec either way.
    // A MOR overlay must fold into the merge base: the new base's
    // timestamp will dominate every pending delta, so reading only the
    // bare base here would silently supersede (lose) the overlay.
    val l = list(spark, root)
    val merged =
      if (l.base.isDefined) graft.operators.Joins.upsert(mergedDf(spark, root,
        scanLayers(spark, root, Seq(l.current)), l.pending, keys), batch, keys)
      else {
        // loud, not silent: a legacy plain-parquet dataset here would
        // otherwise be discarded by the bootstrap publish
        l.requireVersionedOrEmpty()
        batch
      }
    publishOn(l, merged, keepVersions, statsColumns, bloomColumns)
    ()
  }

  // ---------------------------------------------------------------------
  // Merge-on-read deltas — the scale path for high-frequency keyed
  // upserts. [[upsertBatch]] is copy-on-write: every batch rewrites the
  // whole table, O(table) work per micro-batch, which at 100 TB makes a
  // 1-row update cost a full-table pass. The MOR triple splits that:
  //
  //   appendDelta        O(batch)   write ONLY the batch, marker-commit
  //   appendDeleteDelta  O(batch)   tombstone keys (takedown w/o rewrite)
  //   readCurrentMerged  read-time  base ∪ pending deltas, newest per key
  //   compactDeltas      amortized  fold deltas into a new base
  //
  // — Iceberg/Delta's MOR trade re-expressed over the same marker
  // manifest: writes stay cheap, reads pay a window over the (small)
  // delta overlay, and compaction restores read speed on an operator's
  // schedule instead of every batch's.
  // ---------------------------------------------------------------------

  /** Published delta versions, ascending. Same marker-commit visibility
    * rules as base versions. */
  def listDeltas(spark: SparkSession, root: String): Seq[String] =
    list(spark, root).deltas

  /** Deltas strictly newer than the current base — the overlay a merged
    * read applies. Deltas at or below the base timestamp are already
    * folded in (publish timestamps strictly dominate, see [[publish]]).
    */
  def pendingDeltas(spark: SparkSession, root: String): Seq[String] =
    list(spark, root).pending

  /** Reserved flag column marking a delta row as a DELETE of its key.
    * Never appears in a published base (publish rejects it, and the
    * merged view strips it before compaction republishes).
    */
  val TombstoneCol = "_tombstone"

  /** Publish `batch` as a DELTA: an O(batch) write + marker create,
    * never touching the base. Requires a published base (bootstrap the
    * first snapshot with [[publish]]). Within a delta, keys are
    * expected unique (the [[graft.operators.Joins.upsert]] batch
    * precondition); across deltas, newer wins at merge time. A
    * re-delivered batch lands as a second identical-content delta and
    * the newest-wins merge converges — same redelivery contract as
    * [[upsertBatch]], without its full-table rewrite.
    *
    * Schema evolution: a delta may carry columns the base lacks —
    * the merged view widens to the union schema and base rows read
    * null there (parquet's own add-column semantics), and the next
    * [[compactDeltas]] bakes the widened schema into the base. A delta
    * may also carry a SUBSET of the table's columns (the merge keys are
    * the only hard requirement): rows won from such a delta read null
    * for the columns it omits — so an UPSERT delta should carry the
    * full row (its nulls are real nulls); keys-only deltas are the
    * delete form ([[appendDeleteDelta]]).
    */
  def appendDelta(batch: DataFrame, root: String): String =
    appendDeltaOn(list(batch.sparkSession, root), batch).deltas.last

  /** [[appendDelta]] over the listing `l`, stamped with `maxTsMs` when
    * given ([[appendDeltaStamped]]); returns `l` with the delta
    * committed.
    */
  private[graft] def appendDeltaOn(l: Listing, batch: DataFrame,
                                   maxTsMs: Option[Long] = None): Listing = {
    require(!batch.columns.contains(TombstoneCol),
      s"$TombstoneCol is reserved for delete deltas — use appendDeleteDelta")
    writeDelta(l, batch, maxTsMs)
  }

  /** [[appendDelta]] with a segment-expiry stamp (segment mode, r16):
    * `maxTs` — the writing batch's max event time — rides in the
    * delta's commit marker (atomic with the append: a segment is never
    * visible without its stamp), so [[vacuumExpiredDeltas]] can
    * later drop the whole segment from metadata alone, without reading
    * a row. `None` (an empty batch) stamps `Long.MinValue`: the empty
    * segment is vacuumable at the first opportunity.
    */
  def appendDeltaStamped(batch: DataFrame, root: String,
                         maxTs: Option[java.sql.Timestamp]): String =
    appendDeltaOn(list(batch.sparkSession, root), batch,
      Some(maxTs.map(_.getTime).getOrElse(Long.MinValue))).deltas.last

  /** Physically drop the PENDING delta segments whose stamped max
    * event time falls STRICTLY before `horizon` — the segment-mode
    * (`maxSegments > 0`) expiry path: per batch the stateful steps
    * append one stamped segment and drop the segments that fell fully
    * behind the batch's retention horizon, so state maintenance never
    * rewrites live rows. Un-stamped MARKED deltas are never touched
    * by this path — only a republish's [[vacuumDeltas]] subsumes
    * those. A marker that is empty or does not parse (written before
    * markers carried a manifest, or damaged) is treated as unstamped:
    * the segment is SKIPPED, loudly, instead of throwing — it must not
    * permanently fail every later batch against the store (delete the
    * segment dir to clear the warning).
    *
    * UNMARKED delta-prefixed dirs (parquet written, marker never
    * created — a crashed append) are swept too, mirroring
    * [[vacuumDeltas]]'s orphan pass: since segment mode never
    * republishes, nothing else would ever reclaim them and they
    * accumulate without bound. An orphan is provably dead garbage once
    * a LATER write committed — [[writeDelta]] assigns strictly
    * increasing timestamps, so under the steps' single-writer contract
    * any unmarked dir older than the newest COMMITTED write belongs to
    * a crashed (hence replayed) batch whose re-delivery landed its own
    * delta; the newest unmarked dir is left alone, since with
    * concurrent callers it could be an append in flight. The event-time
    * horizon is deliberately NOT consulted for orphans: commit state,
    * not content age, is what makes them garbage.
    *
    * Single-writer contract, like the steps that call it: the caller
    * must be the store's only concurrent reader, since a pending
    * segment vanishes from under any other reader's plan.
    */
  def vacuumExpiredDeltas(spark: SparkSession, root: String,
                          horizon: java.sql.Timestamp): Seq[String] =
    vacuumExpiredDeltasOn(list(spark, root), horizon)

  private[graft] def vacuumExpiredDeltasOn(l: Listing,
                                           horizon: java.sql.Timestamp)
      : Seq[String] = {
    val dead = l.pending
      .filter(d => segmentStamp(l.spark, l.root, d).exists(_ < horizon.getTime))
    // orphan pass (see scaladoc): unmarked delta dirs strictly older
    // than the newest committed write are crashed appends
    val orphans = l.unmarked(DeltaPrefix)
      .collect { case (n, ts) if ts < l.newestTs => n }
    dropLayers(l, dead ++ orphans)
    dead ++ orphans
  }

  /** L1 MERGE for segment mode (r17): fold the oldest pending STAMPED
    * segments into one, so a long retention over a short batch
    * interval (7 days at 1-minute batches ≈ 10k segments) cannot grow
    * the per-batch metadata pass and the merged read's file list
    * without bound. When more than `maxSegments` stamped segments are
    * pending, the oldest `(count − maxSegments + 1)` are read once,
    * written as ONE new delta stamped with the MAX of their stamps
    * (conservative: the merged segment expires when its youngest
    * constituent would have), and the constituents are dropped — an
    * O(rows-in-merged-segments) rewrite, bounded by retention, and
    * never O(store) because the base is untouched.
    *
    * SOUND ONLY FOR ROW-SET OVERLAYS — the stateful monitors' stores,
    * where the overlay is a bag of rows the readers union and fold
    * commutatively (distinct / keep-newest / count-sum). A keyed
    * merge-on-read overlay ([[readCurrentMerged]]) resolves newest-wins
    * by DELTA ORDER, which this fold collapses — use [[compactDeltas]]
    * there instead. Un-stamped segments and unusable markers are left
    * alone (they belong to the republish path). Expiry granularity
    * coarsens for merged rows — they now leave the store only when the
    * merged stamp expires — which is decision-invisible because the
    * steps' horizon filter drops expired rows on READ.
    *
    * Crash-safe under the single-writer contract: the merged segment
    * commits (marker) BEFORE the constituents are dropped, so a crash
    * between the two leaves duplicate rows across layers — exactly the
    * overlay-duplicate class every reader already absorbs — and the
    * next merge converges. Returns the names of the folded segments
    * (empty when the backlog is within bound).
    *
    * Single-writer tripwire: when a merge is due and an UNMARKED
    * delta directory at least as new as the newest committed write
    * exists — a second writer's append in flight, which under the
    * single-writer contract cannot happen — the merge is REFUSED with a
    * loud stderr message and retried next batch, rather than deleting
    * committed segments out from under a racing writer's readers. The
    * tripwire lists the root afresh — after the caller's own append —
    * and only when a merge is due.
    */
  def compactSegments(spark: SparkSession, root: String,
                      maxSegments: Int): Seq[String] =
    compactSegmentsOn(list(spark, root), maxSegments)

  private[graft] def compactSegmentsOn(l: Listing,
                                       maxSegments: Int): Seq[String] = {
    require(maxSegments >= 1, s"maxSegments must be >= 1, got $maxSegments")
    val (spark, root) = (l.spark, l.root)
    // pending is ascending by construction → oldest first
    val stamped = l.pending
      .flatMap(d => segmentStamp(spark, root, d).map(d -> _))
    if (stamped.size <= maxSegments) return Seq.empty
    val now = list(spark, root)
    val inFlight = now.unmarked(DeltaPrefix)
      .collect { case (n, ts) if ts >= now.newestTs => n }
    if (inFlight.nonEmpty) {
      System.err.println(
        s"[graft] REFUSING segment merge at $root: unmarked delta " +
          s"dir(s) ${inFlight.mkString(", ")} are at least as new as the " +
          s"newest committed write — a second writer appears to be " +
          s"appending concurrently, violating the store's single-writer " +
          s"contract (VersionedTable scaladoc); skipping this batch's L1 " +
          s"merge, will retry next batch")
      return Seq.empty
    }
    val fold = stamped.take(stamped.size - maxSegments + 1)
    // the union of the constituents' schemas: deltas may widen
    writeDelta(now, scanLayers(spark, root, fold.map(_._1)),
      Some(fold.map(_._2).max))
    dropLayers(l, fold.map(_._1))
    fold.map(_._1)
  }

  /** Publish a DELETE delta: `keysBatch` holds the key columns of the
    * rows to remove (extra columns are ignored by the merge and should
    * be dropped by the caller; duplicates are collapsed). The rows stop
    * appearing in [[readCurrentMerged]] the instant the marker lands —
    * an O(batch) takedown on a table whose copy-on-write delete would
    * cost a full rewrite — and are physically removed by the next
    * [[compactDeltas]]. Newest-wins composes across kinds: a later
    * upsert delta re-inserts a deleted key; a later delete removes an
    * upserted one. Deleting an absent key is a no-op (the tombstone
    * wins its own key window, then the merged view filters it), so
    * redelivery converges like every other delta.
    */
  def appendDeleteDelta(keysBatch: DataFrame, root: String): String =
    appendDeleteDeltaOn(list(keysBatch.sparkSession, root), keysBatch)
      .deltas.last

  private[graft] def appendDeleteDeltaOn(l: Listing,
                                         keysBatch: DataFrame): Listing = {
    require(!keysBatch.columns.contains(TombstoneCol),
      s"$TombstoneCol is reserved — pass bare key columns")
    writeDelta(l,
      keysBatch.dropDuplicates().withColumn(TombstoneCol, lit(true)), None)
  }

  /** Write and commit `batch` as a delta named above every layer `l`
    * lists; returns `l` with it committed.
    */
  private def writeDelta(l: Listing, batch: DataFrame,
                         maxTsMs: Option[Long]): Listing = {
    require(l.base.isDefined,
      s"appendDelta needs a published base at ${l.root} — publish() the first snapshot")
    val ts = math.max(System.currentTimeMillis(), l.newestTs + 1)
    val token = java.util.UUID.randomUUID().toString.take(8)
    val delta = f"$DeltaPrefix$ts%013d-$token"
    batch.write.mode("errorifexists").parquet(new Path(l.rootP, delta).toString)
    commitMarker(l.fs, l.rootP, delta, batch.schema, maxTsMs)
    l.committed(delta)
  }

  /** The merged view: current base plus pending deltas, newest write
    * per key winning (delta over base, later delta over earlier).
    * Delete deltas ([[appendDeleteDelta]]) drop their keys; a delta
    * that added columns widens the view to the union schema (rows from
    * layers without a column read null). The plan scans two relations
    * however many deltas are pending: the base, and the whole overlay
    * as one scan whose rows rank by their layer's name ([[mergedDf]]).
    * Only the OVERLAY is ever shuffled (its newest-wins window) — the
    * base streams through a left-anti join that AQE broadcasts while
    * the overlay is small, so the merged read's extra cost over a bare
    * scan tracks overlay size, never table size. File skipping does
    * not apply through the overlay; compact to restore stats-backed
    * pruned reads.
    */
  def readCurrentMerged(spark: SparkSession, root: String,
                        keys: Seq[String]): DataFrame = {
    val l = list(spark, root)
    mergedDf(spark, root, scanLayers(spark, root, Seq(l.current)), l.pending,
      keys)
  }

  /** [[readCurrentWhere]] through the delta overlay: file-stats
    * skipping applies to the BASE scan even while deltas are pending,
    * so a selective merged read keeps its pruning instead of waiting
    * for compaction. Identical to `readCurrentMerged(...).where(pred)`
    * — pruning the base is sound because a skipped base row (one no
    * kept file can contain, i.e. it fails every predicate) is either
    * filtered post-merge anyway or superseded by an overlay row that
    * alone determines its key's output; the OVERLAY is never pruned
    * (deltas carry no file stats, and a tombstone must still suppress
    * a pruned-in base row), and the exact row predicate re-applies to
    * the merged result, so skipping remains purely a scan
    * optimization. Falls back to the full base scan when stats are
    * missing or cannot evaluate a predicate.
    */
  def readCurrentMergedWhere(spark: SparkSession, root: String,
                             keys: Seq[String],
                             preds: Seq[SkipPred]): DataFrame = {
    require(preds.nonEmpty, "readCurrentMergedWhere needs at least one predicate")
    val l = list(spark, root)
    mergedDf(spark, root, prunedCurrent(l, preds), l.pending, keys)
      .where(preds.map(_.rowPredicate).reduce(_ && _))
  }

  /** The newest-wins view of `baseDf` (a scan of one base version,
    * possibly file-pruned) under an explicit delta list: callers pass
    * their listing's pending deltas, and [[compactDeltasOn]] passes the
    * exact set it is folding, which is what makes its stranded-delta
    * recovery sound. Delete deltas drop their keys; schema-evolved
    * deltas widen the output to the union schema (missing columns read
    * null). A caller that pruned the base must only have removed rows
    * its final predicate rejects: such a row is either filtered
    * post-merge anyway or superseded by an overlay row that alone
    * determines its key's output.
    *
    * The deltas are ONE scan ([[scanLayers]], which refuses a layer
    * missing a key). A row's newest-wins rank is the name of the layer
    * it was read from — the directory of its `_metadata.file_path`,
    * resolved as a metadata column so a table column of that name
    * cannot shadow it. Delta names are `d-<13-digit ts>-<token>` and a
    * [[Listing]] sorts them by name, so the greatest name is the newest
    * delta, and racing writers tie-break exactly as the listing orders
    * them.
    *
    * The plan never shuffles the BASE: newest-wins is resolved inside
    * the overlay alone (a key-partitioned window over the overlay scan
    * — overlay-sized state), and the base enters through a left-anti
    * join against the overlay's key set, which AQE broadcasts while
    * the overlay is small — the common regime, since compaction keeps
    * it so. A key-partitioned window over base ∪ overlay would instead
    * exchange the full table on every merged read — at 100 TB that is
    * the difference between a broadcast probe and a table-wide
    * shuffle. Superseded-base suppression uses ALL overlay keys
    * (tombstoned included); the tombstone filter then applies only to
    * overlay winners, so a deleted key vanishes and a re-inserted one
    * survives.
    */
  private def mergedDf(spark: SparkSession, root: String, baseDf: DataFrame,
                       deltas: Seq[String], keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "merge needs at least one key column")
    if (deltas.isEmpty) baseDf
    else {
      // a base missing a key fails the anti-join's analysis below, before
      // any job; the overlay's union schema would hide a keyless delta
      val overlay = scanLayers(spark, root, deltas, keys = keys)
      require(!overlay.columns.contains("_rn"),
        "working column _rn clashes with a table column")
      val layer = element_at(
        split(overlay.metadataColumn("_metadata")("file_path"), "/"), -2)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keys.map(col): _*).orderBy(layer.desc)
      val winners = overlay
        .withColumn("_rn", row_number().over(w))
        .where(col("_rn") === 1)
        .drop("_rn")
      val live =
        if (winners.columns.contains(TombstoneCol))
          winners.where(!coalesce(col(TombstoneCol), lit(false)))
            .drop(TombstoneCol)
        else winners
      baseDf.join(winners.select(keys.map(col): _*), keys, "left_anti")
        .unionByName(live, allowMissingColumns = true)
    }
  }

  /** Fold every pending delta into a NEW base version (publish — so
    * stats are inherited and recomputed, and the new base timestamp
    * strictly dominates the folded deltas), then remove deltas no
    * retained-base reader can still need: a reader that resolved any
    * RETAINED base B applies only deltas newer than B, so deltas at or
    * below the OLDEST retained base's timestamp are provably dead —
    * the same retention horizon the base vacuum uses. Marker-less
    * (crashed-append) delta dirs older than that horizon are orphans
    * and removed too. No-op when nothing is pending. Returns the
    * current base.
    */
  def compactDeltas(spark: SparkSession, root: String, keys: Seq[String],
                    keepVersions: Int = 3): String =
    compactDeltasOn(list(spark, root), keys, keepVersions)

  /** [[compactDeltas]] from the listing `l`. A delta that a concurrent
    * [[appendDelta]] lands after `l` was taken gets a timestamp the new
    * base will dominate; without recovery it would be STRANDED —
    * `pending` (ts > base) would consider it folded when it never was,
    * silently losing its rows. The loop closes that race: after each
    * publish it re-lists the root once and folds the deltas in
    * `(previous base ts, new base ts]` not in the folded set onto the
    * new base (they were appended later, so overlaying them last
    * preserves newest-wins order), repeating until none appear; the
    * vacuum runs on that last listing. Each round folds every delta
    * visible at its start, so the loop only continues while writers
    * keep racing the publish — quiesced (or single-writer, e.g. the
    * streaming sink) it runs one round, and the fold lists the root
    * once beyond `l`.
    */
  private[graft] def compactDeltasOn(l: Listing, keys: Seq[String],
                                     keepVersions: Int = 3): String = {
    val (spark, root) = (l.spark, l.root)
    val preFoldedTs = versionTs(l.current)
    var now = l
    var base = l.current
    var folded = Set.empty[String]
    var pending = l.pending
    while (pending.nonEmpty) {
      base = publishOn(now, mergedDf(spark, root,
        scanLayers(spark, root, Seq(base)), pending, keys), keepVersions).current
      folded ++= pending
      now = list(spark, root)
      pending = now.deltas.filter(d =>
        versionTs(d) > preFoldedTs && versionTs(d) <= versionTs(base) &&
          !folded.contains(d))
    }
    vacuumDeltasOn(now)
    base
  }

  /** Remove delta dirs no retained-base reader can still need: a
    * reader that resolved any RETAINED base B applies only deltas
    * newer than B, so deltas (and marker-less crashed-append orphans)
    * at or below the OLDEST retained base's timestamp are provably
    * dead — the same horizon rule the base vacuum uses. This is the
    * physical-cleanup half of [[compactDeltas]], callable on its own
    * by paths that fold pending deltas through their own [[publish]]
    * (e.g. a retention store's republish over pending segments) and would otherwise
    * orphan every subsumed delta directory forever. Returns the
    * removed names; no-op when the root has no published version.
    */
  def vacuumDeltas(spark: SparkSession, root: String): Seq[String] =
    vacuumDeltasOn(list(spark, root))

  private[graft] def vacuumDeltasOn(l: Listing): Seq[String] =
    l.versions.headOption.fold(Seq.empty[String]) { oldest =>
      val horizon = versionTs(oldest)
      val dead = l.deltas.filter(versionTs(_) <= horizon) ++
        l.unmarked(DeltaPrefix).collect { case (n, ts) if ts <= horizon => n }
      dropLayers(l, dead)
      dead
    }
}
