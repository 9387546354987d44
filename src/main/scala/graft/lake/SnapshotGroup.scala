package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Cross-table consistent snapshots over [[VersionedTable]] roots — the
  * multi-table commit a star-schema publish needs (fact and dimensions
  * must move together, or a reader joins today's fact against
  * yesterday's dimension keys). The reference publishes its warehouse
  * tables one directory at a time with no cross-table atomicity
  * (`storage_manager.py`-style per-dataset writes); this closes that
  * window structurally.
  *
  * Design: each member table is an ordinary [[VersionedTable]] under
  * `groupRoot/<name>` — published normally (per-table marker, stats
  * inheritance, vacuum all apply). The GROUP commit is one small
  * manifest file `g-<ts>-<token>` at the group root whose lines pin
  * `name<TAB>version`, written to a dot-temp file and RENAMED into
  * place — rename is the atomic visibility point, so a reader resolving
  * the newest manifest sees either the complete new snapshot or the
  * complete previous one, never a mix, even while member publishes are
  * mid-flight (those advance per-table markers only; group readers
  * never consult per-table markers).
  *
  * Retention contract: member tables keep `keepVersions` versions
  * (their own vacuum), manifests keep `keepSnapshots`. Size
  * `keepVersions >= keepSnapshots + 1` (enforced at publish) so no
  * retained manifest can reference a vacuumed member version — each
  * snapshot pins at most one version per member. The contract extends
  * to DIRECT member publishes (`VersionedTable.publish` /
  * `rollbackTo` on `groupRoot/<name>`): they run the member's vacuum
  * too and burn retention slots of their own, so the general sizing
  * rule is keepVersions > (member publishes per snapshot interval) ×
  * keepSnapshots — with direct publishes interleaved, pass a
  * correspondingly larger `keepVersions` on every publish of that
  * member or an older retained manifest's pin can age out. Reading a
  * manifest older than retention fails with the
  * standard [[VersionedTable.readVersion]] error, exactly like time
  * travel past snapshot expiry in a table format.
  *
  * 100 TB shape: the manifest is O(tables) bytes of driver-side FS
  * work; all data movement is the member publishes themselves
  * (distributed writes). Nothing here adds a shuffle or a collect.
  */
object SnapshotGroup {

  private val ManifestPrefix = "g-"

  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Publish every table, then commit the group manifest atomically.
    * Returns the snapshot name. Tables are published in map order;
    * a crash between member publishes leaves per-table currents
    * advanced but the GROUP still on its previous manifest — group
    * readers never observe the torn state.
    */
  def publishSnapshot(spark: SparkSession, groupRoot: String,
                      tables: Seq[(String, DataFrame)],
                      keepSnapshots: Int = 3,
                      keepVersions: Int = 4): String = {
    require(tables.nonEmpty, "a snapshot needs at least one table")
    require(keepSnapshots >= 1,
      s"must keep at least one snapshot, got $keepSnapshots")
    require(keepVersions >= keepSnapshots + 1,
      s"keepVersions ($keepVersions) must exceed keepSnapshots " +
        s"($keepSnapshots) so no retained manifest references a " +
        "vacuumed member version")
    val names = tables.map(_._1)
    require(names.distinct.length == names.length,
      s"duplicate table names in snapshot: ${names.mkString(", ")}")
    names.foreach(n => require(!n.contains("/") && !n.contains("\t") &&
      n.nonEmpty, s"table name must be a plain segment, got '$n'"))
    val rootP = new Path(groupRoot)
    val fs = fsOf(spark, rootP)
    fs.mkdirs(rootP)
    val pinned = tables.map { case (name, df) =>
      name -> VersionedTable.publish(df, s"$groupRoot/$name",
        keepVersions = keepVersions)
    }
    // one listing of the group root serves the commit, the prune and
    // the sweep
    val listed = VersionedTable.list(spark, groupRoot).names
    val committed = snapshotsIn(listed)
    val snapshot = commitManifest(spark, groupRoot, committed, pinned,
      "snapshot")
    // prune old manifests beyond retention (their member versions age
    // out through the members' own vacuum), plus dot-temps of CRASHED
    // writers only — judged by an age horizon, not by name: a
    // concurrent writer's in-flight temp can carry ANY nearby
    // timestamp (it computed its ts before or after ours), so the only
    // safe "provably dead" test is an embedded ts a full hour stale.
    (committed :+ snapshot).dropRight(keepSnapshots)
      .foreach(m => fs.delete(new Path(rootP, m), false))
    val deadHorizon = System.currentTimeMillis() - 3600 * 1000L
    listed
      .filter(n => n.startsWith(s".$ManifestPrefix") && n.endsWith(".tmp"))
      .filter(n => manifestTsOpt(n.stripPrefix(".").stripSuffix(".tmp"))
        .exists(_ < deadHorizon))
      .foreach(n => fs.delete(new Path(rootP, n), false))
    snapshot
  }

  /** Committed snapshots, ascending (oldest first). Names this writer
    * could not have produced (a stray user-made `g-` file) are ignored,
    * not crashed on — the [[VersionedTable]] vacuum discipline.
    */
  def listSnapshots(spark: SparkSession, groupRoot: String): Seq[String] =
    snapshotsIn(VersionedTable.list(spark, groupRoot).names)

  private def snapshotsIn(entries: Seq[String]): Seq[String] =
    entries.filter(n => n.startsWith(ManifestPrefix) && !n.endsWith(".tmp") &&
      manifestTsOpt(n).isDefined).sorted

  private def manifestTsOpt(m: String): Option[Long] =
    VersionedTable.digitsTs(m.stripPrefix(ManifestPrefix))

  private def manifestTs(m: String): Long = manifestTsOpt(m).getOrElse(
    throw new IllegalArgumentException(s"not a snapshot name: $m"))

  /** The pinned `table → version` map of a snapshot (newest when
    * `snapshot` is None).
    */
  def snapshotTables(spark: SparkSession, groupRoot: String,
                     snapshot: Option[String] = None): Map[String, String] =
    pinsIn(spark, groupRoot, listSnapshots(spark, groupRoot), snapshot)

  /** [[snapshotTables]] against the `committed` snapshots of one
    * listing: reads the manifest, lists nothing.
    */
  private def pinsIn(spark: SparkSession, groupRoot: String,
                     committed: Seq[String],
                     snapshot: Option[String]): Map[String, String] = {
    val name = snapshot.orElse(committed.lastOption)
      .getOrElse(throw new IllegalStateException(
        s"no committed snapshot under $groupRoot"))
    require(committed.contains(name),
      s"$name is not a committed snapshot of $groupRoot " +
        "(pruned past keepSnapshots, or never existed)")
    val rootP = new Path(groupRoot)
    val fs = fsOf(spark, rootP)
    val in = fs.open(new Path(rootP, name))
    val text = try {
      new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
    text.split("\n").filter(_.nonEmpty).map { line =>
      val Array(t, v) = line.split("\t", 2)
      t -> v
    }.toMap
  }

  /** Roll the GROUP back to a prior snapshot: re-commit its pins as
    * the newest manifest. Unlike [[VersionedTable.rollbackTo]] this IS
    * a pointer flip — member version directories are immutable and the
    * old manifest already names them, so the rollback writes O(tables)
    * bytes and moves no data. The rolled-back-to versions must still
    * be retained (standard snapshot-expiry semantics — reading an aged
    * pin fails loudly); member tables' own current markers are NOT
    * touched, group readers never consult them.
    */
  def rollbackToSnapshot(spark: SparkSession, groupRoot: String,
                         snapshot: String): String = {
    val committed = listSnapshots(spark, groupRoot)
    val pins = pinsIn(spark, groupRoot, committed, Some(snapshot))
    // fail loudly NOW if any pin has aged out, not at first read
    pins.foreach { case (t, v) =>
      require(VersionedTable.list(spark, s"$groupRoot/$t").versions.contains(v),
        s"cannot roll back to $snapshot: member '$t' version $v has been " +
          "vacuumed (snapshot expired)")
    }
    commitManifest(spark, groupRoot, committed, pins.toSeq.sortBy(_._1),
      "rollback")
  }

  /** Commit a manifest pinning `pins`, in the caller's order, as the
    * newest snapshot: its name carries a timestamp strictly above every
    * `committed` manifest's (the clock-skew guard of
    * [[VersionedTable.publish]]) and a random token, and its dot-temp
    * file is renamed into place — the atomic visibility point. A
    * failed rename throws. Returns the manifest name.
    */
  private def commitManifest(spark: SparkSession, groupRoot: String,
                             committed: Seq[String],
                             pins: Seq[(String, String)],
                             kind: String): String = {
    val rootP = new Path(groupRoot)
    val fs = fsOf(spark, rootP)
    val ts = math.max(System.currentTimeMillis(),
      committed.map(manifestTs).maxOption.map(_ + 1).getOrElse(0L))
    val token = java.util.UUID.randomUUID().toString.take(8)
    val name = f"$ManifestPrefix$ts%013d-$token"
    if (!VersionedTable.renameIntoPlace(fs, new Path(rootP, s".$name.tmp"),
        new Path(rootP, name),
        pins.map { case (n, v) => s"$n\t$v" }.mkString("", "\n", "\n")))
      throw new IllegalStateException(
        s"could not commit $kind manifest $name under $groupRoot")
    name
  }

  /** Operator introspection: one row per (snapshot, member) with the
    * pinned version, whether the snapshot is current, and whether the
    * pin is still readable (not vacuumed). One listing of the group
    * root, one read per manifest and one listing per member root,
    * however many snapshots pin it — driver-side FS work, the
    * [[VersionedTable.describe]] discipline.
    */
  def describe(spark: SparkSession, groupRoot: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val snaps = listSnapshots(spark, groupRoot)
    val pins = snaps.map(s => s -> pinsIn(spark, groupRoot, snaps, Some(s)))
    val retained = pins.flatMap(_._2.keys).distinct.map(t =>
      t -> VersionedTable.list(spark, s"$groupRoot/$t").versions.toSet).toMap
    val rows = pins.flatMap { case (s, tables) =>
      tables.toSeq.sortBy(_._1).map { case (t, v) =>
        Row(s, t, v, snaps.lastOption.contains(s), retained(t)(v))
      }
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("snapshot", StringType, nullable = false),
        StructField("table", StringType, nullable = false),
        StructField("version", StringType, nullable = false),
        StructField("is_current", BooleanType, nullable = false),
        StructField("pin_readable", BooleanType, nullable = false))))
  }

  /** Read one member table at the snapshot's pinned version (newest
    * snapshot when `snapshot` is None) — NOT the table's own current
    * marker, which may already have advanced past the group commit.
    */
  def readSnapshot(spark: SparkSession, groupRoot: String, table: String,
                   snapshot: Option[String] = None): DataFrame = {
    val pins = snapshotTables(spark, groupRoot, snapshot)
    val v = pins.getOrElse(table, throw new IllegalArgumentException(
      s"table '$table' is not part of snapshot " +
        s"(members: ${pins.keys.toSeq.sorted.mkString(", ")})"))
    VersionedTable.readVersion(spark, s"$groupRoot/$table", v)
  }
}
