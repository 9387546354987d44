package graft.lake

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Ranking

/** Multi-column clustering layout (Morton / Z-order) for the versioned
  * lake, the write-side half of [[VersionedTable]]'s file skipping: a
  * single sort key can make min/max pruning perfect on ONE column but
  * useless on every other, while interleaving the bits of several
  * per-column ranks gives every clustered column locality ∝ 2^-bits per
  * file, so a range predicate on ANY of them prunes most files.
  *
  * Per-column ranks are EQUI-DEPTH, not min/max-scaled: each column is
  * bucketed by [[Ranking.globalNtile]] (two-phase, no single-partition
  * window), so a lognormal `o_totalprice` spreads over all 2^bits codes
  * instead of collapsing into the first few the way linear min/max
  * scaling would. The cost — one local sort + broadcast-offsets join
  * per clustered column — is write-time only and amortizes over every
  * pruned read, the same trade a table format's OPTIMIZE ZORDER makes.
  *
  * Tie-break within equal column values is partition-dependent; that
  * only moves rows between ADJACENT buckets, which perturbs layout, not
  * results — readers re-apply exact predicates ([[VersionedTable.ColRange
  * .rowPredicate]]), so clustering can never change query output.
  */
object Clustering {

  /** Append a Z-value column: interleaves the low `bits` bits of each
    * column's equi-depth bucket rank, column j's bit i landing at
    * position `i*n + j`. Nulls land in bucket 0 — they cluster
    * together, and null-rejecting range reads skip their files.
    *
    * Bucketing is equi-depth two ways (r19, guide §1.2 — fewer passes
    * and shuffles beat per-stage tuning):
    *
    *  - ALL-NUMERIC clustering columns (every caller in the repo) take
    *    the QUANTILE-SKETCH path: one aggregation pass computes every
    *    column's 2^bits−1 equi-depth cutpoints
    *    (`df.stat.approxQuantile`, relative error 1/(4·2^bits) — a
    *    quarter-bucket), and the bucket code becomes a map-side
    *    balanced binary-search expression over those literal
    *    cutpoints. The pre-r19 exact-ntile path paid one
    *    `repartitionByRange` FULL-DATA SHUFFLE, one localCheckpoint
    *    materialization, one window pass and one broadcast join PER
    *    CLUSTERED COLUMN before the final Z-range shuffle — at 100 TB,
    *    clustering on two columns moved the corpus across the network
    *    three times; the sketch path moves it once. Bucket boundaries
    *    shift by at most the sketch error, which perturbs LAYOUT only:
    *    readers re-apply exact predicates
    *    ([[VersionedTable.SkipPred.rowPredicate]]), so query results
    *    are bit-identical by construction, and the multi-dimensional
    *    pruning bound (≤ half the files for an eighth-range on any
    *    clustered column, VersionedTableSpec) holds unchanged.
    *
    *  - Any NON-numeric clustering column falls back to the exact
    *    [[Ranking.globalNtile]] two-phase rank (sketch quantiles need
    *    numeric values; strings/dates keep the pre-r19 plan).
    */
  def withZValue(df: DataFrame, cols: Seq[String], bits: Int,
                 out: String): DataFrame = {
    require(cols.nonEmpty, "need at least one clustering column")
    require(bits >= 1 && bits * cols.size <= 62,
      s"bits*columns must fit a long, got $bits x ${cols.size}")
    val working = cols.map(c => s"${out}_b_$c")
    (working :+ out).foreach(w => require(!df.columns.contains(w),
      s"working column $w clashes with an input column"))
    val allNumeric = cols.forall(c => df.schema(c).dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType])
    val bucketed =
      if (allNumeric) {
        val k = 1 << bits
        val probs = (1 until k).map(_.toDouble / k).toArray
        val cutsAll = df.stat.approxQuantile(cols.toArray, probs, 1.0 / (4 * k))
        cols.zip(working).zip(cutsAll).foldLeft(df) {
          case (d, ((c, b), cuts)) =>
            // 1-based to match ntile, so the interleave below is shared
            d.withColumn(b, (quantileBucket(col(c), cuts) + 1).cast("int"))
        }
      } else cols.zip(working).foldLeft(df) { case (d, (c, b)) =>
        Ranking.globalNtile(d, Seq(col(c)), 1 << bits, b)
      }
    val n = cols.size
    // ntile is 1-based; bucket-1 keeps codes in [0, 2^bits)
    val z = (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      working.zipWithIndex.foldLeft(acc) { case (a, (b, j)) =>
        a.bitwiseOR(shiftleft(
          shiftright((col(b) - 1).cast("long"), i).bitwiseAND(lit(1L)),
          i * n + j))
      }
    }
    bucketed.withColumn(out, z).drop(working: _*)
  }

  /** 0-based equi-depth bucket of `v` among ascending `cuts` (the
    * 2^bits−1 interior quantile cutpoints): bucket b = max{i : v ≥
    * cuts(i−1)}, as a BALANCED BINARY SEARCH of literal comparisons —
    * depth log₂(2^bits) of codegen'd `when` branches per row, no
    * interpreted higher-order functions. A null (or any comparison
    * against it) takes the low branch at every level and lands in
    * bucket 0, matching the ntile path's nulls-first convention;
    * duplicate cutpoints (heavy ties) collapse adjacent buckets, the
    * same degeneracy exact ntile has on tied values. Empty `cuts`
    * (empty input) puts everything in bucket 0.
    */
  private def quantileBucket(v: Column, cuts: Array[Double]): Column = {
    val vd = v.cast("double")
    // search(lo, hi) resolves buckets lo..hi; cuts(i-1) separates
    // bucket i-1 from bucket i
    def search(lo: Int, hi: Int): Column =
      if (lo == hi) lit(lo.toLong)
      else {
        val mid = (lo + hi + 1) / 2
        when(vd >= lit(cuts(mid - 1)), search(mid, hi))
          .otherwise(search(lo, mid - 1))
      }
    if (cuts.isEmpty) lit(0L) else search(0, cuts.length)
  }

  /** Re-lay `df` out as `numFiles` Z-ordered ranges: range-partition on
    * the Z-value so each output file owns a contiguous Z interval (=
    * a small hyper-rectangle neighborhood of the clustered columns),
    * sort within partitions so parquet row-group stats are tight too,
    * then drop the helper. Schema out == schema in.
    */
  def cluster(df: DataFrame, cols: Seq[String], numFiles: Int,
              bits: Int = 8): DataFrame = {
    require(numFiles > 0, s"numFiles must be positive, got $numFiles")
    val zc = "_graft_z"
    val z = withZValue(df, cols, bits, zc)
    z.repartitionByRange(numFiles, col(zc))
      .sortWithinPartitions(zc)
      .drop(zc)
  }

  /** Cluster and publish in one step, with file stats on the clustered
    * columns (plus any `extraStats`) so [[VersionedTable.readCurrentWhere]]
    * can prune on every clustered dimension.
    */
  def publishClustered(df: DataFrame, root: String, cols: Seq[String],
                       numFiles: Int, bits: Int = 8,
                       keepVersions: Int = 3,
                       extraStats: Seq[String] = Nil): String =
    VersionedTable.publish(cluster(df, cols, numFiles, bits), root,
      keepVersions, statsColumns = (cols ++ extraStats).distinct)

  /** OPTIMIZE for a clustered table: rewrite the CURRENT version
    * re-clustered (fresh equi-depth ranks over today's value
    * distribution, `targetFiles` Z-ranges) as a new version — the
    * layout-preserving counterpart of [[VersionedTable.compact]],
    * whose hash repartition would destroy the Z-order. Run after
    * enough upserts have interleaved unclustered rows that file
    * min/max ranges drift wide. Same no-window manifest publish; the
    * guards, the base read and the publish share one root listing, and
    * a plain parquet directory is refused before anything is written.
    */
  def recluster(spark: org.apache.spark.sql.SparkSession, root: String,
                cols: Seq[String], targetFiles: Int, bits: Int = 8,
                keepVersions: Int = 3, extraStats: Seq[String] = Nil): String = {
    // reads only the bare base — a pending MOR overlay would be
    // silently superseded by the republish; fold it first
    val l = VersionedTable.list(spark, root)
    l.requireVersionedOrEmpty()
    l.requireNoPendingDeltas("recluster")
    val base = VersionedTable.scanLayers(spark, root, Seq(l.current))
    VersionedTable.publishOn(l, cluster(base, cols, targetFiles, bits),
      keepVersions, statsColumns = (cols ++ extraStats).distinct).current
  }
}
