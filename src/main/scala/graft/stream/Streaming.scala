package graft.stream

import graft.core.Observed
import graft.operators.Joins
import graft.lake.VersionedTable
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp
import graft.functions.StableMath.gridSnap

/** Structured-Streaming re-expression of the reference's micro-batch
  * layer (`dl/src/big_data/streaming_processor.py`,
  * `dl/src/monitoring/pipeline_monitor.py`).
  *
  * The reference is processing-time asyncio polling with Redis-persisted
  * progress; here the same semantics ride on Spark's native machinery:
  * checkpointed offsets replace the Redis watermark (T3), event-time
  * watermarks + dropDuplicates replace the idempotent upsert (T6), and
  * windowed aggregations replace the scheduled health SQL (T7).
  * Every transform below works identically on a batch DataFrame and a
  * streaming one — the plans are written once and used in both modes
  * (tested in batch via the oracle, in streaming via MemoryStream).
  */
object Streaming {

  /** Batch-side row cap for the STORE-SHUFFLE-FREE probe the
    * stateful dedup/novelty steps use (r16): when the batch's key
    * relation fits, the store probe runs as
    * store-scan ⋈ broadcast(batch) — the store streams through a
    * BroadcastHashJoin with NO exchange on the store side, so a
    * segment-mode batch never shuffles O(store) rows; the only
    * remaining store-wide shuffle is the republish fold. Past the cap the classic shuffled probe takes
    * over (broadcasting unbounded batch rows would sink the driver,
    * not the executors). ~4M (shingle|band, id) rows ≈ low hundreds
    * of MB broadcast — sized for a micro-batch, not a backfill.
    */
  val ProbeBroadcastMaxRows: Long = 4000000L

  /** [[ProbeBroadcastMaxRows]] for the semantic-dedup probe, whose
    * batch rows carry a d-double embedding each — 8d bytes/row against
    * the band probe's ~16, hence the smaller cap.
    */
  val ProbeBroadcastMaxVecRows: Long = 250000L

  /** A segment-mode `maxSegments` for long-running stores (r18): the
    * L1 merge ([[graft.lake.VersionedTable.compactSegments]]) folds the
    * oldest stamped segments once more than this many are pending. 64
    * keeps the measured O(segments) metadata term flat (SCALING.md's
    * segment sweep is flat to ~100 segments) while making the merge
    * rare — at 1-minute batches it fires about once an hour and
    * rewrites at most ~64 batch-sized segments, never the base.
    */
  val SegmentMergeBound: Int = 64

  /** The store-vs-batch collision probe shared by
    * [[noveltyGateBatchStep]], [[nearDedupBatchCompute]] and
    * [[semanticDedupBatchCompute]]: an inner equi-join of the store
    * side with the batch's key relation. Below `maxRows` batch rows
    * the BATCH side broadcasts and the store streams through the
    * BroadcastHashJoin with no exchange below it (plan-pinned in
    * PlanSpec); past the cap the classic shuffled join takes over.
    * Both shapes return the same matched multiset up to the duplicate
    * store keys a delta overlay can carry — every caller absorbs
    * those with a distinct, a countDistinct or a flag. A `left_semi`
    * probe returns the matched keys only: store rows in the broadcast
    * shape, batch rows in the shuffled one.
    */
  private[graft] def storeProbe(storeSide: DataFrame, keys: Seq[String],
                                batchSide: DataFrame, batchRows: Long,
                                maxRows: Long,
                                joinType: String = "inner"): DataFrame =
    if (batchRows <= maxRows)
      storeSide.join(broadcast(batchSide), keys, joinType)
    else batchSide.join(storeSide, keys, joinType)

  /** Per-batch expiry coordinates, observed for FREE on the batch's own
    * key-relation materialization: the batch's max event time (in
    * segment mode, the new segment's conservative stamp — rows can only
    * be older) and the retention horizon (max ts − retention, computed
    * with Spark's own interval arithmetic so stamp expiry and row
    * expiry can never disagree). (None, None) on an empty batch: keep
    * the store untouched — no expiry filter, no stamp advance, no
    * vacuum.
    *
    * The steps thread the SAME values into both the compute half's
    * live-store filter and the segment stamp/vacuum (r17): pre-r17 the
    * filter re-derived the horizon from a second aggregation over the
    * raw batch, so a source whose re-read is not bit-deterministic
    * could vacuum under a horizon that disagrees with the one the drop
    * decisions used. Collecting it also turns the store's expiry
    * filter into a LITERAL predicate — pushable into the store's
    * parquet scan (row-group stats skip fully-expired files), where the
    * old crossJoin(broadcast(1-row)) shape blocked pushdown entirely.
    *
    * r19 (guide §1.2 — remove unnecessary passes): the bounds used to
    * be a SEPARATE 1-row aggregation job over the batch, run before
    * every step's key-relation pass. [[observeBounds]] attaches the
    * identical aggregate as a `CollectMetrics` observation ON the batch
    * scan that feeds the key relation (bands / shingles / bucketed
    * vectors), so the step's own `localCheckpoint` materialization
    * delivers the values — one fewer batch scan and one fewer Spark job
    * per batch, with the aggregate arithmetic unchanged. The bounded
    * await + loud failure discipline is [[graft.core.Observed]]'s.
    */
  private def observeBounds(batch: DataFrame, tsCol: String,
                            retention: String)
      : (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation()
    (batch.observe(obs, max(col(tsCol)).as("_mx"),
      (max(col(tsCol)) - expr(s"INTERVAL $retention")).as("_h")), obs)
  }

  /** Collect [[observeBounds]]' metrics after the observed plan has
    * materialized (via the step's key-relation `localCheckpoint`).
    */
  private def observedBounds(obs: org.apache.spark.sql.Observation,
                             caller: String)
      : (Option[Timestamp], Option[Timestamp]) = {
    val m = Observed.await(obs, caller)
    (m.get("_mx").flatMap(Option(_)).map(_.asInstanceOf[Timestamp]),
      m.get("_h").flatMap(Option(_)).map(_.asInstanceOf[Timestamp]))
  }

  /** splitmix64 finalizer — driver-side avalanche for combining the
    * quantizer-fingerprint aggregate's three longs into one stamped
    * value. Fixed constants, deterministic across sessions.
    */
  private def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Event envelope (T1, `streaming_processor.py:34-43`), aligned with
    * the driver's events table.
    */
  case class DataEvent(event_id: Long, ts: Timestamp, user_id: Long,
                       event_type: String, value: Double, props: String,
                       source: String = "stream", status: String = "pending")

  /** Stateless per-event enrichment (T4): category, severity flag,
    * bounded score — when-chains, no state store needed.
    */
  def enrich(events: DataFrame): DataFrame =
    events
      .withColumn("category",
        when(lower(col("event_type")).rlike("purchase|signup"), "Conversion")
          .when(lower(col("event_type")).rlike("error"), "Failure")
          .otherwise("Engagement"))
      .withColumn("is_anomaly", col("value") > 150.0)
      // raw score kept unrounded for downstream aggregation (per-row
      // 2-dp rounding before an avg would bake engine-specific
      // half-case behaviour into aggregates); `score` is the display form.
      .withColumn("score_raw", least(col("value") * 0.05, lit(10.0)))
      .withColumn("score", gridSnap(col("score_raw"), 2))

  /** Late/duplicate discipline (T6): event-time watermark + exactly-once
    * per event_id within the watermark horizon.
    */
  def dedupeEvents(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicates("event_id")

  /** Streaming exact CONTENT dedup — the curation pipeline's
    * fingerprint dedup applied incrementally: the md5 of the canonical
    * text keys the state store, so a duplicate document arriving in a
    * later micro-batch is dropped without re-reading the corpus.
    * `dropDuplicatesWithinWatermark` is what actually BOUNDS the state:
    * plain `dropDuplicates` on a non-event-time key would keep every
    * fingerprint forever (unbounded state → eventual OOM on a
    * long-running stream). The trade is explicit: duplicates farther
    * apart than the watermark can both survive — re-dedup at rest
    * (dropExactDuplicates) catches those.
    */
  def dedupeByContent(docs: DataFrame, textCol: String, tsCol: String,
                      watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("_fp", graft.textops.TextFunctions.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("_fp")
      .drop("_fp")

  /** Windowed health metrics (T7, `pipeline_monitor.py:158-204`):
    * tumbling event-time windows with per-window counts, error counts,
    * and error rate. Works for batch (oracle) and streaming alike.
    */
  def windowedHealth(events: DataFrame, windowLen: String = "1 hour"): DataFrame =
    events
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Streaming flavour with watermark (append-mode capable). */
  def windowedHealthStream(events: DataFrame, windowLen: String = "1 hour",
                           watermark: String = "2 hours"): DataFrame =
    windowedHealth(events.withWatermark("ts", watermark), windowLen)

  /** Threshold alerting (T8, `pipeline_monitor.py:66-73,459-502`):
    * per-window error-rate over threshold → alert records.
    */
  def alerts(events: DataFrame, windowLen: String = "1 hour",
             errorRateThreshold: Double = 0.05): DataFrame =
    events
      .groupBy(window(col("ts"), windowLen))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_errors"))
      // Threshold test on the UNROUNDED ratio (mirroring the score_raw /
      // score split in enrich()): rounding first would drop windows whose
      // true rate sits within half an ulp-of-6dp above the threshold.
      .withColumn("rate_raw", col("n_errors").cast("double") / col("n_events"))
      .filter(col("rate_raw") > errorRateThreshold)
      .select(col("window.start").as("window_start"), col("n_events"),
        col("n_errors"), gridSnap(col("rate_raw"), 6).as("error_rate"),
        lit("error_rate_above_threshold").as("alert_type"))

  /** Gap-based sessionization — the training-pipeline upgrade of the
    * reference's fixed windows (T7): consecutive events of a user merge
    * into one session while the gap stays at or under `gap`; a quiet
    * period strictly longer than `gap` closes the session (an event
    * landing exactly on the previous window's end still merges —
    * pinned in AsOfSpec). Uses Spark's native
    * `session_window`, which works identically in batch and Structured
    * Streaming (where the state store merges windows incrementally) —
    * one shuffle on the user key either way.
    */
  def sessionize(events: DataFrame, userCol: String = "user_id",
                 tsCol: String = "ts", gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(col(userCol), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n_events"),
        (unix_timestamp(max(col(tsCol))) - unix_timestamp(min(col(tsCol))))
          .as("span_s"))
      .select(col(userCol), col("session_window.start").as("session_start"),
        col("n_events"), col("span_s"))

  /** Per-user session summary over `sessionize` output. */
  def sessionSummary(events: DataFrame, userCol: String = "user_id",
                     tsCol: String = "ts", gap: String = "30 minutes"): DataFrame =
    sessionize(events, userCol, tsCol, gap)
      .groupBy(userCol)
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("total_events"),
        max(col("span_s")).as("max_span_s"),
        gridSnap(avg(col("n_events")), 6).as("avg_events_per_session"))

  /** Running per-user totals carried in the state store. */
  case class UserTotals(n_events: Long, total_value: Double)

  /** Custom state beyond windowed aggregation (SURVEY §2.9's
    * `flatMapGroupsWithState` seam): a per-user running counter/total
    * that survives across micro-batches in the state store, emitting one
    * updated snapshot per user per batch. Works identically in batch
    * mode (state starts empty, one "batch") — that is what the unit of
    * truth in StreamingSpec drives through MemoryStream, asserting the
    * totals accumulate across two batches.
    *
    * State is bounded by the user-key cardinality; for unbounded key
    * spaces a production job sets `GroupStateTimeout` to expire idle
    * keys — the seam is here, NoTimeout keeps the demo deterministic.
    */
  def runningUserTotals(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id").cast("long"), col("value").cast("double"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[UserTotals, (Long, Long, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Double)], state: GroupState[UserTotals]) =>
          val prev = state.getOption.getOrElse(UserTotals(0L, 0.0))
          var n = prev.n_events
          var total = prev.total_value
          rows.foreach { r => n += 1; total += r._2 }
          state.update(UserTotals(n, total))
          Iterator((uid, n, total))
      }
      .toDF("user_id", "n_events", "total_value")
  }

  /** Streaming heavy-hitter keys with bounded state — the stream form
    * of [[graft.analytics.HeavyHitters]], sharing its Misra–Gries
    * reduce/merge verbatim. Keys are hash-sharded into `shards` state
    * groups; each group's state is ONE k-counter MG sketch of its
    * shard's substream, updated per micro-batch and emitted as a
    * (shard, key, count_lb) snapshot. Because the hash partition makes
    * shard key-spaces disjoint, the union of shard sketches IS the
    * global candidate set — no cross-shard merge conflict — and the
    * retention guarantee is per-shard: a key whose shard-local
    * frequency exceeds shardTotal/(k+1) is always present, i.e. with S
    * balanced shards the effective global threshold is total/(S·(k+1))
    * — S× better than one global sketch, while state stays S·k
    * counters regardless of stream lifetime or key cardinality.
    *
    * One state GROUP per shard — never one global group (a single-key
    * `flatMapGroupsWithState` funnels the whole stream through one
    * task; sharding keeps the state update parallel at cluster scale).
    * `count_lb` is the MG lower bound (exact while a shard's distinct
    * keys ≤ k — the spec's regime); consumers needing exact figures
    * re-count candidates against the at-rest data, as the batch
    * operator does.
    *
    * RESTART CONTRACT: `counters` and `shards` are state-shaping and
    * must not change across a checkpoint restart — a changed shard
    * count remaps every key to a different state group (old sketches
    * strand under dead shard ids, the per-shard retention guarantee
    * silently breaks). This state lives in Spark's own checkpoint, so
    * the `VersionedTable.requireParams` sidecar that pins the
    * manifest-versioned stores cannot guard it — restart with changed
    * parameters REQUIRES a fresh checkpoint location (Spark enforces
    * state SCHEMA compatibility, not parameter semantics).
    */
  def streamingHeavyHitters(rows: DataFrame, keyCol: String,
                            counters: Int, shards: Int = 32): DataFrame = {
    require(shards > 0, s"shard count must be positive, got $shards")
    val spark = rows.sparkSession
    import spark.implicits._
    val mg = new graft.functions.MisraGriesAggregator(counters)
    rows.where(col(keyCol).isNotNull)
      .select(pmod(xxhash64(col(keyCol).cast("string")), lit(shards))
          .cast("int").as("shard"),
        col(keyCol).cast("string").as("key"))
      .as[(Int, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Map[String, Long], (Int, String, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (shard: Int, batch: Iterator[(Int, String)],
         state: GroupState[Map[String, Long]]) =>
          val sketch = batch.foldLeft(state.getOption.getOrElse(mg.zero)) {
            (buf, row) => mg.reduce(buf, row._2)
          }
          state.update(sketch)
          sketch.iterator.map { case (k, c) => (shard, k, c) }
      }
      .toDF("shard", "key", "count_lb")
  }

  /** One micro-batch step of incremental NEAR-duplicate dedup — the
    * MinHash-LSH analogue of [[dedupeByContent]]'s exact-fingerprint
    * dedup. State is the persisted (band, key, ts) LSH banding relation
    * of previously-admitted documents at `storePath`. Each batch:
    *
    *   1. is read ONCE: every row gets its `bands` band keys map-side
    *      ([[graft.textops.MinhashBandKeys]], the same kernel the
    *      batch MinHash paths band with, no shuffle) and the rows are
    *      materialized with them in one `localCheckpoint`.
    *      The same pass observes the batch's max event time and
    *      retention horizon ([[observeBounds]]) and its band-row count
    *      (the broadcast bound below), with no job of its own;
    *   2. expires store entries older than `retention` behind the
    *      batch's max event time (a literal predicate the store scan
    *      pushes down), then decides in one pass: the batch's band rows
    *      and its store hits (a flag per matched key, from a broadcast
    *      probe — the store is scanned, never shuffled) meet in one
    *      window over (band, key), and a document drops when any of
    *      its keys has a store hit or a smaller batch id — a
    *      near-duplicate of earlier-admitted content or of a batch-mate;
    *   3. takes the survivors from the materialized batch (an anti-join
    *      against the dropped ids, broadcast below
    *      [[ProbeBroadcastMaxRows]] band rows), and their bands from
    *      the same rows' band arrays, and appends those bands to the
    *      pruned store —
    *      the same horizon trade `dropDuplicatesWithinWatermark` makes,
    *      so state is bounded by construction: `bands` rows per
    *      admitted document within the retention window, regardless of
    *      stream lifetime. Near-duplicates farther apart than the
    *      retention both survive — batch re-dedup at rest catches
    *      those.
    *
    * Band collision is the drop criterion (no exact-Jaccard verify):
    * for unrelated documents a full band of `numHashes/bands` minhashes
    * agreeing is vanishingly rare, while a true near-dup collides on
    * some band with probability 1 − (1 − J^r)^bands — the standard LSH
    * operating point. Verification would need stored shingle sets
    * (state ∝ corpus text size, unbounded) — the precision trade is
    * deliberate and documented in SCALING.md.
    *
    * Ids are compared, never made up: a store hit is a flag, not a
    * sentinel id, so string ids and ids at `Long.MinValue` decide the
    * same way. Rows are keyed by `idCol`; each row is banded on its
    * own, so a batch should carry one row per id (the survivors sink
    * upserts by id).
    *
    * Store-growth shape, MEASURED (SCALING.md "streaming state-STORE
    * growth", `ScaleBench STORE`): per-batch cost of a fixed probe
    * batch is FLAT across a 100× band-store growth (31k → 3.08M rows)
    * — the store scan + republish at 3M rows sits under the fixed
    * per-batch signature work, and the retention horizon bounds the
    * live store at steady state.
    *
    * STATE LAYOUT: `maxSegments` picks it, exactly as for
    * [[noveltyGateBatchStep]] (see its state-layout paragraph) — 0
    * republishes the pruned band store every batch, N > 0 appends one
    * stamped survivor-band segment per batch.
    *
    * Survivors are `localCheckpoint`ed before the new store version
    * publishes so the returned frame does not depend on store files
    * that may age out under it.
    *
    * SINGLE WRITER: this step must be its store's only concurrent
    * writer — the [[graft.lake.VersionedTable]] contract it inherits
    * (segment vacuum and the bounded L1 merge delete committed segment
    * directories; a concurrent stamped append detected when a merge is
    * due is refused loudly by
    * [[graft.lake.VersionedTable.compactSegments]]).
    */
  def nearDedupBatchStep(batch: DataFrame, idCol: String, textCol: String,
                         tsCol: String, storePath: String,
                         retention: String = "1 hour", shingleN: Int = 3,
                         numHashes: Int = 64, bands: Int = 16,
                         family: graft.textops.HashFamily =
                           graft.textops.HashFamily.Xx64,
                         maxSegments: Int = 0): DataFrame =
    retentionStep(batch, storePath,
        nearDedupStore(shingleN, numHashes, bands, family), maxSegments) {
      nearDedupBatchCompute(batch, idCol, textCol, tsCol, _, retention,
        shingleN, numHashes, bands, family)
    }

  /** The near-dedup band store. Band keys are a one-way function of
    * the LSH geometry — a changed parameter would silently stop old
    * rows from colliding, so the seam pins it.
    */
  private[graft] def nearDedupStore(shingleN: Int, numHashes: Int, bands: Int,
                                    family: graft.textops.HashFamily =
                                      graft.textops.HashFamily.Xx64)
      : StoreSpec = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    StoreSpec(
      s"neardedup;shingleN=$shingleN;numHashes=$numHashes;bands=$bands;family=$family",
      StructType(Seq(StructField("band", IntegerType),
        StructField("key", LongType), StructField("_ts", TimestampType))))
  }

  /** The decision half of [[nearDedupBatchStep]] ([[StoreDecision]]
    * with the survivors as `out` and their bands as the segment) — the
    * seam that lets [[nearDedupWriter]] commit the sink BEFORE the
    * state, which is what makes the pair crash-consistent (see the
    * writer's scaladoc).
    */
  private[graft] def nearDedupBatchCompute(batch: DataFrame, idCol: String,
                                    textCol: String, tsCol: String,
                                    read: StoreRead, retention: String,
                                    shingleN: Int, numHashes: Int,
                                    bands: Int,
                                    family: graft.textops.HashFamily =
                                      graft.textops.HashFamily.Xx64)
      : StoreDecision = {
    // cross-layer (band, key) duplicates only arise from re-admission
    // after expiry and are harmless to the decision (a hit is a flag)
    val store = read.store
    // the batch, read once and banded map-side; band rows, survivors
    // and survivor bands all come from this materialization, which
    // also delivers the batch bounds and the probe's row-count bound
    // as observations — zero extra jobs
    val (observed, obsB) = observeBounds(batch, tsCol, retention)
    val obsN = org.apache.spark.sql.Observation()
    val banded = observed
      .withColumn("_nd_bands", graft.textops.MinhashBandKeys.column(
        col(textCol), shingleN, numHashes, bands, family))
      .observe(obsN, count(col("_nd_bands")).as("_n"))
      .localCheckpoint()
    val bounds = observedBounds(obsB, "nearDedupBatchCompute")
    val nBandRows = Observed.long(obsN, "_n", "nearDedupBatchCompute").getOrElse(0L) * bands
    // Expire state BEFORE the collision decision, against the batch's
    // own max event time: content older than the retention horizon must
    // not suppress admission (the exact-path analogue finalizes state at
    // the watermark the same way). An empty batch has a null horizon —
    // keep the store untouched rather than wiping it. The horizon is
    // the step's ONCE-collected [[observeBounds]] (the same values the
    // segment stamp/vacuum uses), applied as a literal predicate the
    // store scan can push down.
    val hzNd = bounds._2
    val liveStore = hzNd.fold(store)(h => store.filter(col("_ts") >= lit(h)))
      .select("band", "key", "_ts")
    val bandRows = banded.select(col(idCol),
      posexplode(col("_nd_bands")).as(Seq("band", "key")))
    // store-shuffle-free probe (see [[storeProbe]]): the matched keys
    // only, each carried into the decision window as a hit flag
    val hits = storeProbe(liveStore.select("band", "key"), Seq("band", "key"),
      bandRows.select("band", "key"), nBandRows, ProbeBroadcastMaxRows,
      "left_semi")
    val idType = bandRows.schema(idCol).dataType
    val w = Window.partitionBy("band", "key")
    val dropped = bandRows.withColumn("_hit", lit(false))
      .unionByName(hits.select(lit(null).cast(idType).as(idCol), col("band"),
        col("key"), lit(true).as("_hit")))
      .withColumn("_drop",
        max(col("_hit")).over(w) || min(col(idCol)).over(w) < col(idCol))
      .where(!col("_hit") && col("_drop"))
      .select(col(idCol))
    val survivorsBanded = banded.join(
        if (nBandRows <= ProbeBroadcastMaxRows) broadcast(dropped) else dropped,
        Seq(idCol), "left_anti")
      .localCheckpoint()
    val survivors = survivorsBanded.drop("_nd_bands")
    val survBands = survivorsBanded
      .select(posexplode(col("_nd_bands")).as(Seq("band", "key")),
        col(tsCol).as("_ts"))
    // the republish fold collapses re-admitted twins keep-newest; a
    // store with no pending segments is duplicate-free by construction
    // and skips the extra shuffle
    val merged = liveStore.unionByName(survBands)
    val folded =
      if (read.segments.isEmpty) merged
      else merged.groupBy("band", "key").agg(max(col("_ts")).as("_ts"))
    StoreDecision(survivors, folded, survBands, bounds)
  }

  /** One store step's decision, with the state write left to
    * [[commitState]]: `out` (materialized), the LAZY fold of every
    * live layer plus the batch (`folded`, the next base; the retention
    * stores prune it to their horizon), the batch-only `segment`, the
    * batch's [[observeBounds]] (max event time, horizon; none for the
    * horizon-free drift and KMV stores), and whether this batch must
    * republish whatever the layout (semdedup's quantizer change).
    */
  private[graft] final case class StoreDecision(
      out: DataFrame, folded: DataFrame, segment: DataFrame,
      bounds: (Option[Timestamp], Option[Timestamp]) = (None, None),
      forceRepublish: Boolean = false)

  /** A stream store's contract with [[retentionStep]]: the parameter
    * string the seam pins ([[graft.lake.VersionedTable.requireParams]])
    * and the schema of its empty first-use relation.
    */
  private[graft] final case class StoreSpec(params: String, schema: StructType)

  /** What the seam hands a decision: the `store` — its base ∪ pending
    * segments in one scan, or on first use an empty relation of the
    * declared schema — and the one listing of the root it read, which
    * the batch's state write continues from.
    */
  private[graft] final case class StoreRead(
      store: DataFrame, listing: VersionedTable.Listing) {
    /** The pending segments `store` reads over the base. */
    def segments: Seq[String] =
      if (listing.base.isDefined) listing.pending else Nil
  }

  /** The seam's pin and read: list the root ONCE, pin `spec.params`
    * against that listing — which refuses a legacy plain-parquet root
    * LOUDLY before it writes anything (reading one as empty would reset
    * the state — re-admitting seen content, restarting a distribution
    * or sketch from zero) — and read what the listing names.
    */
  private[graft] def readStore(spark: SparkSession, storePath: String,
                               spec: StoreSpec): StoreRead = {
    val l = VersionedTable.list(spark, storePath)
    VersionedTable.requireParamsOn(l, spec.params)
    StoreRead(l.base.fold(
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], spec.schema))(
        base => VersionedTable.scanLayers(spark, storePath, base +: l.pending)),
      l)
  }

  private def requireMaxSegments(maxSegments: Int): Unit =
    require(maxSegments >= 0,
      s"maxSegments must be >= 0 (0 = republish every batch), got $maxSegments")

  /** The one seam of every stream store that republishes its fold —
    * the three retention steps and their writers, the drift monitor
    * and both KMV monitors: [[readStore]] lists the root once and pins
    * `spec.params` (the decision read and the state write work from
    * that one listing), `decide` runs on that read, `sink` gets `out` — the
    * writers' merge-on-read upsert, which commits BEFORE the state so
    * a crash between the two converges on redelivery — then
    * [[commitState]].
    */
  private[graft] def retentionStep(batch: DataFrame, storePath: String,
                                   spec: StoreSpec, maxSegments: Int,
                                   sink: DataFrame => Unit = _ => ())(
                                   decide: StoreRead => StoreDecision)
      : DataFrame = {
    requireMaxSegments(maxSegments)
    val read = readStore(batch.sparkSession, storePath, spec)
    val d = decide(read)
    sink(d.out)
    commitState(read.listing, maxSegments, d)
    d.out
  }

  /** The one publish rule of the stream stores (see
    * [[noveltyGateBatchStep]]'s state-layout paragraph): with no base
    * yet, at `maxSegments = 0`, or on a forced republish, publish the
    * fold as the new base and vacuum the deltas no retained base needs
    * any more (while any delta is listed, so the segments it subsumed
    * leave once the reader horizon passes them); otherwise append the
    * batch's stamped segment, drop the segments that fell fully behind
    * this batch's horizon, and L1-merge the oldest once more than
    * `maxSegments` are pending. Vacuum runs before the merge so expired
    * segments drop from metadata alone instead of being rewritten into
    * the merged one. Every write continues from the batch's listing `l`
    * plus the writes before it; only a due merge lists again.
    */
  private def commitState(l: VersionedTable.Listing, maxSegments: Int,
                          d: StoreDecision): Unit =
    if (l.base.isEmpty || maxSegments == 0 || d.forceRepublish) {
      // manifest-versioned publish: the new version becomes visible
      // atomically via its marker; a crash mid-write leaves the old
      // version current
      val published = VersionedTable.publishOn(l, d.folded)
      if (l.anyDelta) VersionedTable.vacuumDeltasOn(published)
    } else {
      // an empty batch stamps Long.MinValue (appendDeltaStamped)
      val appended = VersionedTable.appendDeltaOn(l, d.segment,
        Some(d.bounds._1.fold(Long.MinValue)(_.getTime)))
      val live = d.bounds._2.fold(appended)(h =>
        appended.without(VersionedTable.vacuumExpiredDeltasOn(appended, h)))
      VersionedTable.compactSegmentsOn(live, maxSegments)
    }

  /** One micro-batch step of VOCABULARY-DRIFT MONITORING — the
    * streaming form of [[graft.textops.TextAnalysis.jensenShannon]]:
    * state is the accumulated (token, count) distribution of every
    * batch seen so far at `storePath`; each step reports the
    * Jensen–Shannon divergence (bits) between THIS batch's token
    * distribution and the reference BEFORE folding the batch in — the
    * alarm that fires when a new crawl's vocabulary stops looking
    * like the corpus it feeds (alert on jsd_bits > threshold in the
    * caller's foreachBatch, the [[alerts]] convention).
    *
    * The first batch has no reference and reports a null jsd_bits
    * with n_ref = 0. State is vocabulary-sized (one (token, count)
    * row per distinct token — NOT corpus-sized), accumulated exactly;
    * to rebase the reference window, point at a fresh `storePath`.
    *
    * LATE DATA: the step reads no event-time column and keeps no
    * retention horizon — the reference is an exact count fold, so the
    * STATE is arrival-order-invariant (union + re-sum is commutative:
    * any permutation of the same batches publishes a bit-identical
    * final store). Only the per-batch jsd verdict depends on arrival
    * order, by design: each batch is judged against the reference as
    * of its arrival — which is what a drift alarm means; a late batch
    * is compared to the fuller reference, never to a reconstructed
    * past.
    * Every stage is a count aggregation or a vocabulary-sized
    * full-outer alignment; the store publishes through the same
    * manifest-versioned atomic marker as the dedup/novelty stores.
    * Returns 1 row: (jsd_bits, n_a = batch tokens, n_b = reference
    * tokens).
    *
    * The step is a decision on [[retentionStep]] at `maxSegments = 0`:
    * every batch republishes the re-summed reference. A store that
    * still holds pending (token, count) deltas — the layout of the
    * removed amortized mode — is read as base ∪ deltas re-summed (the
    * long-count fold is exact and commutative, so that view equals the
    * store an every-batch republish would hold, bit for bit); its next
    * batch folds the deltas into the new base, and the seam's vacuum
    * drops them once no retained base needs them.
    */
  def driftMonitorBatchStep(batch: DataFrame, textCol: String,
                            storePath: String): DataFrame =
    // the tokenizer is fixed today (NFC-normalize + whitespace split),
    // but the reference distribution is a function OF it — pinning it
    // means a future tokenizer change refuses to fold new tokens into
    // a distribution counted under the old one, instead of silently
    // reporting phantom drift
    retentionStep(batch, storePath, StoreSpec("drift;tokenizer=nfc-ws-v1",
        StructType(Seq(StructField("_tok", StringType),
          StructField("_c", LongType)))), maxSegments = 0) { read =>
      val store =
        if (read.segments.isEmpty) read.store
        else read.store.groupBy("_tok").agg(sum(col("_c")).as("_c"))
      val counts = batch
        .select(explode(graft.textops.TextFunctions.tokens(
          graft.textops.TextFunctions.normalized(col(textCol)))).as("_tok"))
        .where(length(col("_tok")) > 0)
        .groupBy("_tok").agg(count(lit(1)).as("_c"))
        .localCheckpoint()
      val verdict = graft.textops.TextAnalysis.jsdFromCounts(
          counts.select(col("_tok"), col("_c").as("_ca")),
          store.select(col("_tok"), col("_c").as("_cb")))
        .localCheckpoint() // decided against the store version read above
      StoreDecision(verdict, store.unionByName(counts)
        .groupBy("_tok").agg(sum(col("_c")).as("_c")), counts)
    }

  /** One micro-batch step of streaming DISTINCT-COUNT monitoring — the
    * incremental form of
    * [[graft.analytics.Sketches.approxDistinctKmv]]: state is the k
    * smallest DISTINCT portable-md5 uniforms seen across every batch so
    * far (≤ k rows at `storePath` — O(k) state at ANY stream
    * cardinality); each step folds the batch's own k-minimum sketch in
    * (union → distinct → re-min, the KMV merge) and reports the
    * estimate from the new state: the EXACT running distinct count
    * while fewer than k distinct values have been seen, (k−1)/u₍ₖ₎
    * (~1/√k relative error) beyond it — the monitoring tier's
    * distinct-rate metric (users, sessions, keys) with bounded state
    * where exact streaming COUNT(DISTINCT) state grows with
    * cardinality.
    *
    * LATE DATA: like [[driftMonitorBatchStep]], the step reads no
    * event-time column and the fold is commutative-associative, so the
    * STATE is arrival-order-invariant — any permutation of the same
    * batches publishes a bit-identical sketch, and the fold result
    * equals the one-shot batch sketch over the concatenated input
    * (spec-pinned). This is lifetime distinct: to window it, rebase on
    * a fresh `storePath` per window.
    *
    * The sketch hash is the engine-portable md5 uniform (the
    * [[graft.analytics.Sketches]] derivation), so a DuckDB replay of
    * the whole fold hash-matches exactly — the only approximate
    * operator family with an exact oracle. Per batch: one k-bounded
    * aggregation over the batch (KmvAggregator partials — the batch
    * never shuffles more than k values per partition), then O(k)-row
    * state maintenance; publishes via the same manifest-versioned
    * atomic marker as the other stores. Returns 1 row:
    * (est_distinct, n_mins) — n_mins < k means the exact regime.
    */
  def kmvDistinctBatchStep(batch: DataFrame, valueCol: String,
                           storePath: String, k: Int = 256): DataFrame = {
    require(k >= 2, s"sketch size must be at least 2, got $k")
    // a k-truncated min-sketch cannot be widened later (the discarded
    // mins are gone) nor narrowed safely — pin k to the store
    retentionStep(batch, storePath, StoreSpec(s"kmv;hash=md5uniform;k=$k",
        StructType(Seq(StructField("_u", DoubleType)))),
        maxSegments = 0) { read =>
      val batchMins = batch.where(col(valueCol).isNotNull)
        .agg(graft.functions.KmvAggregator
          .kmv(k, graft.analytics.Sketches.md5Uniform(col(valueCol))).as("_kmv"))
        .select(explode(col("_kmv")).as("_u"))
      val newStore = read.store.unionByName(batchMins)
        .distinct().orderBy(col("_u")).limit(k)
        .localCheckpoint() // ≤ 2k rows in, ≤ k out — tiny, computed once
      StoreDecision(newStore.agg(sort_array(collect_list(col("_u"))).as("_kmv"))
        .select(
          graft.analytics.Sketches.kmvEstimate(col("_kmv"), k).as("est_distinct"),
          size(col("_kmv")).as("n_mins")), newStore, batchMins)
    }
  }

  /** Per-key form of [[kmvDistinctBatchStep]]: one KMV sketch per
    * group (store: ≤ k `(key, u)` rows per live key — O(groups·k)
    * state at any cardinality), estimating e.g. distinct users per
    * event type across the whole stream. Same contract as the global
    * form: exact below k per group, (k−1)/u₍ₖ₎ beyond,
    * arrival-order-invariant state (the per-group k-min merge is
    * commutative, so the fold equals the one-shot per-group sketch —
    * which is what the DuckDB oracle replays).
    *
    * Plan shape per batch: one k-bounded grouped aggregation over the
    * batch (map-side partials carry ≤ k values per group), then the
    * store maintenance re-aggregates the ≤ 2k-per-group union with
    * the same k-bounded aggregator — never a join, so null group
    * keys need no null-safe handling (groupBy keeps them). Null
    * values are excluded (COUNT DISTINCT semantics). Returns
    * (keyCol, est_distinct, n_mins), one row per key ever seen.
    */
  def kmvDistinctByKeyBatchStep(batch: DataFrame, keyCol: String,
                                valueCol: String, storePath: String,
                                k: Int = 256): DataFrame = {
    require(k >= 2, s"sketch size must be at least 2, got $k")
    // same k-pinning rationale as the global sketch above
    retentionStep(batch, storePath, StoreSpec(s"kmvgroup;hash=md5uniform;k=$k",
        StructType(Seq(StructField("_k", batch.schema(keyCol).dataType),
          StructField("_u", DoubleType)))), maxSegments = 0) { read =>
      val batchMins = batch.where(col(valueCol).isNotNull)
        .groupBy(col(keyCol).as("_k"))
        .agg(graft.functions.KmvAggregator
          .kmv(k, graft.analytics.Sketches.md5Uniform(col(valueCol))).as("_kmv"))
        .select(col("_k"), explode(col("_kmv")).as("_u"))
      val newStore = read.store.unionByName(batchMins)
        .groupBy("_k")
        .agg(graft.functions.KmvAggregator.kmv(k, col("_u")).as("_kmv"))
        .select(col("_k"), explode(col("_kmv")).as("_u"))
        .localCheckpoint()
      StoreDecision(newStore.groupBy("_k")
        .agg(sort_array(collect_list(col("_u"))).as("_kmv"))
        .select(col("_k").as(keyCol),
          graft.analytics.Sketches.kmvEstimate(col("_kmv"), k).as("est_distinct"),
          size(col("_kmv")).as("n_mins")), newStore, batchMins)
    }
  }

  /** One micro-batch step of incremental NOVELTY GATING — the streaming
    * form of [[graft.textops.Dedup.noveltyScores]]: state is the
    * persisted distinct-shingle relation of previously-ADMITTED
    * documents at `storePath` (one (shingle, _ts) row per live
    * shingle); each batch scores every document's novelty against the
    * retention-pruned store, admits documents whose novelty is at
    * least `minNovelty`, and folds the admitted documents' shingles
    * back into the store — "only ingest what the corpus doesn't
    * already say", incrementally.
    *
    * Semantics are BATCH-ATOMIC (micro-batch snapshot): every document
    * scores against the PRIOR store only, so in-batch duplicates both
    * admit — compose with [[nearDedupBatchStep]] upstream when
    * intra-batch dedup is needed; the two stores are independent.
    * Documents with fewer than `shingleN` tokens have undefined
    * novelty (null) and ADMIT — an empty document says nothing the
    * corpus already says, and the gate's job is repetition, not
    * length (the quality gate owns length policy).
    *
    * State is bounded the same way as the dedup stores: distinct
    * shingles of admitted content within the retention horizon, each
    * kept at its NEWEST admission timestamp (re-admission of expired
    * content refreshes the shingle's clock). Expiry happens BEFORE
    * scoring against the batch's own max event time; an empty batch
    * leaves the store untouched.
    *
    * Store-growth shape, MEASURED (SCALING.md "streaming state-STORE
    * growth"): per-batch cost of a fixed probe batch is flat across
    * the first store decade and ~1.8× on the second (10.1M live
    * shingles) — the O(live-store) scan + republish term, which the
    * retention horizon bounds at steady state.
    *
    * STATE LAYOUT, shared by the three retention stores (this gate,
    * [[nearDedupBatchStep]], [[semanticDedupBatchStep]]) and their
    * writers; `maxSegments` is the one knob. The store is a
    * [[graft.lake.VersionedTable]] base plus event-time-stamped
    * segments, and every decision reads base ∪ pending segments behind
    * the batch's horizon filter, so on-time batches decide the same
    * under either setting:
    *
    *   - `maxSegments = 0` (the default) republishes the horizon-pruned
    *     fold of every live layer plus the batch as a new base each
    *     batch and vacuums the segments it subsumed — an O(live store)
    *     write per batch, and PHYSICAL expiry (the late-data contract
    *     below);
    *   - `maxSegments = N > 0` is the LSM trade (r16): after the
    *     bootstrap publish, each batch appends its rows as ONE segment
    *     stamped with its max event time
    *     ([[graft.lake.VersionedTable.appendDeltaStamped]]), drops the
    *     segments whose stamp fell fully behind its horizon
    *     ([[graft.lake.VersionedTable.vacuumExpiredDeltas]], metadata
    *     only) and, once more than N are pending, folds the oldest into
    *     one ([[graft.lake.VersionedTable.compactSegments]]). Per batch:
    *     one store scan, an O(batch) append and O(segments) metadata;
    *     the base is never rewritten. Expiry is per segment, so a LATE
    *     batch can still see rows whose segment has not fully expired
    *     (≤ one batch's event-time span past the horizon, coarsened to
    *     the merged stamp after an L1 merge), and a row re-admitted
    *     after expiry lands in a newer segment — the probes absorb the
    *     duplicate keys and a republish fold collapses them
    *     keep-newest. The bootstrap base persists physically (logically
    *     dead past the horizon); one batch at `maxSegments = 0` compacts
    *     the store if that ever matters. [[SegmentMergeBound]] suits a
    *     long-running stream.
    *
    * Negative `maxSegments` is rejected.
    *
    * LATE DATA: the horizon derives from each batch's OWN max event
    * time — processing-order micro-batch semantics with no watermark
    * (mirroring the near-dedup store; contrast [[dedupeEvents]], which
    * bounds lateness with a real watermark). A batch arriving AFTER
    * newer batches (its max event time behind the store's clock) still
    * scores against every currently-live shingle — including content
    * admitted "in its future" — and CANNOT resurrect expired shingles:
    * expiry is physical (pruned rows left the store at prior
    * publishes at `maxSegments = 0`), and the late batch's older
    * horizon retains nothing beyond what already survived, so the
    * store never re-grows. Its
    * own admitted shingles enter at their old event times and fall out
    * at the next fresh batch's prune; and because the fold keeps each
    * shingle's NEWEST timestamp, a late duplicate never rewinds a live
    * shingle's clock. Every stage is an equi-join or
    * aggregation on the 8-byte shingle hash, and below
    * [[ProbeBroadcastMaxRows]] batch shingles the store probe broadcasts
    * the BATCH side — the store streams
    * through the join unshuffled, so a non-republish batch's only
    * store-wide work is one scan. Returns the admitted rows with
    * a `novelty` column; the new store version publishes via the same
    * manifest-versioned atomic marker as the dedup stores.
    *
    * SINGLE WRITER: this step must be its store's only concurrent
    * writer — the [[graft.lake.VersionedTable]] contract it inherits
    * (segment vacuum and the bounded L1 merge delete committed segment
    * directories; a concurrent stamped append detected when a merge is
    * due is refused loudly by
    * [[graft.lake.VersionedTable.compactSegments]]).
    */
  def noveltyGateBatchStep(batch: DataFrame, idCol: String, textCol: String,
                           tsCol: String, storePath: String,
                           minNovelty: Double, retention: String = "1 hour",
                           shingleN: Int = 3,
                           family: graft.textops.HashFamily =
                             graft.textops.HashFamily.Xx64,
                           maxSegments: Int = 0): DataFrame =
    retentionStep(batch, storePath, noveltyStore(shingleN, family),
        maxSegments) {
      noveltyGateBatchCompute(batch, idCol, textCol, tsCol, _, minNovelty,
        retention, shingleN, family)
    }

  /** The novelty gate's shingle store. Stored shingle hashes are a
    * one-way function of (width, family) — a changed parameter would
    * silently score against incompatible rows, so the seam pins them.
    */
  private[graft] def noveltyStore(shingleN: Int,
                                  family: graft.textops.HashFamily =
                                    graft.textops.HashFamily.Xx64)
      : StoreSpec =
    StoreSpec(s"novelty;shingleN=$shingleN;family=$family",
      StructType(Seq(StructField("shingle", LongType),
        StructField("_ts", TimestampType))))

  /** The decision half of [[noveltyGateBatchStep]] ([[StoreDecision]]
    * with the admitted rows as `out` and their shingles as the
    * segment) — the seam that lets [[noveltyGateWriter]] commit the
    * sink BEFORE the state.
    */
  private[graft] def noveltyGateBatchCompute(batch: DataFrame, idCol: String,
                                      textCol: String, tsCol: String,
                                      read: StoreRead, minNovelty: Double,
                                      retention: String, shingleN: Int,
                                      family: graft.textops.HashFamily =
                                        graft.textops.HashFamily.Xx64)
      : StoreDecision = {
    require(minNovelty >= 0 && minNovelty <= 1,
      s"minNovelty must be in [0,1], got $minNovelty")
    // duplicates across layers are harmless to the probe, and the
    // republish fold takes max(_ts)
    val store = read.store
    // batch-sized; computed ONCE — three consumers (store probe,
    // per-doc totals, admitted-shingle extraction). The same
    // materialization delivers the batch bounds and the probe's
    // row-count bound as observations — zero extra jobs.
    val (observed, obsB) = observeBounds(batch, tsCol, retention)
    val obsN = org.apache.spark.sql.Observation()
    val sh = graft.textops.TextFunctions.shingleTable(
        observed.select(col(idCol), col(textCol)), idCol, textCol,
        shingleN, family)
      .observe(obsN, count(lit(1)).as("_n"))
      .localCheckpoint()
    val bounds = observedBounds(obsB, "noveltyGateBatchCompute")
    val nShingleRows = Observed.long(obsN, "_n", "noveltyGateBatchCompute").getOrElse(0L)
    // the step's ONCE-collected horizon ([[observeBounds]]) as a
    // literal, store-scan-pushable predicate; None (empty batch) keeps
    // the store untouched
    val hzNv = bounds._2
    val liveStore = hzNv.fold(store)(h => store.filter(col("_ts") >= lit(h)))
      .select("shingle", "_ts")
    // store-shuffle-free probe (see [[storeProbe]]): countDistinct
    // equals the pre-r16 semi-join count — shingleTable is distinct
    // per (id, shingle), and distinct-counting absorbs the duplicate
    // store shingles a delta overlay can carry in either join shape.
    val seen = storeProbe(liveStore.select("shingle"), Seq("shingle"),
        sh, nShingleRows, ProbeBroadcastMaxRows)
      .groupBy(col(idCol)).agg(countDistinct(col("shingle")).as("_seen"))
    val scored = sh.groupBy(col(idCol)).agg(count(lit(1)).as("_nsh"))
      .join(seen, Seq(idCol), "left")
      .withColumn("novelty",
        gridSnap((col("_nsh") - coalesce(col("_seen"), lit(0L))).cast("double")
          / col("_nsh"), 6))
      .select(col(idCol), col("novelty"))
    val admitted = batch.join(scored, Seq(idCol), "left")
      .where(col("novelty").isNull || col("novelty") >= minNovelty)
      .localCheckpoint()
    val admittedShingles = sh
      .join(admitted.select(col(idCol), col(tsCol).as("_ts")), Seq(idCol))
      .select("shingle", "_ts")
    val newStore = liveStore.unionByName(admittedShingles)
      .groupBy("shingle").agg(max(col("_ts")).as("_ts"))
    // the batch-local segment fold (a shingle shared by several
    // admitted docs lands once, newest ts)
    val delta = admittedShingles
      .groupBy("shingle").agg(max(col("_ts")).as("_ts"))
    StoreDecision(admitted, newStore, delta, bounds)
  }

  /** `foreachBatch` streaming novelty gate, crash-consistent end to
    * end — the [[nearDedupWriter]] ordering applied to the novelty
    * store: admitted rows are UPSERTED by `idCol` into a
    * [[graft.lake.VersionedTable]] at `admittedPath` FIRST, and the
    * shingle state publishes to `storePath` only after the sink
    * commit. Crash-point convergence under Spark's batch re-delivery
    * mirrors the near-dedup writer case analysis: a crash before the
    * sink commit recomputes the same admitted set (state unchanged); a
    * crash between sink and state re-upserts the same keys
    * (idempotent) and completes the state publish; a crash after the
    * state publish re-scores the batch against its OWN admitted
    * shingles — near-zero novelty drops everything re-scorable, and
    * the null-novelty shingle-less documents that re-admit land on
    * their existing sink keys as no-op upserts. The sink lands one
    * delta per batch and folds its overlay once [[SinkCompactAt]] are
    * pending ([[morUpsertStep]]). Read the sink with
    * `VersionedTable.readCurrentMerged(spark, admittedPath, Seq(idCol))`.
    *
    * SINGLE WRITER: one running query per (`storePath`, `admittedPath`)
    * pair — the [[graft.lake.VersionedTable]] contract both stores
    * inherit (Structured Streaming's checkpointed single-query
    * execution provides exactly this when each store root belongs to
    * one writer query).
    */
  def noveltyGateWriter(docs: DataFrame, idCol: String, textCol: String,
                        tsCol: String, storePath: String,
                        admittedPath: String, minNovelty: Double,
                        retention: String = "1 hour", shingleN: Int = 3,
                        family: graft.textops.HashFamily =
                          graft.textops.HashFamily.Xx64,
                        maxSegments: Int = 0)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    requireMaxSegments(maxSegments)
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, _: Long) =>
        retentionStep(batch, storePath, noveltyStore(shingleN, family),
            maxSegments, morUpsertStep(_, Seq(idCol), admittedPath)) {
          noveltyGateBatchCompute(batch, idCol, textCol, tsCol, _, minNovelty,
            retention, shingleN, family)
        }
        ()
    }
  }

  /** `foreachBatch` streaming near-dedup, crash-consistent end to end:
    * per batch, survivors are UPSERTED by key into a
    * [[graft.lake.VersionedTable]] at `survivorsPath` FIRST, and the
    * band state publishes to `storePath` only after the sink commit.
    * Every crash point now converges under Spark's batch re-delivery:
    *
    *  - crash before the sink commit → redelivery recomputes the same
    *    survivors (state unchanged) and upserts the same keys;
    *  - crash between sink and state publish → redelivery recomputes
    *    the same survivors (state still unchanged), the upsert
    *    converges (same keys), and the state publish completes;
    *  - crash after the state publish → redelivery finds every batch
    *    document colliding with its OWN bands, survivors are empty,
    *    both writes are no-ops;
    *  - at `maxSegments > 0`, crash after the stamped append but before
    *    its vacuum or merge → the same self-collision empties the
    *    survivors, and the redelivered state write appends an empty
    *    segment and completes the vacuum and merge.
    *
    * The old append-sink ordering lost a batch's survivors in the
    * middle case (documented as the "re-ingest the gap at rest" trade);
    * the keyed merge-on-read sink closes that window structurally AND
    * keeps the per-batch sink cost O(batch): the previous copy-on-write
    * upsert re-read and re-wrote the whole survivors table every
    * micro-batch — quadratic total write amplification on a
    * long-running stream. The sink lands one delta per batch and folds
    * its overlay once [[SinkCompactAt]] are pending
    * ([[morUpsertStep]]). Read the sink with
    * `VersionedTable.readCurrentMerged(spark, survivorsPath, Seq(idCol))`.
    *
    * SINGLE WRITER: one running query per (`storePath`,
    * `survivorsPath`) pair — the [[graft.lake.VersionedTable]] contract
    * both stores inherit (Structured Streaming's checkpointed
    * single-query execution provides exactly this when each store root
    * belongs to one writer query).
    */
  def nearDedupWriter(docs: DataFrame, idCol: String, textCol: String,
                      tsCol: String, storePath: String, survivorsPath: String,
                      retention: String = "1 hour", shingleN: Int = 3,
                      numHashes: Int = 64, bands: Int = 16,
                      family: graft.textops.HashFamily =
                        graft.textops.HashFamily.Xx64,
                      maxSegments: Int = 0)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    requireMaxSegments(maxSegments)
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, _: Long) =>
        retentionStep(batch, storePath,
            nearDedupStore(shingleN, numHashes, bands, family), maxSegments,
            morUpsertStep(_, Seq(idCol), survivorsPath)) {
          nearDedupBatchCompute(batch, idCol, textCol, tsCol, _, retention,
            shingleN, numHashes, bands, family)
        }
        ()
    }
  }

  /** `foreachBatch` keyed-upsert sink via merge-on-read deltas — the
    * scale path for high-frequency streaming upserts where
    * [[graft.lake.VersionedTable.upsertBatch]]'s copy-on-write rewrite
    * per micro-batch would dominate. First batch bootstraps the base
    * (with `statsColumns` if given); every later batch is an O(batch)
    * [[graft.lake.VersionedTable.appendDelta]]; once [[SinkCompactAt]]
    * deltas are pending the overlay folds back into a base
    * ([[morUpsertStep]]). Crash points converge under Spark's batch
    * redelivery exactly like the delta contract: a re-delivered batch
    * lands as an identical-content delta and the newest-wins merge is
    * unchanged; a crash before/after compaction only moves WHEN the
    * fold happens, never what the merged view reads. Read the sink
    * with `VersionedTable.readCurrentMerged(spark, root, keys)`.
    */
  def morUpsertWriter(df: DataFrame, keys: Seq[String], root: String,
                      statsColumns: Seq[String] = Nil)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, _: Long) =>
        morUpsertStep(batch, keys, root, statsColumns)
        ()
    }

  /** Canonical `_params` rendering of a MOR table's merge-key SET —
    * order-insensitive (the pin guards WHICH keys merge, not the order
    * a caller happened to list them) and injective: each key is
    * length-prefixed, so a raw external header literally named `"a,b"`
    * (the repo deliberately supports such names elsewhere) can never
    * collide with the two keys `a` and `b`. A sink stamped with the
    * older comma-joined rendering, which had both flaws, is refused
    * like any other mismatch: rebase it, or rewrite its `_params` by
    * hand once (parsing the ambiguous old format would re-open the
    * collision this one fixes).
    */
  private[graft] def morKeyParams(keys: Seq[String]): String =
    s"morUpsert;keys=${keys.sorted.map(k => s"${k.length}:$k").mkString(";")}"

  /** Pending-delta count at which a merge-on-read sink folds its
    * overlay ([[morUpsertStep]]). A sink that lands one delta per batch
    * bootstraps at batch 0 and folds at batches 10, 20, …
    */
  private val SinkCompactAt = 10

  /** One merge-on-read sink step — the shared body of
    * [[morUpsertWriter]], [[morCdcWriter]] and the retention writers'
    * survivors/admitted sinks: pin the merge keys
    * ([[graft.lake.VersionedTable.requireParams]], which refuses a
    * legacy unversioned layout before it writes the pin), publish
    * `ups` as the base on an empty root or append it as a delta
    * otherwise (`upsertDelta = false` skips an empty CDC upsert half),
    * append `deletes` as a tombstone delta AFTER it, then fold the
    * overlay once [[SinkCompactAt]] deltas are pending. Counting
    * deltas rather than batches sizes the fold by the overlay a merged
    * read pays for: a redelivered batch adds its deltas again, and a
    * CDC batch with both halves adds two.
    */
  private[graft] def morUpsertStep(ups: DataFrame, keys: Seq[String],
                                   root: String,
                                   statsColumns: Seq[String] = Nil,
                                   deletes: Option[DataFrame] = None,
                                   upsertDelta: Boolean = true): Unit = {
    val l = VersionedTable.list(ups.sparkSession, root)
    // the merge KEYS are state-shaping for a MOR table: a later writer
    // with a different key set silently changes which rows win the
    // newest-per-key merge and what compaction folds — pin them like
    // the monitor stores' parameters (CDC and plain upsert share one
    // key contract per table)
    VersionedTable.requireParamsOn(l, morKeyParams(keys))
    val upserted =
      if (l.base.isEmpty)
        VersionedTable.publishOn(l, ups, statsColumns = statsColumns)
      else if (upsertDelta) VersionedTable.appendDeltaOn(l, ups)
      else l
    val written = deletes.foldLeft(upserted)(VersionedTable.appendDeleteDeltaOn)
    if (written.pending.size >= SinkCompactAt)
      VersionedTable.compactDeltasOn(written, keys)
  }

  /** `foreachBatch` CDC-apply sink: a change stream whose rows carry an
    * operation column (`deleteOp` = remove the key; anything else —
    * insert, update, snapshot — is a keyed upsert) materializes into a
    * merge-on-read [[graft.lake.VersionedTable]]. Per micro-batch:
    * upserts land as one O(batch) delta, deletes as one tombstone
    * delta appended AFTER it — so a key appearing as both in the same
    * batch ends deleted. Callers whose source can emit several changes
    * per key per batch should collapse to the last change upstream
    * (the per-delta unique-key contract); a monotonic change-sequence
    * column plus a max_by pre-aggregation is the usual shape. Once
    * [[SinkCompactAt]] deltas are pending the overlay folds
    * (tombstones become physical removals there; [[morUpsertStep]]).
    * Redelivery converges: re-running a batch appends identical deltas
    * in the same order. This is the streaming face of
    * [[graft.lake.LakeStorage.applyChanges]] — the same upsert/delete
    * semantics, landing incrementally instead of recomputing, with the
    * delete cost O(changed) rather than O(table).
    */
  def morCdcWriter(df: DataFrame, keys: Seq[String], root: String,
                   opCol: String = "op", deleteOp: String = "D",
                   statsColumns: Seq[String] = Nil)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, _: Long) =>
        // materialize the change batch ONCE: the op-split filters, the
        // emptiness decisions, and the delta writes all read the same
        // blocks instead of re-scanning the source up to four times
        val b = batch.localCheckpoint()
        // null op never equals deleteOp (null-safe) → treated as upsert
        val isDel = col(opCol) <=> lit(deleteOp)
        // both emptiness decisions in ONE job over the cached blocks
        val cnts = b.agg(count(when(!isDel, 1)).as("nu"),
          count(when(isDel, 1)).as("nd")).head()
        val (nUps, nDels) = (cnts.getLong(0), cnts.getLong(1))
        morUpsertStep(b.where(!isDel).drop(opCol), keys, root, statsColumns,
          deletes =
            if (nDels > 0) Some(b.where(isDel).select(keys.map(col): _*))
            else None,
          upsertDelta = nUps > 0)
        ()
    }

  /** Stream-stream interval join — the genuinely-streaming join the
    * reference's architecture cannot express (its "streams" are DB
    * polls): attribute each left event to right events for the same
    * key within a trailing `lookback` window (the click-to-impression
    * / order-to-session attribution shape). Both sides carry
    * watermarks, and the join condition bounds right-side event time
    * relative to left-side event time — together those let Spark
    * EVICT state: a buffered row is dropped once the other side's
    * watermark passes its latest possible match, so state is
    * watermark-horizon-bounded regardless of stream lifetime. Without
    * the time bound a stream-stream inner join must buffer both
    * streams forever — the unbounded-state trap this operator exists
    * to avoid.
    *
    * Column names must be disjoint across the sides (standard Spark
    * stream-join requirement; rename before calling).
    */
  def intervalJoinStreams(left: DataFrame, leftKey: String, leftTs: String,
                          right: DataFrame, rightKey: String, rightTs: String,
                          watermark: String, lookback: String): DataFrame =
    left.withWatermark(leftTs, watermark)
      .join(right.withWatermark(rightTs, watermark),
        col(leftKey) === col(rightKey) &&
          col(rightTs) >= col(leftTs) - expr(s"INTERVAL $lookback") &&
          col(rightTs) <= col(leftTs))

  /** One micro-batch step of incremental SEMANTIC dedup — the
    * embedding-space analogue of [[nearDedupBatchStep]] (SemDeDup
    * semantics, arXiv:2303.09540, applied incrementally). State is the
    * persisted (bucket, id, vec, ts) relation of previously-admitted
    * vectors at `storePath`, coarse-partitioned by the same broadcast
    * centroid quantizer the batch path uses; each batch:
    *
    *   1. assigns its vectors to centroid buckets
    *      ([[graft.textops.Similarity.assignBuckets]]);
    *   2. expires store entries older than `retention` behind the
    *      batch's max event time, then drops any vector with a stored
    *      cluster-mate at cosine ≥ `threshold`, or a smaller-id
    *      batch-mate in the same bucket;
    *   3. appends the survivors (with their vectors) to the pruned
    *      store.
    *
    * Unlike the text path (which stores 16-byte band rows because
    * exact verification would need unbounded shingle sets), storing
    * the embedding itself IS the bounded choice here: d doubles per
    * admitted vector within the retention horizon, and the decision
    * stays exact-cosine — no precision trade. Pair work per batch is
    * Σ (batch-bucket × store-bucket), bounded by the quantizer; nothing
    * collects to the driver except the k-row quantizer fingerprint
    * below.
    * Duplicates farther apart than the retention both survive; the
    * at-rest [[graft.textops.Similarity.semanticDedup]] pass catches
    * those.
    *
    * QUANTIZER EVOLUTION: the centroid set is a per-step parameter,
    * and real deployments GROW it with the corpus (the IVF
    * convention — bucket count scales so per-bucket pair work stays
    * bounded). Store rows therefore carry the fingerprint of the
    * quantizer that bucketed them (`_qfp`, an order-independent,
    * duplicate-safe combine of per-centroid hashes — xor, exact sum
    * and count, splitmix-finalized): when a batch arrives with a
    * DIFFERENT centroid set, the live store re-buckets on read
    * against the new centroids before the probe join — without this,
    * a probe assigned to a new bucket would never meet a store
    * twin filed under an old bucket id, silently missing near-dups —
    * and the republish stamps the new fingerprint, so the migration
    * pays one O(store·k) assignment pass per quantizer change, not
    * per batch (every published version is fingerprint-uniform by
    * construction, so a limit-1 read decides the fast path at O(1)).
    * Stores written before this seam (no `_qfp` column)
    * conservatively re-bucket.
    *
    * STATE LAYOUT: `maxSegments` picks it, as for
    * [[noveltyGateBatchStep]] (see its state-layout paragraph), with
    * two vector-store invariants: (a) segments carry the SAME `_qfp`
    * as the base they overlay, and a batch that observes a CHANGED
    * quantizer republishes at once whatever `maxSegments` says, so
    * every readable layer set stays fingerprint-uniform and the
    * limit-1 fast-path probe stays O(1); (b) a republish over pending
    * segments collapses duplicates keyed on `(_sid, _svec)`
    * (keep-newest) — exactly the re-admitted twin class (a base row
    * and its bit-identical segment re-admission), and nothing else: a
    * source that REUSES an id for a different vector keeps both rows,
    * as a store without segments does, so the layouts never diverge
    * on future drop decisions.
    *
    * MEASURED (SCALING.md STORE tier, r15): at the L point (200k×64d
    * store) the O(store·d) base rewrite costs ~0.3-0.4 s of a 2.75 s
    * batch, which segment mode removes; the remaining cost is the
    * bucketed pair work, which the QUANTIZER bounds (grow the centroid
    * set with the corpus — free under `_qfp`).
    *
    * Below [[ProbeBroadcastMaxVecRows]] batch vectors the store probe
    * broadcasts the BATCH side: the
    * store streams through the join unshuffled — the shuffled shape
    * would exchange the store on `bucket`, a k-value key whose
    * partitions carry whole buckets (skew by construction).
    *
    * SINGLE WRITER: this step must be its store's only concurrent
    * writer — the [[graft.lake.VersionedTable]] contract it inherits
    * (segment vacuum and the bounded L1 merge delete committed segment
    * directories; a concurrent stamped append detected when a merge is
    * due is refused loudly by
    * [[graft.lake.VersionedTable.compactSegments]]).
    */
  def semanticDedupBatchStep(batch: DataFrame, idCol: String, vecCol: String,
                             tsCol: String, centroids: DataFrame,
                             bucketCol: String, centroidVecCol: String,
                             threshold: Double, storePath: String,
                             retention: String = "1 hour",
                             maxSegments: Int = 0): DataFrame =
    retentionStep(batch, storePath, SemanticDedupStore, maxSegments) {
      semanticDedupBatchCompute(batch, idCol, vecCol, tsCol, centroids,
        bucketCol, centroidVecCol, threshold, _, retention)
    }

  /** The semantic-dedup vector store. Its rows are raw vectors, so a
    * quantizer change migrates them on read (`_qfp`) and the pin only
    * names the layout.
    */
  private val SemanticDedupStore = StoreSpec(
    "semdedup;layout=bucket-sid-svec-ts-qfp",
    StructType(Seq(StructField("bucket", LongType),
      StructField("_sid", LongType),
      StructField("_svec", ArrayType(DoubleType)),
      StructField("_ts", TimestampType),
      StructField("_qfp", LongType))))

  /** Decision half of [[semanticDedupBatchStep]] ([[StoreDecision]]
    * with the survivors as `out` and their vectors as the segment) —
    * the [[semanticDedupWriter]] crash-consistency seam. A changed
    * quantizer sets `forceRepublish` so layers stay
    * fingerprint-uniform.
    */
  private[graft] def semanticDedupBatchCompute(batch: DataFrame, idCol: String,
                                        vecCol: String, tsCol: String,
                                        centroids: DataFrame, bucketCol: String,
                                        centroidVecCol: String,
                                        threshold: Double, read: StoreRead,
                                        retention: String)
      : StoreDecision = {
    // quantizer fingerprint: order-independent combine of per-centroid
    // hashes — a k-row aggregate (planning-relation class). bit_xor
    // alone is NOT duplicate-safe (duplicate centroid rows cancel
    // pairwise, so {B} and {B,A,A} would collide and skip the
    // re-bucket pass), so mix xor with the decimal-exact SUM of the
    // hashes (duplicates ADD, never cancel; decimal dodges ANSI long
    // overflow) and the row count.
    val fpAgg = centroids
      .select(xxhash64(to_json(struct(
          col(bucketCol).cast("long").as("b"),
          transform(col(centroidVecCol), x => x.cast("double")).as("v"))))
        .as("_h"))
      .agg(expr("bit_xor(_h)").as("x"),
        sum(col("_h").cast("decimal(38,0)")).as("s"),
        count(lit(1)).as("n"))
    // segments always carry _qfp and — by the forced-republish-on-
    // change invariant — the SAME one as the base under them, so the
    // union stays fingerprint-uniform. A pre-seam store lacks the
    // column and reads it as null: the stale-quantizer fallback
    val store =
      if (read.store.columns.contains("_qfp")) read.store
      else read.store.withColumn("_qfp", lit(null).cast(LongType))
    // every published version stamps ONE uniform fingerprint (the
    // whole new store gets `lit(qfp)` below), so the FIRST row decides
    // the fast path — a limit(1) that short-circuits after one row
    // group, instead of a full-column min/max scan on every batch of
    // the hot path; pre-seam rows read null → conservative re-bucket.
    // The quantizer fingerprint aggregate and this store head ride ONE
    // left-joined collect (r19, guide §1.2): they were two driver jobs
    // per batch; the `_has` marker keeps the empty-store case (left
    // join yields null _has → fast path) distinct from a pre-seam
    // null-_qfp row (_has = 1, null _qfp → conservative re-bucket).
    val fpRow = fpAgg.join(
        store.select(lit(1).as("_has"), col("_qfp")).limit(1),
        lit(true), "left")
      .head()
    require(fpRow.getLong(2) > 0,
      "semantic dedup needs a non-empty quantizer (centroids relation)")
    val qfp: Long = mix64(mix64(fpRow.getLong(0) ^
        fpRow.getDecimal(1).toBigInteger.longValue()) ^ fpRow.getLong(2))
    val quantizerCurrent = fpRow.isNullAt(3) ||
      (!fpRow.isNullAt(4) && fpRow.getLong(4) == qfp)
    // batch-sized; computed ONCE — four consumers below (store probe,
    // both sides of the in-batch self-join, survivor store extraction)
    // would otherwise each recompute the centroid bucket assignment.
    // The double-cast vector rides the assignment argmax
    // ([[graft.textops.Similarity.assignBucketsKeeping]]) — the
    // pre-r19 shape joined the assignment back against the batch on
    // the id, a second batch shuffle plus a join per step. Bounds and
    // the probe's row-count bound arrive as observations on the same
    // materialization — zero extra jobs (assignment is 1:1, so the
    // count equals the batch row count the probe bound used before).
    val (observed, obsB) = observeBounds(batch, tsCol, retention)
    val obsN = org.apache.spark.sql.Observation()
    val vecs = graft.textops.Similarity.assignBucketsKeeping(
        observed.select(col(idCol), col(vecCol))
          .withColumn("_v", transform(col(vecCol), v => v.cast("double"))),
        idCol, vecCol, centroids, bucketCol, centroidVecCol, Seq("_v"))
      .select(col(idCol), col("_v"), col("bucket"))
      .observe(obsN, count(lit(1)).as("_n"))
      .localCheckpoint()
    val bounds = observedBounds(obsB, "semanticDedupBatchCompute")
    val nVecRows = Observed.long(obsN, "_n", "semanticDedupBatchCompute").getOrElse(0L)
    // the step's ONCE-collected horizon ([[observeBounds]]) as a
    // literal, store-scan-pushable predicate; None (empty batch) keeps
    // the store untouched
    val hzSd = bounds._2
    val liveRaw = hzSd.fold(store)(h => store.filter(col("_ts") >= lit(h)))
      .select("bucket", "_sid", "_svec", "_ts")
    // re-bucket on read when the quantizer changed (see scaladoc) —
    // one O(store·k) assignment pass per change, then fast-path again
    val liveStore =
      if (quantizerCurrent) liveRaw
      else liveRaw.drop("bucket")
        .join(graft.textops.Similarity.assignBuckets(
            liveRaw.select(col("_sid"), col("_svec")), "_sid", "_svec",
            centroids, bucketCol, centroidVecCol)
          .select(col("_sid"), col("bucket")), Seq("_sid"))
        .select("bucket", "_sid", "_svec", "_ts")
    val cos = (a: Column, b: Column) => {
      val dot = graft.textops.Similarity.dot _
      gridSnap(dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b))), 6)
    }
    // store-shuffle-free probe (see [[storeProbe]]). Doubly important
    // here: the shuffled shape exchanges the store on `bucket` — a
    // k-value key whose partitions carry whole buckets (skew by
    // construction); the broadcast shape never repartitions the store
    // at all. The per-pair cosine is the identical expression either
    // way, and `dropped`'s distinct absorbs overlay duplicates.
    val vsStore = storeProbe(liveStore.select(col("bucket"), col("_svec")),
        Seq("bucket"), vecs, nVecRows, ProbeBroadcastMaxVecRows)
      .filter(cos(col("_v"), col("_svec")) >= threshold)
      .select(col(idCol))
    val vsBatch = vecs.select(col("bucket"), col(idCol).as("_a"), col("_v").as("_va"))
      .join(vecs.select(col("bucket"), col(idCol).as("_b"), col("_v").as("_vb")),
        Seq("bucket"))
      .filter(col("_a") < col("_b"))
      .filter(cos(col("_va"), col("_vb")) >= threshold)
      .select(col("_b").as(idCol))
    val dropped = vsStore.unionByName(vsBatch).distinct()
    val survivors = batch.join(dropped, Seq(idCol), "left_anti")
      .localCheckpoint()
    val survStore = vecs
      .join(survivors.select(col(idCol), col(tsCol).as("_ts")), Seq(idCol))
      .select(col("bucket"), col(idCol).as("_sid"), col("_v").as("_svec"),
        col("_ts"))
    val merged = liveStore.unionByName(survStore)
    // Behind pending segments, duplicates fall in two classes: a base
    // row and its expired-then-readmitted segment twin (SAME vector —
    // the intended fold target), and an id-REUSING source that
    // admitted a different vector under an old id (a store without
    // segments keeps both rows live, so both must survive the fold too
    // or the layouts diverge on future drop decisions). Keying
    // keep-newest on (_sid, _svec) — array grouping keys are exact
    // here, vectors re-enter the store bit-identically — collapses
    // exactly the twin class and nothing else. A store with no pending
    // segments skips the extra shuffle.
    val folded =
      if (read.segments.isEmpty) merged
      else merged.groupBy(col("_sid"), col("_svec"))
        .agg(max(struct(col("_ts"), col("bucket"))).as("_m"))
        .select(col("_m.bucket").as("bucket"), col("_sid"),
          col("_svec"), col("_m._ts").as("_ts"))
    StoreDecision(survivors, folded.withColumn("_qfp", lit(qfp)),
      survStore.withColumn("_qfp", lit(qfp)), bounds,
      forceRepublish = !quantizerCurrent)
  }

  /** `foreachBatch` wrapper over the semantic batch step — same
    * crash-consistent sink-before-state ordering as [[nearDedupWriter]]
    * (see its scaladoc for the three-case convergence argument), and
    * the same sink fold once [[SinkCompactAt]] deltas are pending. Read
    * the sink with
    * `VersionedTable.readCurrentMerged(spark, survivorsPath, Seq(idCol))`.
    *
    * SINGLE WRITER: one running query per (`storePath`,
    * `survivorsPath`) pair — the [[graft.lake.VersionedTable]] contract
    * both stores inherit (Structured Streaming's checkpointed
    * single-query execution provides exactly this when each store root
    * belongs to one writer query).
    */
  def semanticDedupWriter(rows: DataFrame, idCol: String, vecCol: String,
                          tsCol: String, centroids: DataFrame,
                          bucketCol: String, centroidVecCol: String,
                          threshold: Double, storePath: String,
                          survivorsPath: String, retention: String = "1 hour",
                          maxSegments: Int = 0)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    requireMaxSegments(maxSegments)
    rows.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, _: Long) =>
        retentionStep(batch, storePath, SemanticDedupStore, maxSegments,
            morUpsertStep(_, Seq(idCol), survivorsPath)) {
          semanticDedupBatchCompute(batch, idCol, vecCol, tsCol, centroids,
            bucketCol, centroidVecCol, threshold, _, retention)
        }
        ()
    }
  }

  /** Online refresh of the learned quality gate
    * ([[graft.textops.QualityModel]]): one mass-normalized GD round on
    * each labeled micro-batch, warm-started from the manifest-versioned
    * weight store — "retrain the gate on today's crawl without a full
    * refit". Features the batch never mentions keep their prior weight
    * (their gradient is structurally zero), unseen-before features
    * enter at 0, so the store only ever grows toward the dim bound and
    * scoring readers ([[graft.textops.QualityModel.scoreLogisticOn]]
    * over `VersionedTable.readCurrent`) always resolve a complete
    * weight version mid-publish. Per batch the work is the classifier's
    * two feature-relation shuffles — batch-sized, not corpus-sized —
    * and the dim-row store rides broadcast joins. Returns the published
    * weights so the caller can chain a same-batch scoring stage.
    */
  def onlineLogisticBatchStep(batch: DataFrame, idCol: String,
                              textCol: String, labelCol: String, dim: Int,
                              lr: Double, storePath: String,
                              batchId: Option[Long] = None): DataFrame = {
    // weight rows are keyed by md5-hashed feature index mod dim — a
    // changed dim remaps every index, so the prior weights would be
    // silently applied to the wrong features (lr is step size only —
    // deliberately not stamped, tuning it mid-stream is legitimate).
    // The store is never segmented, so its read is the current base.
    val read = readStore(batch.sparkSession, storePath,
      StoreSpec(s"logistic;features=md5-token-share;dim=$dim",
        StructType(Seq(StructField("feat", LongType),
          StructField("w", DoubleType)))))
    val prior = read.listing.base.map(_ => read.store)
    // At-least-once redelivery guard: foreachBatch commits its offsets
    // AFTER this function returns, so a crash between our publish and
    // the checkpoint commit re-runs the same micro-batch. The store
    // carries the last applied batch id; a replay of an id we already
    // folded returns the store unchanged instead of taking a second
    // gradient step on the same evidence (the upsert-sink idempotence
    // discipline).
    val alreadyApplied = (for {
      p <- prior; bid <- batchId
      if p.columns.contains("_batch")
      row = p.agg(max(col("_batch"))).head()
      if !row.isNullAt(0)
    } yield row.getLong(0) >= bid).getOrElse(false)
    if (alreadyApplied) {
      prior.get.select(col("feat"), col("w"))
    } else {
      val w = graft.textops.QualityModel.trainLogisticOn(
        graft.textops.QualityModel.hashedFeatures(batch, idCol, textCol, dim),
        batch.select(col(idCol), col(labelCol)), idCol, labelCol,
        iters = 1, lr = lr, init = prior)
      val stamped = batchId match {
        case Some(bid) => w.withColumn("_batch", lit(bid))
        case None => w
      }
      VersionedTable.publishOn(read.listing, stamped)
      w
    }
  }

  /** foreachBatch writer wrapping [[onlineLogisticBatchStep]], with the
    * micro-batch id threaded through for redelivery idempotence.
    */
  def onlineLogisticWriter(rows: DataFrame, idCol: String, textCol: String,
                           labelCol: String, dim: Int, lr: Double,
                           storePath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    rows.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        onlineLogisticBatchStep(batch, idCol, textCol, labelCol, dim, lr,
          storePath, batchId = Some(batchId))
        ()
    }
}
