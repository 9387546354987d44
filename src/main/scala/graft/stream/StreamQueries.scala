package graft.stream

import graft.core.{QueryPack, Tables}
import graft.multimodal.Multimodal
import org.apache.spark.sql.functions._
import graft.functions.StableMath.gridSnap

/** Driver-checkable queries for the streaming semantics (SURVEY §2.9)
  * and the multimodal plumbing — run in batch mode over the events/
  * documents tables using the exact same plan functions the streaming
  * paths use (Structured Streaming executes the identical expressions
  * incrementally; StreamingSpec drives them through MemoryStream).
  */
object StreamQueries extends QueryPack {

  /** A state-store root for one step query: deterministic per input
    * (the [[graft.lake.LakeQueries]] discipline — a fresh
    * createTempDirectory per run accumulates orphan state dirs across
    * bench/correctness repetitions) and wiped first, because a
    * multi-batch fold is only deterministic from an EMPTY store.
    */
  private def scratchStore(s: org.apache.spark.sql.SparkSession, tag: String,
                           dir: String): String = {
    val store = s"${System.getProperty("java.io.tmpdir")}/graft_streamq/" +
      s"$tag${dir.replaceAll("[^A-Za-z0-9]", "_")}/store"
    val storeP = new org.apache.hadoop.fs.Path(store)
    storeP.getFileSystem(s.sparkContext.hadoopConfiguration)
      .delete(storeP, true)
    store
  }

  override def queries: Map[String, Q] = Map(
    // T4: stateless per-event enrichment, rolled up per category.
    "q_s_enrich" -> ((s, dir) =>
      Streaming.enrich(Tables.events(s, dir))
        .groupBy("category")
        .agg(count(lit(1)).as("n"),
          sum(when(col("is_anomaly"), 1L).otherwise(0L)).as("n_anomalies"),
          gridSnap(avg(col("score_raw")), 6).as("avg_score"))
        .orderBy("category")),

    // T7: tumbling 1-hour windowed health metrics. Window starts are
    // emitted as epoch seconds: a naked timestamp column would compare
    // tz-aware (Spark instant) against naive (DuckDB) in the oracle.
    "q_s_window" -> ((s, dir) =>
      Streaming.windowedHealth(Tables.events(s, dir), "1 hour")
        .withColumn("window_start", unix_timestamp(col("window_start")))
        .orderBy("window_start", "event_type")),

    // T8: threshold alerting over the windowed stream.
    "q_s_alerts" -> ((s, dir) =>
      Streaming.alerts(Tables.events(s, dir), "1 hour", errorRateThreshold = 0.2)
        .withColumn("window_start", unix_timestamp(col("window_start")))
        .orderBy("window_start")),

    // Gap-based sessionization (native session_window), summarized per
    // user so the oracle compare is deterministic.
    "q_s_sessions" -> ((s, dir) =>
      Streaming.sessionSummary(Tables.events(s, dir), "user_id", "ts",
          "30 minutes")
        .orderBy("user_id")),

    // Ordered funnel view → click → purchase: per-step hash joins on
    // the user id against a shrinking one-row-per-user frame; order
    // matters (a click before the first view does not progress).
    "q_s_funnel" -> ((s, dir) =>
      graft.analytics.Behavior.funnel(Tables.events(s, dir), "user_id", "ts",
          "event_type", Seq("view", "click", "purchase"))
        .orderBy("step_index")),

    // Retention cohort matrix: first-event week × whole-week offset,
    // distinct active users per cell.
    "q_s_cohort" -> ((s, dir) =>
      graft.analytics.Behavior.retentionCohorts(Tables.events(s, dir),
          "user_id", "ts")
        .orderBy("cohort_week", "week_offset")),

    // A16: quality-trend aggregates per day (monitoring surface).
    "q_a16_quality_trend" -> ((s, dir) =>
      Monitoring.qualityTrend(Tables.events(s, dir), "ts", "value",
        lowThreshold = 50.0)),

    // The incremental semantic-dedup BATCH STEP, hash-checked: two
    // consecutive micro-batches (even vec_ids then odd) against a fresh
    // versioned state store — batch 2's survivors must exclude both
    // vectors near a batch-1 SURVIVOR (cross-batch state, the part a
    // batch-mode oracle can't see without replaying the fold) and
    // vectors near a smaller-id batch-mate. Centroids are the first 4
    // seed vectors (the q_t_semantic_dedup convention), retention long
    // enough that nothing expires. Deterministic end-to-end, so the
    // MemoryStream spec's claim gets a DuckDB hash check too.
    "q_s_semdedup_step" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cent = emb.orderBy("vec_id").limit(4)
        .select(col("vec_id").cast("long").as("b"),
          transform(col("embedding"), x => x.cast("double")).as("cv"))
      val withTs = emb.withColumn("ts",
        lit(java.sql.Timestamp.valueOf("2024-01-01 10:00:00")))
      val store = scratchStore(s, "semstep", dir)
      // batch 1 (even ids) materializes eagerly — survivors checkpoint,
      // state publishes to the store
      Streaming.semanticDedupBatchStep(
        withTs.where(col("vec_id") % 2 === 0), "vec_id", "embedding", "ts",
        cent, "b", "cv", threshold = 0.35, store, retention = "10 days")
      // batch 2 (odd ids) dedups against batch 1's surviving state
      Streaming.semanticDedupBatchStep(
        withTs.where(col("vec_id") % 2 === 1), "vec_id", "embedding", "ts",
        cent, "b", "cv", threshold = 0.35, store, retention = "10 days")
        .select(col("vec_id"))
        .orderBy("vec_id")
    }),

    // The SEGMENT-mode twin of q_s_semdedup_step, on a THREE-batch
    // fold so the last batch actually reads through the segments:
    // batch 1 (ids ≡ 0 mod 3) bootstraps the base, batches 2 (≡ 1) and
    // 3 (≡ 2) land as STAMPED segments and no republish ever happens,
    // so batch 3 scores against base ∪ segment — the read path the
    // two-batch twin never exercises. Hash-matching the segment-blind
    // three-tier replay proves the LSM segment layout
    // decision-invisible, not just spec-asserted.
    "q_s_semdedup_segmented_step" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cent = emb.orderBy("vec_id").limit(4)
        .select(col("vec_id").cast("long").as("b"),
          transform(col("embedding"), x => x.cast("double")).as("cv"))
      val withTs = emb.withColumn("ts",
        lit(java.sql.Timestamp.valueOf("2024-01-01 10:00:00")))
      val store = scratchStore(s, "semsegstep", dir)
      def step(b: org.apache.spark.sql.DataFrame) =
        Streaming.semanticDedupBatchStep(b, "vec_id", "embedding", "ts",
          cent, "b", "cv", threshold = 0.35, store, retention = "10 days",
          maxSegments = Streaming.SegmentMergeBound)
      step(withTs.where(col("vec_id") % 3 === 0))
      step(withTs.where(col("vec_id") % 3 === 1))
      step(withTs.where(col("vec_id") % 3 === 2))
        .select(col("vec_id"))
        .orderBy("vec_id")
    }),

    // The BOUNDED segment-mode semdedup twin (maxSegments = 1, r18):
    // four mod-4 batches through the vector store; batch 3's tail
    // L1-merges the first two stamped segments, so batch 4's exact-
    // cosine probe reads base ∪ MERGED segment — with this entry the
    // L1 merge is hash-proven decision-invisible on ALL THREE
    // retention-horizon stores (shingle, band, vector), not just one.
    "q_s_semdedup_segmented_bounded_step" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cent = emb.orderBy("vec_id").limit(4)
        .select(col("vec_id").cast("long").as("b"),
          transform(col("embedding"), x => x.cast("double")).as("cv"))
      val withTs = emb.withColumn("ts",
        lit(java.sql.Timestamp.valueOf("2024-01-01 10:00:00")))
      val store = scratchStore(s, "semsegbstep", dir)
      def step(b: org.apache.spark.sql.DataFrame) =
        Streaming.semanticDedupBatchStep(b, "vec_id", "embedding", "ts",
          cent, "b", "cv", threshold = 0.35, store, retention = "10 days",
          maxSegments = 1)
      step(withTs.where(col("vec_id") % 4 === 0))
      step(withTs.where(col("vec_id") % 4 === 1))
      step(withTs.where(col("vec_id") % 4 === 2))
      step(withTs.where(col("vec_id") % 4 === 3))
        .select(col("vec_id"))
        .orderBy("vec_id")
    }),

    // Incremental novelty gate, two-batch fold: evens admit into an
    // empty store (everything is novel), odds score against the
    // admitted evens' shingles and gate at novelty ≥ 0.5 — near-dup
    // twins of admitted content are refused, fresh material passes.
    // 5-gram shingles: the corpus generator's trigram space saturates
    // at sf0.1 (2500 refs cover every template trigram → all-zero
    // novelty), while 5-grams keep the twin/fresh separation sharp at
    // every SF (~0.95 mean novelty, twins near 0).
    // Batch-atomic snapshot semantics and Md5Portable hashes make the
    // fold a pure function DuckDB replays.
    "q_s_novelty_step" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).withColumn("ts",
        lit(java.sql.Timestamp.valueOf("2024-01-01 10:00:00")))
      val store = scratchStore(s, "novstep", dir)
      Streaming.noveltyGateBatchStep(
        docs.where(col("doc_id") % 2 === 0), "doc_id", "text", "ts",
        store, minNovelty = 0.5, retention = "10 days", shingleN = 5,
        family = graft.textops.HashFamily.Md5Portable)
      Streaming.noveltyGateBatchStep(
        docs.where(col("doc_id") % 2 === 1), "doc_id", "text", "ts",
        store, minNovelty = 0.5, retention = "10 days", shingleN = 5,
        family = graft.textops.HashFamily.Md5Portable)
        .select("doc_id", "novelty")
        .orderBy("doc_id")
    }),

    // The SEGMENT-mode novelty twin — a three-batch mod-3 fold through
    // stamped segments, no republish (see q_s_semdedup_segmented_step).
    "q_s_novelty_segmented_step" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).withColumn("ts",
        lit(java.sql.Timestamp.valueOf("2024-01-01 10:00:00")))
      val store = scratchStore(s, "novsegstep", dir)
      def step(b: org.apache.spark.sql.DataFrame) =
        Streaming.noveltyGateBatchStep(b, "doc_id", "text", "ts",
          store, minNovelty = 0.5, retention = "10 days", shingleN = 5,
          family = graft.textops.HashFamily.Md5Portable,
          maxSegments = Streaming.SegmentMergeBound)
      step(docs.where(col("doc_id") % 3 === 0))
      step(docs.where(col("doc_id") % 3 === 1))
      step(docs.where(col("doc_id") % 3 === 2))
        .select("doc_id", "novelty")
        .orderBy("doc_id")
    }),

    // The BOUNDED segment-mode twin (maxSegments = 1, r17): four mod-4
    // batches; batch 3's tail folds the first two stamped segments
    // into ONE (the in-step L1 merge), so batch 4's decisions read
    // base ∪ MERGED segment. Hash-matching a pure 4-tier SQL replay —
    // which knows nothing about segments or merges — proves the merge
    // is decision-invisible; the StreamingSpec bounded test pins the
    // complementary direction (that the merge actually fires and
    // bounds the backlog).
    "q_s_novelty_segmented_bounded_step" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).withColumn("ts",
        lit(java.sql.Timestamp.valueOf("2024-01-01 10:00:00")))
      val store = scratchStore(s, "novsegbstep", dir)
      def step(b: org.apache.spark.sql.DataFrame) =
        Streaming.noveltyGateBatchStep(b, "doc_id", "text", "ts",
          store, minNovelty = 0.5, retention = "10 days", shingleN = 5,
          family = graft.textops.HashFamily.Md5Portable, maxSegments = 1)
      step(docs.where(col("doc_id") % 4 === 0))
      step(docs.where(col("doc_id") % 4 === 1))
      step(docs.where(col("doc_id") % 4 === 2))
      step(docs.where(col("doc_id") % 4 === 3))
        .select("doc_id", "novelty")
        .orderBy("doc_id")
    }),

    // The incremental NEAR-dedup BATCH STEP (MinHash-LSH band state),
    // hash-checked: evens admit into an empty store (minus in-batch
    // smaller-id band collisions), odds then drop on any band
    // collision with a batch-1 SURVIVOR's stored bands or with a
    // smaller-id batch-mate. Md5Portable family so DuckDB replays the
    // signature arithmetic bit-for-bit (the q_t_minhash_lsh
    // convention); retention long enough that nothing expires.
    "q_s_neardedup_step" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).withColumn("ts",
        lit(java.sql.Timestamp.valueOf("2024-01-01 10:00:00")))
      val store = scratchStore(s, "nndstep", dir)
      def step(b: org.apache.spark.sql.DataFrame) =
        Streaming.nearDedupBatchStep(b, "doc_id", "text", "ts", store,
          retention = "10 days",
          family = graft.textops.HashFamily.Md5Portable)
      step(docs.where(col("doc_id") % 2 === 0))
      step(docs.where(col("doc_id") % 2 === 1))
        .select(col("doc_id"))
        .orderBy("doc_id")
    }),

    // The SEGMENT-mode near-dedup twin — a three-batch mod-3 fold
    // through stamped segments, no republish (see
    // q_s_semdedup_segmented_step).
    "q_s_neardedup_segmented_step" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).withColumn("ts",
        lit(java.sql.Timestamp.valueOf("2024-01-01 10:00:00")))
      val store = scratchStore(s, "nndsegstep", dir)
      def step(b: org.apache.spark.sql.DataFrame) =
        Streaming.nearDedupBatchStep(b, "doc_id", "text", "ts", store,
          retention = "10 days",
          family = graft.textops.HashFamily.Md5Portable,
          maxSegments = Streaming.SegmentMergeBound)
      step(docs.where(col("doc_id") % 3 === 0))
      step(docs.where(col("doc_id") % 3 === 1))
      step(docs.where(col("doc_id") % 3 === 2))
        .select(col("doc_id"))
        .orderBy("doc_id")
    }),

    // The BOUNDED segment-mode near-dedup twin (maxSegments = 1, r18):
    // four mod-4 batches; batch 3's tail L1-merges the first two
    // stamped band segments into one, so batch 4's collision probe
    // reads base ∪ MERGED segment. Hash-matching the segment-blind
    // 4-tier replay proves the BAND store's merge decision-invisible —
    // q_s_novelty_segmented_bounded_step's proof extended to the
    // second of the three retention-horizon stores.
    "q_s_neardedup_segmented_bounded_step" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).withColumn("ts",
        lit(java.sql.Timestamp.valueOf("2024-01-01 10:00:00")))
      val store = scratchStore(s, "nndsegbstep", dir)
      def step(b: org.apache.spark.sql.DataFrame) =
        Streaming.nearDedupBatchStep(b, "doc_id", "text", "ts", store,
          retention = "10 days",
          family = graft.textops.HashFamily.Md5Portable, maxSegments = 1)
      step(docs.where(col("doc_id") % 4 === 0))
      step(docs.where(col("doc_id") % 4 === 1))
      step(docs.where(col("doc_id") % 4 === 2))
      step(docs.where(col("doc_id") % 4 === 3))
        .select(col("doc_id"))
        .orderBy("doc_id")
    }),

    // SKEWED batch composition (r19, the adversarial-shape entry):
    // every other store oracle slices the corpus into near-uniform
    // mod-N batches; this one feeds a FAT head batch (80% of rows),
    // a 10% batch, and two ~5% near-empty tails through the same
    // maxSegments = 1 protocol — so the L1 merge folds a fat segment
    // with a near-empty one while the base dwarfs both, and AQE's
    // build-side/coalescing choices differ from the uniform shape
    // (batch ≪ store flips the probe to batch-broadcast; the merge
    // read is lopsided). Hash-matching the segment-blind 4-tier
    // replay (same generator as the mod-4 twin, predicates swapped)
    // proves the decisions invariant to batch-size skew too.
    "q_s_neardedup_segmented_bounded_skew_step" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).withColumn("ts",
        lit(java.sql.Timestamp.valueOf("2024-01-01 10:00:00")))
      val store = scratchStore(s, "nndsegbskstep", dir)
      def step(b: org.apache.spark.sql.DataFrame) =
        Streaming.nearDedupBatchStep(b, "doc_id", "text", "ts", store,
          retention = "10 days",
          family = graft.textops.HashFamily.Md5Portable, maxSegments = 1)
      step(docs.where(col("doc_id") % 10 <= 7))
      step(docs.where(col("doc_id") % 10 === 8))
      step(docs.where(col("doc_id") % 20 === 9))
      step(docs.where(col("doc_id") % 20 === 19))
        .select(col("doc_id"))
        .orderBy("doc_id")
    }),

    // Streaming drift monitor, two-batch fold: the English slice
    // seeds the reference distribution, the German batch then reports
    // its JSD against it — the same divergence q_t_jsd computes in
    // batch, here produced through the persisted reference store.
    "q_s_drift_step" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val store = scratchStore(s, "driftstep", dir)
      Streaming.driftMonitorBatchStep(
        docs.where(col("lang") === "en"), "text", store)
      Streaming.driftMonitorBatchStep(
        docs.where(col("lang") === "de"), "text", store)
    }),

    // Streaming KMV distinct, two-batch fold over the unique event ids
    // (estimate regime at k=256): the k-min merge is exact, so the
    // fold through the persisted store equals the one-shot sketch over
    // the union — which is what DuckDB replays.
    "q_s_kmv_step" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val store = scratchStore(s, "kmvstep", dir)
      Streaming.kmvDistinctBatchStep(
        ev.where(col("event_id") % 2 === 0), "event_id", store, k = 256)
      Streaming.kmvDistinctBatchStep(
        ev.where(col("event_id") % 2 === 1), "event_id", store, k = 256)
    }),

    // Per-key streaming KMV: distinct users per event type, k=16 so
    // the estimate regime fires at every SF (each type sees ~all 150
    // users at sf0.01). Same exact-merge argument as q_s_kmv_step.
    "q_s_kmv_group_step" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val store = scratchStore(s, "kmvgstep", dir)
      Streaming.kmvDistinctByKeyBatchStep(
        ev.where(col("event_id") % 2 === 0), "event_type", "user_id",
        store, k = 16)
      Streaming.kmvDistinctByKeyBatchStep(
        ev.where(col("event_id") % 2 === 1), "event_type", "user_id",
        store, k = 16)
        .orderBy("event_type")
    }),

    // Multimodal metadata plumbing: binary payload + typed metadata.
    "q_m_binary" -> ((s, dir) =>
      Multimodal.attachBinary(Tables.documents(s, dir), "doc_id", "text")
        .join(Tables.documents(s, dir), "doc_id")
        .groupBy("source")
        .agg(sum(col("meta.n_bytes")).as("total_bytes"),
          countDistinct(col("meta.checksum")).as("n_distinct_payloads"),
          count(lit(1)).as("n_docs"))
        .orderBy("source")),

    // Batched stub decode (mapPartitions seam). The stub's byte
    // histogram is deterministic integer math, so the whole pipeline IS
    // SQL-expressible — hash-checked against a DuckDB hex-nibble oracle
    // (a byte's value mod 8 depends only on its low hex nibble).
    "q_m_features" -> ((s, dir) => {
      val feats = Multimodal.featurize(s, Tables.documents(s, dir), "doc_id", "text")
      feats.agg(count(lit(1)).as("n_media"),
        sum(col("n_bytes")).as("total_bytes"),
        gridSnap(sum(element_at(col("features"), 1).cast("double")), 2).as("f0_mass"))
    }),

    // REAL image decode, hash-checked: solid-color PNGs land every pixel
    // in one analytically-known luminance bin (integer Rec.601 weights),
    // so DuckDB verifies the ImageIO decode without any image codec.
    // Colors: black->bin0, red(76)->bin2, gray 0x808080(128)->bin4,
    // white(255)->bin7.
    "q_m_image" -> ((s, dir) => {
      import s.implicits._
      val colors = Seq(0L -> 0x000000, 1L -> 0xFF0000, 2L -> 0x808080,
        3L -> 0xFFFFFF)
      val rows = colors.map { case (k, rgb) =>
        val img = new java.awt.image.BufferedImage(5, 3,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (y <- 0 until 3; x <- 0 until 5) img.setRGB(x, y, rgb)
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        (k, bos.toByteArray)
      }
      Multimodal.decodeImage(s, rows.toDF("id", "payload")).toDF()
        .select(col("id").as("img_id"),
          posexplode(col("features")).as(Seq("bin", "f")))
        .select(col("img_id"), col("bin"),
          gridSnap(col("f").cast("double"), 6).as("fval"))
        .orderBy("img_id", "bin")
    }),

    // REAL audio decode, hash-checked: square-wave WAVs have closed-form
    // features (constant |amplitude| ⇒ RMS = peak = a/32768 exactly,
    // sign flips every half-period ⇒ 399 crossings over 8000 frames),
    // so DuckDB verifies the decoded output analytically without any
    // audio codec. Amplitudes are powers-of-two multiples ⇒ every
    // float32 value is exact.
    "q_m_audio" -> ((s, dir) => {
      import s.implicits._
      val rows = (0L to 3L).map { k =>
        val amp = (4096 * (k + 1)).toInt
        val samples = Array.tabulate(8000)(i =>
          if ((i / 20) % 2 == 0) amp.toShort else (-amp).toShort)
        (k, Multimodal.pcmWav(samples, 1, 8000f))
      }
      Multimodal.decodeAudio(s, rows.toDF("id", "payload")).toDF()
        .select(col("id").as("wav_id"),
          posexplode(col("features")).as(Seq("feat_idx", "f")))
        .select(col("wav_id"), col("feat_idx"),
          gridSnap(col("f").cast("double"), 6).as("fval"))
        .orderBy("wav_id", "feat_idx")
    }),
  )

  // The segment-mode twin's three-batch decision algebra, which knows
  // nothing about the stamped segments the Spark side reads through —
  // the hash match is what proves the layout decision-invisible.
  private lazy val nearDedupOverlaySql: String =
    s"""WITH ${graft.textops.TextQueries.minhashCandCtes},
        |coll AS MATERIALIZED (SELECT doc_a AS da, doc_b AS db FROM cand
        |  UNION ALL SELECT doc_b, doc_a FROM cand),
        |surv1 AS MATERIALIZED (SELECT d.doc_id FROM documents d WHERE d.doc_id % 3 = 0
        |  AND NOT EXISTS (SELECT 1 FROM coll c
        |    WHERE c.db = d.doc_id AND c.da % 3 = 0 AND c.da < d.doc_id)),
        |surv2 AS MATERIALIZED (SELECT d.doc_id FROM documents d WHERE d.doc_id % 3 = 1
        |  AND NOT EXISTS (SELECT 1 FROM coll c JOIN surv1 s1 ON c.da = s1.doc_id
        |    WHERE c.db = d.doc_id)
        |  AND NOT EXISTS (SELECT 1 FROM coll c
        |    WHERE c.db = d.doc_id AND c.da % 3 = 1 AND c.da < d.doc_id))
        |SELECT d.doc_id FROM documents d WHERE d.doc_id % 3 = 2
        |  AND NOT EXISTS (SELECT 1 FROM coll c JOIN surv1 s1 ON c.da = s1.doc_id
        |    WHERE c.db = d.doc_id)
        |  AND NOT EXISTS (SELECT 1 FROM coll c JOIN surv2 s2 ON c.da = s2.doc_id
        |    WHERE c.db = d.doc_id)
        |  AND NOT EXISTS (SELECT 1 FROM coll c
        |    WHERE c.db = d.doc_id AND c.da % 3 = 2 AND c.da < d.doc_id)
        |ORDER BY doc_id""".stripMargin

  /** Four-tier (mod-4) form of [[nearDedupOverlaySql]] for the BOUNDED
    * segment-mode twin: on the Spark side tier 4's collision probe
    * reads base ∪ one L1-MERGED band segment (the maxSegments = 1 fold
    * landed in tier 3's tail); this SQL knows only the decision
    * algebra, so the hash match proves the band-store merge invisible.
    */
  private[graft] lazy val nearDedupOverlay4Sql: String =
    s"""WITH ${graft.textops.TextQueries.minhashCandCtes},
        |coll AS MATERIALIZED (SELECT doc_a AS da, doc_b AS db FROM cand
        |  UNION ALL SELECT doc_b, doc_a FROM cand),
        |surv1 AS MATERIALIZED (SELECT d.doc_id FROM documents d WHERE d.doc_id % 4 = 0
        |  AND NOT EXISTS (SELECT 1 FROM coll c
        |    WHERE c.db = d.doc_id AND c.da % 4 = 0 AND c.da < d.doc_id)),
        |surv2 AS MATERIALIZED (SELECT d.doc_id FROM documents d WHERE d.doc_id % 4 = 1
        |  AND NOT EXISTS (SELECT 1 FROM coll c JOIN surv1 s1 ON c.da = s1.doc_id
        |    WHERE c.db = d.doc_id)
        |  AND NOT EXISTS (SELECT 1 FROM coll c
        |    WHERE c.db = d.doc_id AND c.da % 4 = 1 AND c.da < d.doc_id)),
        |surv3 AS MATERIALIZED (SELECT d.doc_id FROM documents d WHERE d.doc_id % 4 = 2
        |  AND NOT EXISTS (SELECT 1 FROM coll c JOIN surv1 s1 ON c.da = s1.doc_id
        |    WHERE c.db = d.doc_id)
        |  AND NOT EXISTS (SELECT 1 FROM coll c JOIN surv2 s2 ON c.da = s2.doc_id
        |    WHERE c.db = d.doc_id)
        |  AND NOT EXISTS (SELECT 1 FROM coll c
        |    WHERE c.db = d.doc_id AND c.da % 4 = 2 AND c.da < d.doc_id))
        |SELECT d.doc_id FROM documents d WHERE d.doc_id % 4 = 3
        |  AND NOT EXISTS (SELECT 1 FROM coll c JOIN surv1 s1 ON c.da = s1.doc_id
        |    WHERE c.db = d.doc_id)
        |  AND NOT EXISTS (SELECT 1 FROM coll c JOIN surv2 s2 ON c.da = s2.doc_id
        |    WHERE c.db = d.doc_id)
        |  AND NOT EXISTS (SELECT 1 FROM coll c JOIN surv3 s3 ON c.da = s3.doc_id
        |    WHERE c.db = d.doc_id)
        |  AND NOT EXISTS (SELECT 1 FROM coll c
        |    WHERE c.db = d.doc_id AND c.da % 4 = 3 AND c.da < d.doc_id)
        |ORDER BY doc_id""".stripMargin

  /** Generic N-tier form of the near-dedup overlay replay: one
    * predicate per batch (a function of the id column it filters — the
    * tier's own membership test AND its in-batch smaller-id collision
    * partner test both use it). Tier i survives a document iff no band
    * collision with any EARLIER tier's survivor and none with a
    * smaller-id tier-mate — the engine's exact decision algebra,
    * segment-layout-blind. StreamQueriesSpec pins the mod-4 instance
    * byte-for-byte equal to the hand-written (hash-green since r18)
    * [[nearDedupOverlay4Sql]], so the generator cannot drift from the
    * proven shape; the skew twin below just swaps the predicates.
    */
  private[graft] def nearDedupTiersSql(preds: Seq[String => String]): String = {
    require(preds.size >= 2, "need at least two batch tiers")
    def tierBody(i: Int): String = {
      val prior = (0 until i).map { j =>
        s"  AND NOT EXISTS (SELECT 1 FROM coll c JOIN surv${j + 1} " +
          s"s${j + 1} ON c.da = s${j + 1}.doc_id\n" +
          "    WHERE c.db = d.doc_id)\n"
      }.mkString
      s"SELECT d.doc_id FROM documents d WHERE ${preds(i)("d.doc_id")}\n" +
        prior +
        "  AND NOT EXISTS (SELECT 1 FROM coll c\n" +
        s"    WHERE c.db = d.doc_id AND ${preds(i)("c.da")} AND c.da < d.doc_id)"
    }
    val survCtes = (0 until preds.size - 1)
      .map(i => s"surv${i + 1} AS MATERIALIZED (${tierBody(i)})")
      .mkString(",\n")
    s"WITH ${graft.textops.TextQueries.minhashCandCtes},\n" +
      "coll AS MATERIALIZED (SELECT doc_a AS da, doc_b AS db FROM cand\n" +
      "  UNION ALL SELECT doc_b, doc_a FROM cand),\n" +
      survCtes + "\n" +
      tierBody(preds.size - 1) + "\n" +
      "ORDER BY doc_id"
  }

  /** The skewed-batch instance (r19): 80% / 10% / ~5% / ~5% tiers —
    * see the q_s_neardedup_segmented_bounded_skew_step comment. */
  private[graft] lazy val nearDedupSkew4Sql: String =
    nearDedupTiersSql(Seq(
      c => s"$c % 10 <= 7", c => s"$c % 10 = 8",
      c => s"$c % 20 = 9", c => s"$c % 20 = 19"))

  private lazy val noveltyOverlaySql: String =
    """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
        |tok AS (SELECT doc_id, UNNEST(ws) AS word, generate_subscripts(ws, 1) AS pos FROM w),
        |sh AS (SELECT DISTINCT doc_id,
        |    word || ' ' || l1 || ' ' || l2 || ' ' || l3 || ' ' || l4 AS s FROM (
        |  SELECT doc_id, word,
        |    LEAD(word, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS l1,
        |    LEAD(word, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS l2,
        |    LEAD(word, 3) OVER (PARTITION BY doc_id ORDER BY pos) AS l3,
        |    LEAD(word, 4) OVER (PARTITION BY doc_id ORDER BY pos) AS l4 FROM tok)
        |  WHERE l4 IS NOT NULL),
        |h AS (SELECT doc_id,
        |    CAST(('0x' || substring(md5(s), 1, 15)) AS BIGINT) AS hs FROM sh),
        |ref1 AS (SELECT DISTINCT hs FROM h WHERE doc_id % 3 = 0),
        |sc2 AS (SELECT h.doc_id, COUNT(DISTINCT h.hs) AS n,
        |    COUNT(DISTINCT CASE WHEN r.hs IS NOT NULL THEN h.hs END) AS seen
        |  FROM h LEFT JOIN ref1 r ON h.hs = r.hs
        |  WHERE h.doc_id % 3 = 1 GROUP BY h.doc_id),
        |adm2 AS (SELECT doc_id FROM sc2
        |  WHERE FLOOR((CAST(n - seen AS DOUBLE) / n) * 1000000 + 0.5) / 1000000 >= 0.5
        |  UNION ALL SELECT d.doc_id FROM documents d
        |  WHERE d.doc_id % 3 = 1 AND d.doc_id NOT IN (SELECT doc_id FROM h)),
        |ref2 AS (SELECT hs FROM ref1
        |  UNION SELECT h.hs FROM h JOIN adm2 a2 ON h.doc_id = a2.doc_id),
        |sc3 AS (SELECT h.doc_id, COUNT(DISTINCT h.hs) AS n,
        |    COUNT(DISTINCT CASE WHEN r.hs IS NOT NULL THEN h.hs END) AS seen
        |  FROM h LEFT JOIN ref2 r ON h.hs = r.hs
        |  WHERE h.doc_id % 3 = 2 GROUP BY h.doc_id),
        |gated AS (SELECT doc_id, FLOOR((CAST(n - seen AS DOUBLE) / n) * 1000000 + 0.5) / 1000000 AS novelty
        |  FROM sc3),
        |shless AS (SELECT d.doc_id, CAST(NULL AS DOUBLE) AS novelty
        |  FROM documents d
        |  WHERE d.doc_id % 3 = 2 AND d.doc_id NOT IN (SELECT doc_id FROM h))
        |SELECT doc_id, novelty FROM gated WHERE novelty >= 0.5
        |UNION ALL SELECT doc_id, novelty FROM shless
        |ORDER BY doc_id""".stripMargin

  /** Four-tier (mod-4) form of [[noveltyOverlaySql]] for the BOUNDED
    * segment-mode twin: tier 1 bootstraps, tiers 2-3 gate and extend
    * the reference, tier 4 is the output — on the Spark side tier 4
    * reads base ∪ one L1-MERGED segment (the maxSegments fold landed
    * in tier 3's tail), which this SQL proves decision-invisible.
    */
  private lazy val noveltyOverlay4Sql: String =
    """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
        |tok AS (SELECT doc_id, UNNEST(ws) AS word, generate_subscripts(ws, 1) AS pos FROM w),
        |sh AS (SELECT DISTINCT doc_id,
        |    word || ' ' || l1 || ' ' || l2 || ' ' || l3 || ' ' || l4 AS s FROM (
        |  SELECT doc_id, word,
        |    LEAD(word, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS l1,
        |    LEAD(word, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS l2,
        |    LEAD(word, 3) OVER (PARTITION BY doc_id ORDER BY pos) AS l3,
        |    LEAD(word, 4) OVER (PARTITION BY doc_id ORDER BY pos) AS l4 FROM tok)
        |  WHERE l4 IS NOT NULL),
        |h AS (SELECT doc_id,
        |    CAST(('0x' || substring(md5(s), 1, 15)) AS BIGINT) AS hs FROM sh),
        |ref1 AS (SELECT DISTINCT hs FROM h WHERE doc_id % 4 = 0),
        |sc2 AS (SELECT h.doc_id, COUNT(DISTINCT h.hs) AS n,
        |    COUNT(DISTINCT CASE WHEN r.hs IS NOT NULL THEN h.hs END) AS seen
        |  FROM h LEFT JOIN ref1 r ON h.hs = r.hs
        |  WHERE h.doc_id % 4 = 1 GROUP BY h.doc_id),
        |adm2 AS (SELECT doc_id FROM sc2
        |  WHERE FLOOR((CAST(n - seen AS DOUBLE) / n) * 1000000 + 0.5) / 1000000 >= 0.5
        |  UNION ALL SELECT d.doc_id FROM documents d
        |  WHERE d.doc_id % 4 = 1 AND d.doc_id NOT IN (SELECT doc_id FROM h)),
        |ref2 AS (SELECT hs FROM ref1
        |  UNION SELECT h.hs FROM h JOIN adm2 a2 ON h.doc_id = a2.doc_id),
        |sc3 AS (SELECT h.doc_id, COUNT(DISTINCT h.hs) AS n,
        |    COUNT(DISTINCT CASE WHEN r.hs IS NOT NULL THEN h.hs END) AS seen
        |  FROM h LEFT JOIN ref2 r ON h.hs = r.hs
        |  WHERE h.doc_id % 4 = 2 GROUP BY h.doc_id),
        |adm3 AS (SELECT doc_id FROM sc3
        |  WHERE FLOOR((CAST(n - seen AS DOUBLE) / n) * 1000000 + 0.5) / 1000000 >= 0.5
        |  UNION ALL SELECT d.doc_id FROM documents d
        |  WHERE d.doc_id % 4 = 2 AND d.doc_id NOT IN (SELECT doc_id FROM h)),
        |ref3 AS (SELECT hs FROM ref2
        |  UNION SELECT h.hs FROM h JOIN adm3 a3 ON h.doc_id = a3.doc_id),
        |sc4 AS (SELECT h.doc_id, COUNT(DISTINCT h.hs) AS n,
        |    COUNT(DISTINCT CASE WHEN r.hs IS NOT NULL THEN h.hs END) AS seen
        |  FROM h LEFT JOIN ref3 r ON h.hs = r.hs
        |  WHERE h.doc_id % 4 = 3 GROUP BY h.doc_id),
        |gated AS (SELECT doc_id, FLOOR((CAST(n - seen AS DOUBLE) / n) * 1000000 + 0.5) / 1000000 AS novelty
        |  FROM sc4),
        |shless AS (SELECT d.doc_id, CAST(NULL AS DOUBLE) AS novelty
        |  FROM documents d
        |  WHERE d.doc_id % 4 = 3 AND d.doc_id NOT IN (SELECT doc_id FROM h))
        |SELECT doc_id, novelty FROM gated WHERE novelty >= 0.5
        |UNION ALL SELECT doc_id, novelty FROM shless
        |ORDER BY doc_id""".stripMargin

  private lazy val semdedupOverlaySql: String =
    """WITH c0 AS (SELECT CAST(vec_id AS BIGINT) AS bucket,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
        |  FROM embeddings ORDER BY vec_id LIMIT 4),
        |e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |s AS (SELECT e.vec_id, e.v, c0.bucket,
        |    FLOOR((list_cosine_similarity(e.v, c0.cv)) * 1000000 + 0.5) / 1000000 AS sim FROM e CROSS JOIN c0),
        |a AS (SELECT vec_id, MAX(struct_pack(sim := sim, bucket := bucket)) AS m,
        |    ANY_VALUE(v) AS v FROM s GROUP BY vec_id),
        |asg AS (SELECT vec_id, m.bucket AS bucket, v FROM a),
        |t1Losers AS (SELECT DISTINCT b.vec_id FROM asg a JOIN asg b
        |  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        |  WHERE a.vec_id % 3 = 0 AND b.vec_id % 3 = 0
        |    AND FLOOR((list_cosine_similarity(a.v, b.v)) * 1000000 + 0.5) / 1000000 >= 0.35),
        |t1Surv AS (SELECT vec_id, bucket, v FROM asg
        |  WHERE vec_id % 3 = 0 AND vec_id NOT IN (SELECT vec_id FROM t1Losers)),
        |t2All AS (SELECT vec_id, bucket, v FROM asg WHERE vec_id % 3 = 1),
        |t2VsStore AS (SELECT DISTINCT b.vec_id FROM t2All b JOIN t1Surv s2
        |  ON b.bucket = s2.bucket
        |  WHERE FLOOR((list_cosine_similarity(b.v, s2.v)) * 1000000 + 0.5) / 1000000 >= 0.35),
        |t2VsBatch AS (SELECT DISTINCT b2.vec_id FROM t2All b1 JOIN t2All b2
        |  ON b1.bucket = b2.bucket AND b1.vec_id < b2.vec_id
        |  WHERE FLOOR((list_cosine_similarity(b1.v, b2.v)) * 1000000 + 0.5) / 1000000 >= 0.35),
        |t2Surv AS (SELECT vec_id, bucket, v FROM t2All
        |  WHERE vec_id NOT IN (SELECT vec_id FROM t2VsStore)
        |    AND vec_id NOT IN (SELECT vec_id FROM t2VsBatch)),
        |store2 AS (SELECT bucket, v FROM t1Surv UNION ALL SELECT bucket, v FROM t2Surv),
        |t3All AS (SELECT vec_id, bucket, v FROM asg WHERE vec_id % 3 = 2),
        |t3VsStore AS (SELECT DISTINCT b.vec_id FROM t3All b JOIN store2 s3
        |  ON b.bucket = s3.bucket
        |  WHERE FLOOR((list_cosine_similarity(b.v, s3.v)) * 1000000 + 0.5) / 1000000 >= 0.35),
        |t3VsBatch AS (SELECT DISTINCT b2.vec_id FROM t3All b1 JOIN t3All b2
        |  ON b1.bucket = b2.bucket AND b1.vec_id < b2.vec_id
        |  WHERE FLOOR((list_cosine_similarity(b1.v, b2.v)) * 1000000 + 0.5) / 1000000 >= 0.35)
        |SELECT vec_id FROM t3All
        |WHERE vec_id NOT IN (SELECT vec_id FROM t3VsStore)
        |  AND vec_id NOT IN (SELECT vec_id FROM t3VsBatch)
        |ORDER BY vec_id""".stripMargin

  /** Four-tier (mod-4) form of [[semdedupOverlaySql]] for the BOUNDED
    * segment-mode twin — tier 4's probe on the Spark side reads
    * base ∪ one L1-MERGED vector segment; this segment-blind replay
    * hash-proves the vector-store merge decision-invisible, closing
    * the three-store set (shingle, band, vector).
    */
  private lazy val semdedupOverlay4Sql: String =
    """WITH c0 AS (SELECT CAST(vec_id AS BIGINT) AS bucket,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
        |  FROM embeddings ORDER BY vec_id LIMIT 4),
        |e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |s AS (SELECT e.vec_id, e.v, c0.bucket,
        |    FLOOR((list_cosine_similarity(e.v, c0.cv)) * 1000000 + 0.5) / 1000000 AS sim FROM e CROSS JOIN c0),
        |a AS (SELECT vec_id, MAX(struct_pack(sim := sim, bucket := bucket)) AS m,
        |    ANY_VALUE(v) AS v FROM s GROUP BY vec_id),
        |asg AS (SELECT vec_id, m.bucket AS bucket, v FROM a),
        |t1Losers AS (SELECT DISTINCT b.vec_id FROM asg a JOIN asg b
        |  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        |  WHERE a.vec_id % 4 = 0 AND b.vec_id % 4 = 0
        |    AND FLOOR((list_cosine_similarity(a.v, b.v)) * 1000000 + 0.5) / 1000000 >= 0.35),
        |t1Surv AS (SELECT vec_id, bucket, v FROM asg
        |  WHERE vec_id % 4 = 0 AND vec_id NOT IN (SELECT vec_id FROM t1Losers)),
        |t2All AS (SELECT vec_id, bucket, v FROM asg WHERE vec_id % 4 = 1),
        |t2VsStore AS (SELECT DISTINCT b.vec_id FROM t2All b JOIN t1Surv s2
        |  ON b.bucket = s2.bucket
        |  WHERE FLOOR((list_cosine_similarity(b.v, s2.v)) * 1000000 + 0.5) / 1000000 >= 0.35),
        |t2VsBatch AS (SELECT DISTINCT b2.vec_id FROM t2All b1 JOIN t2All b2
        |  ON b1.bucket = b2.bucket AND b1.vec_id < b2.vec_id
        |  WHERE FLOOR((list_cosine_similarity(b1.v, b2.v)) * 1000000 + 0.5) / 1000000 >= 0.35),
        |t2Surv AS (SELECT vec_id, bucket, v FROM t2All
        |  WHERE vec_id NOT IN (SELECT vec_id FROM t2VsStore)
        |    AND vec_id NOT IN (SELECT vec_id FROM t2VsBatch)),
        |store2 AS (SELECT bucket, v FROM t1Surv UNION ALL SELECT bucket, v FROM t2Surv),
        |t3All AS (SELECT vec_id, bucket, v FROM asg WHERE vec_id % 4 = 2),
        |t3VsStore AS (SELECT DISTINCT b.vec_id FROM t3All b JOIN store2 s3
        |  ON b.bucket = s3.bucket
        |  WHERE FLOOR((list_cosine_similarity(b.v, s3.v)) * 1000000 + 0.5) / 1000000 >= 0.35),
        |t3VsBatch AS (SELECT DISTINCT b2.vec_id FROM t3All b1 JOIN t3All b2
        |  ON b1.bucket = b2.bucket AND b1.vec_id < b2.vec_id
        |  WHERE FLOOR((list_cosine_similarity(b1.v, b2.v)) * 1000000 + 0.5) / 1000000 >= 0.35),
        |t3Surv AS (SELECT vec_id, bucket, v FROM t3All
        |  WHERE vec_id NOT IN (SELECT vec_id FROM t3VsStore)
        |    AND vec_id NOT IN (SELECT vec_id FROM t3VsBatch)),
        |store3 AS (SELECT bucket, v FROM store2 UNION ALL SELECT bucket, v FROM t3Surv),
        |t4All AS (SELECT vec_id, bucket, v FROM asg WHERE vec_id % 4 = 3),
        |t4VsStore AS (SELECT DISTINCT b.vec_id FROM t4All b JOIN store3 s4
        |  ON b.bucket = s4.bucket
        |  WHERE FLOOR((list_cosine_similarity(b.v, s4.v)) * 1000000 + 0.5) / 1000000 >= 0.35),
        |t4VsBatch AS (SELECT DISTINCT b2.vec_id FROM t4All b1 JOIN t4All b2
        |  ON b1.bucket = b2.bucket AND b1.vec_id < b2.vec_id
        |  WHERE FLOOR((list_cosine_similarity(b1.v, b2.v)) * 1000000 + 0.5) / 1000000 >= 0.35)
        |SELECT vec_id FROM t4All
        |WHERE vec_id NOT IN (SELECT vec_id FROM t4VsStore)
        |  AND vec_id NOT IN (SELECT vec_id FROM t4VsBatch)
        |ORDER BY vec_id""".stripMargin

  override def oracle: Map[String, String] = Map(
    "q_s_funnel" ->
      """WITH s1 AS (SELECT user_id, MIN(ts) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e
        |  JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
        |  WHERE e.event_type = 'click' GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e
        |  JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t
        |  WHERE e.event_type = 'purchase' GROUP BY 1)
        |SELECT CAST(1 AS INT) AS step_index, 'view' AS step,
        |  (SELECT COUNT(*) FROM s1) AS n_users
        |UNION ALL
        |SELECT 2, 'click', (SELECT COUNT(*) FROM s2)
        |UNION ALL
        |SELECT 3, 'purchase', (SELECT COUNT(*) FROM s3)
        |ORDER BY step_index""".stripMargin,

    "q_s_cohort" ->
      """WITH f AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS fd
        |  FROM events GROUP BY 1),
        |e AS (SELECT ev.user_id, CAST(ev.ts AS DATE) AS d, f.fd
        |  FROM events ev JOIN f USING (user_id))
        |SELECT CAST(date_trunc('week', fd) AS DATE) AS cohort_week,
        |  CAST(date_diff('day', fd, d) // 7 AS INT) AS week_offset,
        |  COUNT(DISTINCT user_id) AS n_users
        |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_s_enrich" ->
      """WITH e AS (SELECT *,
        |    CASE WHEN regexp_matches(LOWER(event_type), 'purchase|signup') THEN 'Conversion'
        |         WHEN regexp_matches(LOWER(event_type), 'error') THEN 'Failure'
        |         ELSE 'Engagement' END AS category,
        |    value > 150.0 AS is_anomaly,
        |    LEAST(value * 0.05, 10.0) AS score_raw
        |  FROM events)
        |SELECT category, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN is_anomaly THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
        |  FLOOR((AVG(score_raw)) * 1000000 + 0.5) / 1000000 AS avg_score
        |FROM e GROUP BY category ORDER BY category""".stripMargin,

    "q_s_window" ->
      """SELECT CAST(date_part('epoch', date_trunc('hour', ts)) AS BIGINT) AS window_start, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_s_alerts" ->
      """WITH w AS (SELECT CAST(date_part('epoch', date_trunc('hour', ts)) AS BIGINT) AS window_start,
        |    COUNT(*) AS n_events,
        |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors
        |  FROM events GROUP BY 1)
        |SELECT window_start, n_events, n_errors,
        |  FLOOR((CAST(n_errors AS DOUBLE) / n_events) * 1000000 + 0.5) / 1000000 AS error_rate,
        |  'error_rate_above_threshold' AS alert_type
        |FROM w WHERE CAST(n_errors AS DOUBLE) / n_events > 0.2
        |ORDER BY window_start""".stripMargin,

    // Session semantics: a new session opens only when the gap from the
    // previous event is STRICTLY greater than 30 min — session_window
    // merges an event landing exactly on the previous window's end
    // (verified in AsOfSpec) — expressed in DuckDB as a lag/flag/cumsum.
    "q_s_sessions" ->
      """WITH flagged AS (SELECT user_id, ts,
        |    CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |              > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |sess AS (SELECT user_id, ts,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM flagged),
        |per_session AS (SELECT user_id, session_id, COUNT(*) AS n_events,
        |    CAST(FLOOR(date_part('epoch', MAX(ts))) AS BIGINT)
        |      - CAST(FLOOR(date_part('epoch', MIN(ts))) AS BIGINT) AS span_s
        |  FROM sess GROUP BY user_id, session_id)
        |SELECT user_id, COUNT(*) AS n_sessions,
        |  CAST(SUM(n_events) AS BIGINT) AS total_events,
        |  MAX(span_s) AS max_span_s,
        |  FLOOR((AVG(n_events)) * 1000000 + 0.5) / 1000000 AS avg_events_per_session
        |FROM per_session GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_a16_quality_trend" ->
      """SELECT CAST(ts AS DATE) AS day,
        |  FLOOR((AVG(CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS avg_metric,
        |  MIN(value) AS min_metric, MAX(value) AS max_metric,
        |  CAST(SUM(CASE WHEN value < 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_low_quality
        |FROM events GROUP BY day ORDER BY day""".stripMargin,

    // The q_t_jsd arithmetic with the batch (de) on the a-side and
    // the accumulated reference (en) on the b-side.
    "q_s_drift_step" ->
      """WITH t AS (SELECT lang AS s, UNNEST(string_split(
        |      lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS tok
        |  FROM documents WHERE lang IN ('en', 'de')),
        |c AS (SELECT s, tok, COUNT(*) AS c FROM t WHERE tok <> '' GROUP BY 1, 2),
        |a AS (SELECT tok, c AS ca FROM c WHERE s = 'de'),
        |b AS (SELECT tok, c AS cb FROM c WHERE s = 'en'),
        |nn AS (SELECT SUM(CASE WHEN s = 'de' THEN c END) AS na,
        |    SUM(CASE WHEN s = 'en' THEN c END) AS nb FROM c),
        |al AS (SELECT COALESCE(a.ca, 0) AS ca, COALESCE(b.cb, 0) AS cb
        |  FROM a FULL OUTER JOIN b ON a.tok = b.tok),
        |tm AS (SELECT ca, cb,
        |    CAST(ca AS DOUBLE) / nn.na AS p, CAST(cb AS DOUBLE) / nn.nb AS q
        |  FROM al CROSS JOIN nn)
        |SELECT FLOOR((CAST(SUM(CAST(
        |    (CASE WHEN ca > 0 THEN p / 2.0 * LOG2(p / ((p + q) / 2.0)) ELSE 0.0 END)
        |  + (CASE WHEN cb > 0 THEN q / 2.0 * LOG2(q / ((p + q) / 2.0)) ELSE 0.0 END)
        |    AS DECIMAL(38,16))) AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS jsd_bits,
        |  (SELECT CAST(na AS BIGINT) FROM nn) AS n_a,
        |  (SELECT CAST(nb AS BIGINT) FROM nn) AS n_b
        |FROM tm""".stripMargin,

    // The KMV merge is exact, so the two-batch fold equals the
    // one-shot sketch over all events — same md5-uniform derivation
    // as q_a24_kmv_distinct. The UNION ALL arm mirrors the engine's
    // always-one-row contract on an empty input (the ungrouped agg
    // yields (0.0, 0) where the windowed CTE would yield no rows).
    "q_s_kmv_step" ->
      """WITH h AS (SELECT DISTINCT
        |    (CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 13))
        |      AS BIGINT) + 1.0) / 4503599627370497.0 AS u
        |  FROM events WHERE event_id IS NOT NULL),
        |r AS (SELECT u, ROW_NUMBER() OVER (ORDER BY u) AS rn,
        |    COUNT(*) OVER () AS nd FROM h)
        |SELECT CASE WHEN nd < 256 THEN CAST(nd AS DOUBLE)
        |       ELSE FLOOR(255.0 / u * 1000000 + 0.5) / 1000000 END AS est_distinct,
        |  CAST(LEAST(nd, 256) AS INTEGER) AS n_mins
        |FROM r WHERE rn = LEAST(nd, 256)
        |UNION ALL
        |SELECT CAST(0.0 AS DOUBLE), CAST(0 AS INTEGER)
        |WHERE NOT EXISTS (SELECT 1 FROM h)""".stripMargin,

    "q_s_kmv_group_step" ->
      """WITH h AS (SELECT DISTINCT event_type,
        |    (CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 13))
        |      AS BIGINT) + 1.0) / 4503599627370497.0 AS u
        |  FROM events WHERE user_id IS NOT NULL),
        |r AS (SELECT event_type, u,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY u) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS nd FROM h)
        |SELECT event_type,
        |  CASE WHEN nd < 16 THEN CAST(nd AS DOUBLE)
        |       ELSE FLOOR(15.0 / u * 1000000 + 0.5) / 1000000 END AS est_distinct,
        |  CAST(LEAST(nd, 16) AS INTEGER) AS n_mins
        |FROM r WHERE rn = LEAST(nd, 16)
        |ORDER BY event_type""".stripMargin,

    // Replays the two-batch LSH band-state fold on the shared
    // MinHash candidate CTEs (TextQueries.minhashCandCtes — the exact
    // engine arithmetic under Md5Portable): `coll` symmetrizes the
    // candidate pairs into a collision relation, batch-1 survivors are
    // evens minus smaller-even collisions, batch 2 drops odds that
    // collide with a batch-1 SURVIVOR (stored bands) or a smaller odd
    // batch-mate. No Jaccard verify — band collision IS the engine's
    // drop criterion. `coll`/`surv*` are MATERIALIZED: DuckDB inlines
    // plain CTEs per reference, so the 64-min/16-band signature chain
    // would otherwise be re-planned inside every NOT EXISTS — the
    // three-tier twin OOM'd at sf0.1 before the hint.
    "q_s_neardedup_step" ->
      s"""WITH ${graft.textops.TextQueries.minhashCandCtes},
        |coll AS MATERIALIZED (SELECT doc_a AS da, doc_b AS db FROM cand
        |  UNION ALL SELECT doc_b, doc_a FROM cand),
        |surv1 AS MATERIALIZED (SELECT d.doc_id FROM documents d WHERE d.doc_id % 2 = 0
        |  AND NOT EXISTS (SELECT 1 FROM coll c
        |    WHERE c.db = d.doc_id AND c.da % 2 = 0 AND c.da < d.doc_id))
        |SELECT d.doc_id FROM documents d WHERE d.doc_id % 2 = 1
        |  AND NOT EXISTS (SELECT 1 FROM coll c JOIN surv1 s1 ON c.da = s1.doc_id
        |    WHERE c.db = d.doc_id)
        |  AND NOT EXISTS (SELECT 1 FROM coll c
        |    WHERE c.db = d.doc_id AND c.da % 2 = 1 AND c.da < d.doc_id)
        |ORDER BY doc_id""".stripMargin,

    // The mod-3 segmented twin: tier-1 survivors form the base, tier-2
    // survivors (decided against the base and smaller tier-2 mates)
    // form a segment, tier 3 probes base ∪ segment plus its own smaller
    // mates — identical decision algebra to the eager twin, which is
    // exactly what makes the segment layout's invisibility checkable.
    "q_s_neardedup_segmented_step" -> nearDedupOverlaySql,
    "q_s_neardedup_segmented_bounded_step" -> nearDedupOverlay4Sql,
    "q_s_neardedup_segmented_bounded_skew_step" -> nearDedupSkew4Sql,

    // Mirrors the three-batch segmented novelty fold (mod-3 splits):
    // reference tier 1 = all tier-1 shingles (empty store admits
    // everything), tier 2 gates against tier 1 and its ADMITTED
    // shingles extend the reference (on the Spark side: as a stamped
    // segment), tier 3 gates against the two-tier union.
    "q_s_novelty_segmented_step" -> noveltyOverlaySql,
    "q_s_novelty_segmented_bounded_step" -> noveltyOverlay4Sql,

    // Mirrors the novelty-gate fold: reference = admitted evens'
    // distinct shingle hashes (everything admits into an empty store),
    // odds gate on the ROUNDED score; shingle-less odds admit with
    // NULL novelty.
    "q_s_novelty_step" ->
      """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
        |tok AS (SELECT doc_id, UNNEST(ws) AS word, generate_subscripts(ws, 1) AS pos FROM w),
        |sh AS (SELECT DISTINCT doc_id,
        |    word || ' ' || l1 || ' ' || l2 || ' ' || l3 || ' ' || l4 AS s FROM (
        |  SELECT doc_id, word,
        |    LEAD(word, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS l1,
        |    LEAD(word, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS l2,
        |    LEAD(word, 3) OVER (PARTITION BY doc_id ORDER BY pos) AS l3,
        |    LEAD(word, 4) OVER (PARTITION BY doc_id ORDER BY pos) AS l4 FROM tok)
        |  WHERE l4 IS NOT NULL),
        |h AS (SELECT doc_id,
        |    CAST(('0x' || substring(md5(s), 1, 15)) AS BIGINT) AS hs FROM sh),
        |ref AS (SELECT DISTINCT hs FROM h WHERE doc_id % 2 = 0),
        |sc AS (SELECT h.doc_id, COUNT(DISTINCT h.hs) AS n,
        |    COUNT(DISTINCT CASE WHEN r.hs IS NOT NULL THEN h.hs END) AS seen
        |  FROM h LEFT JOIN ref r ON h.hs = r.hs
        |  WHERE h.doc_id % 2 = 1 GROUP BY h.doc_id),
        |gated AS (SELECT doc_id, FLOOR((CAST(n - seen AS DOUBLE) / n) * 1000000 + 0.5) / 1000000 AS novelty
        |  FROM sc),
        |shless AS (SELECT d.doc_id, CAST(NULL AS DOUBLE) AS novelty
        |  FROM documents d
        |  WHERE d.doc_id % 2 = 1
        |    AND d.doc_id NOT IN (SELECT doc_id FROM h))
        |SELECT doc_id, novelty FROM gated WHERE novelty >= 0.5
        |UNION ALL SELECT doc_id, novelty FROM shless
        |ORDER BY doc_id""".stripMargin,

    // Mirrors the three-batch segmented fold (mod-3 splits): tier-1
    // survivors become the base, tier-2 survivors (gated against the
    // base and smaller tier-2 mates) become a segment, tier 3 gates
    // against base ∪ segment and its own smaller mates. Identical
    // decision algebra to the eager twin — that the Spark side reads
    // tier-2 survivors through the segment is exactly what this hash
    // check proves invisible.
    "q_s_semdedup_segmented_step" -> semdedupOverlaySql,
    "q_s_semdedup_segmented_bounded_step" -> semdedupOverlay4Sql,

    // Mirrors the two-batch fold: bucket assignment is the
    // q_t_semantic_dedup argmax convention; batch-1 survivors (even
    // ids minus smaller-even bucket-mates at cos >= t) become the
    // store; batch 2 (odd ids) drops against store survivors and
    // smaller odd batch-mates.
    "q_s_semdedup_step" ->
      """WITH c0 AS (SELECT CAST(vec_id AS BIGINT) AS bucket,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
        |  FROM embeddings ORDER BY vec_id LIMIT 4),
        |e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |s AS (SELECT e.vec_id, e.v, c0.bucket,
        |    FLOOR((list_cosine_similarity(e.v, c0.cv)) * 1000000 + 0.5) / 1000000 AS sim FROM e CROSS JOIN c0),
        |a AS (SELECT vec_id, MAX(struct_pack(sim := sim, bucket := bucket)) AS m,
        |    ANY_VALUE(v) AS v FROM s GROUP BY vec_id),
        |asg AS (SELECT vec_id, m.bucket AS bucket, v FROM a),
        |aLosers AS (SELECT DISTINCT b.vec_id FROM asg a JOIN asg b
        |  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        |  WHERE a.vec_id % 2 = 0 AND b.vec_id % 2 = 0
        |    AND FLOOR((list_cosine_similarity(a.v, b.v)) * 1000000 + 0.5) / 1000000 >= 0.35),
        |aSurv AS (SELECT vec_id, bucket, v FROM asg
        |  WHERE vec_id % 2 = 0 AND vec_id NOT IN (SELECT vec_id FROM aLosers)),
        |bAll AS (SELECT vec_id, bucket, v FROM asg WHERE vec_id % 2 = 1),
        |bVsStore AS (SELECT DISTINCT b.vec_id FROM bAll b JOIN aSurv s2
        |  ON b.bucket = s2.bucket
        |  WHERE FLOOR((list_cosine_similarity(b.v, s2.v)) * 1000000 + 0.5) / 1000000 >= 0.35),
        |bVsBatch AS (SELECT DISTINCT b2.vec_id FROM bAll b1 JOIN bAll b2
        |  ON b1.bucket = b2.bucket AND b1.vec_id < b2.vec_id
        |  WHERE FLOOR((list_cosine_similarity(b1.v, b2.v)) * 1000000 + 0.5) / 1000000 >= 0.35)
        |SELECT vec_id FROM bAll
        |WHERE vec_id NOT IN (SELECT vec_id FROM bVsStore)
        |  AND vec_id NOT IN (SELECT vec_id FROM bVsBatch)
        |ORDER BY vec_id""".stripMargin,

    // The decode stub counts bytes with (b & 0xFF) % 8 == 0 per doc and
    // normalizes by byte count in FLOAT32 — mirrored exactly: byte % 8
    // is the low hex nibble % 8, and the FLOAT casts reproduce the
    // stub's float32 division before the double sum.
    "q_m_features" ->
      """WITH b AS (SELECT doc_id, hex(encode(text)) AS h,
        |    octet_length(encode(text)) AS n FROM documents),
        |f AS (SELECT doc_id, n,
        |    len(list_filter(range(1, n + 1),
        |      i -> (strpos('0123456789ABCDEF', substring(h, 2*i, 1)) - 1) % 8 = 0)) AS c0
        |  FROM b)
        |SELECT COUNT(*) AS n_media, CAST(SUM(n) AS BIGINT) AS total_bytes,
        |  FLOOR((SUM(CAST(CAST(c0 AS FLOAT) / CAST(GREATEST(n, 1) AS FLOAT) AS DOUBLE))) * 100 + 0.5) / 100 AS f0_mass
        |FROM f""".stripMargin,

    "q_m_binary" ->
      """SELECT source,
        |  CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
        |  COUNT(DISTINCT md5(text)) AS n_distinct_payloads,
        |  COUNT(*) AS n_docs
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // Every pixel of a solid image falls in one bin: fval=1 at the
    // color's Rec.601 luminance bin, 0 elsewhere.
    "q_m_image" ->
      """WITH im AS (SELECT UNNEST(generate_series(0, 3)) AS img_id),
        |b AS (SELECT UNNEST(generate_series(0, 7)) AS bin),
        |lum AS (SELECT img_id, CASE img_id
        |    WHEN 0 THEN 0 WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 7 END AS hot
        |  FROM im)
        |SELECT CAST(img_id AS BIGINT) AS img_id, CAST(bin AS INTEGER) AS bin,
        |  FLOOR((CAST(CASE WHEN bin = hot THEN 1.0 ELSE 0.0 END AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS fval
        |FROM lum CROSS JOIN b ORDER BY img_id, bin""".stripMargin,

    // Analytic expectations for the square-wave WAVs: quarters 0-3 and
    // peak are a/32768; crossings are 399/8000; duration 1 s; 1 channel.
    "q_m_audio" ->
      """WITH w AS (SELECT UNNEST(generate_series(0, 3)) AS wav_id),
        |i AS (SELECT UNNEST(generate_series(0, 7)) AS feat_idx)
        |SELECT CAST(wav_id AS BIGINT) AS wav_id,
        |  CAST(feat_idx AS INTEGER) AS feat_idx,
        |  FLOOR((CASE
        |    WHEN feat_idx <= 3 THEN (4096.0 * (wav_id + 1)) / 32768.0
        |    WHEN feat_idx = 4 THEN 399.0 / 8000.0
        |    WHEN feat_idx = 5 THEN (4096.0 * (wav_id + 1)) / 32768.0
        |    WHEN feat_idx = 6 THEN 1.0
        |    ELSE 1.0 END) * 1000000 + 0.5) / 1000000 AS fval
        |FROM w CROSS JOIN i ORDER BY wav_id, feat_idx""".stripMargin,
  )
}
