package graft

import org.apache.spark.sql.Row

/** Executable partitioning-invariance proof (round-14 verdict item #1).
  *
  * The 100 TB determinism claim is that NO query's values depend on how
  * Spark happens to split the data: partition counts, scan coalescing,
  * AQE decisions, and therefore floating-point summation ORDER all
  * change between a 32-thread laptop and a 1000-executor cluster, and
  * every reduction in the repo must be order-independent to the bit
  * (DECIMAL-exact sums, gridSnap rounding, tie-broken argmaxes).
  * Round 14 proved this manually — the full 188-query pack re-verified
  * at 7 cores / 7 shuffle partitions — but that proof lived in
  * SCALING.md prose and silently rots on the next operator edit. This
  * spec pins the same invariant in `sbt test`, on one representative
  * query per float-reduction family, at two deliberately awkward and
  * structurally different execution configs:
  *
  *   A: 3 shuffle partitions, AQE coalescing ON (tiny data folds to
  *      few partitions — the small-cluster shape)
  *   B: 7 shuffle partitions, AQE coalescing OFF, 64 KB scan splits
  *      with zero open-cost (every row group its own task — the
  *      many-executor shape)
  *
  * Rows are canonicalized with RAW DOUBLE/FLOAT BITS (not toString,
  * which hides one-ulp drift) and compared as sorted multisets: output
  * ORDER may legitimately differ across partitionings unless a query
  * sorts, but every VALUE must be bit-identical.
  *
  * Families covered (the verdict's minimum list, plus the two custom
  * reductions most exposed to merge order): plain means/sums (q1_agg,
  * q_a10_summary), one-pass entropy via the custom Aggregator — its
  * `merge` order varies with partition count (q_a11_entropy_onepass),
  * correlation moments (q_a14_corr), cosine dot products
  * (q_t_cosine_pairs), iterative PageRank (q_g1_pagerank), the EWMA
  * window recurrence (q_w14_ewma), and the DECIMAL-exact k-means
  * centroid reduction (q_t_kmeans).
  */
class PartitionInvarianceSpec extends SparkSpec {

  private val families: Seq[(String, String)] = Seq(
    "q1_agg" -> "grouped sums/means",
    "q_a10_summary" -> "global summary means",
    "q_a11_entropy_onepass" -> "one-pass entropy Aggregator merge",
    "q_a14_corr" -> "correlation co-moments",
    "q_t_cosine_pairs" -> "cosine dot products",
    "q_g1_pagerank" -> "iterative PageRank mass sums",
    "q_w14_ewma" -> "EWMA recurrence",
    "q_t_kmeans" -> "k-means centroid reduction",
    "q_t_jsd" -> "JSD mixture-term DECIMAL sums",
    "q_t_bm25" -> "BM25 per-term score sums",
    "q_t_quality_model" -> "logistic-regression GD weight folds",
    "q_a17_quantiles" -> "percentile interpolation",
  )

  /** Bit-exact canonical form: doubles/floats render as raw bit
    * patterns so 1-ulp summation drift cannot hide behind toString's
    * shortest-rendering rounding.
    */
  private def canon(v: Any): String = v match {
    case null => "∅"
    case d: java.lang.Double =>
      "d:" + java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))
    case f: java.lang.Float =>
      "f:" + Integer.toHexString(java.lang.Float.floatToRawIntBits(f))
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case a: Array[_] => a.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => canon(k) + "->" + canon(x) }
        .toSeq.sorted.mkString("{", ",", "}")
    case x => x.toString
  }

  private val varied = Seq(
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.files.openCostInBytes",
  )

  /** Run one pack query under an execution config; restore the session
    * conf afterwards (the suite shares the JVM-wide test session).
    */
  private def runUnder(name: String, conf: Map[String, String]): Seq[String] = {
    val saved = varied.map(k => k -> spark.conf.getOption(k))
    try {
      varied.foreach(spark.conf.unset)
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      SparkEntry.queries(name)(spark, sfDir).collect().map(canon).sorted.toSeq
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val configA = Map(
    "spark.sql.shuffle.partitions" -> "3",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
  )
  private val configB = Map(
    "spark.sql.shuffle.partitions" -> "7",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
    "spark.sql.files.maxPartitionBytes" -> "65536",
    "spark.sql.files.openCostInBytes" -> "0",
  )

  /** The stateful streaming steps claim the same invariance but WRITE
    * state, so the comparison runs each step sequence into a FRESH
    * store per config and compares both the per-batch results and the
    * final published store contents — this pins the per-batch
    * republish folds against partition-order sensitivity too, which
    * the read-only families above can't reach.
    */
  test("stateful steps (novelty, near-dedup, semdedup, drift, KMV) publish bit-identical state across partitionings") {
    import graft.stream.Streaming
    import graft.lake.VersionedTable
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("graft_pinv").toString
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    def text(i: Int) =
      (0 until 8).map(j => words((i * 3 + j * 5) % words.length)).mkString(" ")
    def docBatch(lo: Int, hi: Int) =
      (lo until hi).map(i => (i.toLong, text(i),
        s"2024-01-01 10:${10 + i % 40}:00"))
        .toDF("doc_id", "text", "tss")
        .withColumn("ts", col("tss").cast("timestamp")).drop("tss")
    def vec(i: Int) = (0 until 8).map(d =>
      math.sin(i % 7 + d).abs + (if (i % 3 == 0) 1.0 else 0.1) * d)
    def vecBatch(lo: Int, hi: Int) =
      (lo until hi).map(i => (i.toLong, vec(i),
        s"2024-01-01 10:${10 + i % 40}:00"))
        .toDF("vec_id", "embedding", "tss")
        .withColumn("ts", col("tss").cast("timestamp")).drop("tss")
    val cents = Seq(0L -> Seq(1.0, 1.0, 1.0, 1.0, 0.0, 0.0, 0.0, 0.0),
      1L -> Seq(0.0, 0.0, 0.0, 0.0, 1.0, 1.0, 1.0, 1.0)).toDF("b", "cv")

    def runAll(tag: String, conf: Map[String, String]): Seq[String] = {
      val saved = varied.map(k => k -> spark.conf.getOption(k))
      try {
        varied.foreach(spark.conf.unset)
        conf.foreach { case (k, v) => spark.conf.set(k, v) }
        val out = scala.collection.mutable.ArrayBuffer[String]()
        // novelty gate (two batches, each republishing the fold)
        val nv = s"$base/$tag/nv"
        for ((lo, hi) <- Seq((0, 60), (40, 120)))
          out += Streaming.noveltyGateBatchStep(docBatch(lo, hi), "doc_id",
              "text", "ts", nv, minNovelty = 0.3, retention = "10 days")
            .select("doc_id", "novelty").collect().map(canon).sorted
            .mkString("|")
        out += VersionedTable.readCurrent(spark, nv)
          .collect().map(canon).sorted.mkString("|")
        // near-dedup band store
        val nd = s"$base/$tag/nd"
        for ((lo, hi) <- Seq((0, 60), (40, 120)))
          out += Streaming.nearDedupBatchStep(docBatch(lo, hi), "doc_id",
              "text", "ts", nd, retention = "10 days")
            .select("doc_id").as[Long].collect().sorted.mkString(",")
        out += VersionedTable.readCurrent(spark, nd)
          .collect().map(canon).sorted.mkString("|")
        // semantic dedup
        val sd = s"$base/$tag/sd"
        for ((lo, hi) <- Seq((0, 60), (40, 120)))
          out += Streaming.semanticDedupBatchStep(vecBatch(lo, hi), "vec_id",
              "embedding", "ts", cents, "b", "cv", threshold = 0.95, sd,
              retention = "10 days")
            .select("vec_id").as[Long].collect().sorted.mkString(",")
        out += VersionedTable.readCurrent(spark, sd)
          .collect().map(canon).sorted.mkString("|")
        // vocab-drift monitor: the JSD verdict's decimal-sum reduction
        // and the count re-sum both cross partition boundaries — the
        // store fold must land bit-identically too
        val dr = s"$base/$tag/drift"
        for ((lo, hi) <- Seq((0, 60), (40, 120)))
          out += Streaming.driftMonitorBatchStep(docBatch(lo, hi), "text",
              dr)
            .collect().map(canon).mkString("|")
        out += VersionedTable.readCurrent(spark, dr)
          .collect().map(canon).sorted.mkString("|")
        // KMV distinct monitor (two folds)
        val kv = s"$base/$tag/kmv"
        for (off <- Seq(0, 5000))
          out += Streaming.kmvDistinctBatchStep(
              spark.range(off, off + 9000).select(pmod(col("id"), lit(7000))
                .as("v")), "v", kv)
            .collect().map(canon).mkString("|")
        out += VersionedTable.readCurrent(spark, kv)
          .collect().map(canon).sorted.mkString("|")
        out.toSeq
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    val a = runAll("A", configA)
    val b = runAll("B", configB)
    a.zip(b).zipWithIndex.foreach { case ((ra, rb), i) =>
      assert(ra === rb, s"stateful stage $i diverges across partitionings")
    }
    assert(a.exists(_.nonEmpty))
  }

  /** SEGMENT mode (`maxSegments > 0`, the r16 LSM layout) has different
    * PHYSICAL state than the republishing layout the test above pins —
    * stamped segment files plus their markers' expiry stamps, vacuumed per
    * batch — so its invariance needs its own pin: per-batch decisions,
    * the MERGED state (base ∪ pending segments — the relation every
    * future decision reads), and the vacuum's outcome (how many
    * segments remain live and under which event-time stamps; segment
    * NAMES carry wall-clock and legitimately differ across runs) must
    * all be bit-identical at 3-part vs 7-part execution. Event times
    * advance across batches against a short retention so a segment
    * actually EXPIRES inside the sequence — the vacuum decision under
    * test is the physical drop, not just the logical filter.
    */
  test("segment-mode steps (novelty, near-dedup, semdedup at maxSegments > 0) publish bit-identical merged state and vacuum decisions across partitionings") {
    import graft.stream.Streaming
    import graft.lake.VersionedTable
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("graft_pinv_seg").toString
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    def text(i: Int) =
      (0 until 8).map(j => words((i * 3 + j * 5) % words.length)).mkString(" ")
    // batch b's event times sit on day 1+3b: with a 2-day retention,
    // batch 2 (day 7) expires batch 1's segment (stamped day 4)
    def docBatch(b: Int, lo: Int, hi: Int) =
      (lo until hi).map(i => (i.toLong, text(i),
        f"2024-01-0${1 + 3 * b}%s 10:${10 + i % 40}%02d:00"))
        .toDF("doc_id", "text", "tss")
        .withColumn("ts", col("tss").cast("timestamp")).drop("tss")
    def vec(i: Int) = (0 until 8).map(d =>
      math.sin(i % 7 + d).abs + (if (i % 3 == 0) 1.0 else 0.1) * d)
    def vecBatch(b: Int, lo: Int, hi: Int) =
      (lo until hi).map(i => (i.toLong, vec(i),
        f"2024-01-0${1 + 3 * b}%s 10:${10 + i % 40}%02d:00"))
        .toDF("vec_id", "embedding", "tss")
        .withColumn("ts", col("tss").cast("timestamp")).drop("tss")
    val cents = Seq(0L -> Seq(1.0, 1.0, 1.0, 1.0, 0.0, 0.0, 0.0, 0.0),
      1L -> Seq(0.0, 0.0, 0.0, 0.0, 1.0, 1.0, 1.0, 1.0)).toDF("b", "cv")
    // merged state + vacuum outcome, event-time-keyed (never names)
    def stateOf(root: String): String = {
      val pending = VersionedTable.pendingDeltas(spark, root)
      val stamps = pending.flatMap(VersionedTable.segmentStamp(spark, root, _))
        .sorted
      val merged =
        if (pending.isEmpty) VersionedTable.readCurrent(spark, root)
        else VersionedTable.readCurrent(spark, root).unionByName(
          spark.read.parquet(pending.map(d => s"$root/$d"): _*),
          allowMissingColumns = true)
      s"segments=${pending.size};stamps=${stamps.mkString(",")};rows=" +
        merged.collect().map(canon).sorted.mkString("|")
    }
    val batches = Seq((0, 0, 60), (1, 40, 120), (2, 100, 160))
    def runAll(tag: String, conf: Map[String, String]): Seq[String] = {
      val saved = varied.map(k => k -> spark.conf.getOption(k))
      try {
        varied.foreach(spark.conf.unset)
        conf.foreach { case (k, v) => spark.conf.set(k, v) }
        val out = scala.collection.mutable.ArrayBuffer[String]()
        val nv = s"$base/$tag/nv"
        for ((b, lo, hi) <- batches)
          out += Streaming.noveltyGateBatchStep(docBatch(b, lo, hi), "doc_id",
              "text", "ts", nv, minNovelty = 0.3, retention = "2 days",
              maxSegments = Streaming.SegmentMergeBound)
            .select("doc_id", "novelty").collect().map(canon).sorted
            .mkString("|")
        out += stateOf(nv)
        val nd = s"$base/$tag/nd"
        for ((b, lo, hi) <- batches)
          out += Streaming.nearDedupBatchStep(docBatch(b, lo, hi), "doc_id",
              "text", "ts", nd, retention = "2 days",
              maxSegments = Streaming.SegmentMergeBound)
            .select("doc_id").as[Long].collect().sorted.mkString(",")
        out += stateOf(nd)
        val sd = s"$base/$tag/sd"
        for ((b, lo, hi) <- batches)
          out += Streaming.semanticDedupBatchStep(vecBatch(b, lo, hi),
              "vec_id", "embedding", "ts", cents, "b", "cv",
              threshold = 0.95, sd, retention = "2 days",
              maxSegments = Streaming.SegmentMergeBound)
            .select("vec_id").as[Long].collect().sorted.mkString(",")
        out += stateOf(sd)
        out.toSeq
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    val a = runAll("A", configA)
    val b = runAll("B", configB)
    a.zip(b).zipWithIndex.foreach { case ((ra, rb), i) =>
      assert(ra === rb, s"segment-mode stage $i diverges across partitionings")
    }
    // the sequence must actually exercise the layout: at least one
    // segment pending at the end, and at least one expired mid-run
    // (3 batches = bootstrap publish + 2 appends; fewer than 2 pending
    // means a vacuum fired)
    assert(a.exists(_.startsWith("segments=")))
    val segCounts = a.filter(_.startsWith("segments=")).map(
      _.stripPrefix("segments=").takeWhile(_ != ';').toInt)
    // bootstrap publish + 2 stamped appends, of which the first must
    // have expired under the third batch's horizon: exactly 1 pending
    assert(segCounts === Seq(1, 1, 1),
      s"expected vacuum to have dropped the expired segment: $segCounts")
  }

  families.foreach { case (name, family) =>
    test(s"$name ($family) is bit-identical at 3-part/coalesced vs 7-part/split execution") {
      val a = runUnder(name, configA)
      val b = runUnder(name, configB)
      assert(a.nonEmpty, s"$name returned no rows at sf0.001")
      // pinpoint the first diverging row for a readable failure
      a.zip(b).zipWithIndex.collectFirst {
        case ((ra, rb), i) if ra != rb => (i, ra, rb)
      }.foreach { case (i, ra, rb) =>
        fail(s"$name row $i diverges across partitionings:\n  A=$ra\n  B=$rb")
      }
      assert(a.size === b.size,
        s"$name row count diverges: ${a.size} vs ${b.size}")
    }
  }
}
