package graft

import graft.SparkEntry.queries
import graft.core.Tables
import graft.serve.QueryService
import org.apache.spark.sql.functions.lit

/** Physical-plan assertions: the properties that decide whether these
  * operators survive a 100× scale-up — filter pushdown into the parquet
  * scan, column pruning, broadcast joins for small dims, TakeOrdered for
  * top-k (no global sort), and whole-stage codegen on the hot paths.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("q1_agg prunes columns at the scan and runs inside codegen") {
    val df = queries("q1_agg")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReadSchema"))
    // only the 4 needed columns are read, not all 11
    assert(!p.contains("l_shipdate") && !p.contains("l_partkey"))
    df.collect() // AQE: codegen stages appear in the finalized plan
    // "*(n)" prefixes mark whole-stage-codegen spans in simpleString
    assert(df.queryExecution.executedPlan.toString.contains("*("))
  }

  test("point lookup pushes the key predicate into the parquet scan") {
    // The literal-key form (the API's actual lookup shape): EqualTo
    // reaches the scan. q_p4 itself uses the lazy scalar-join form.
    val df = QueryService.pointLookup(
      Tables.lineitem(spark, sfDir), "l_orderkey", lit(1L))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("IsNotNull(l_orderkey)"))
    assert(p.contains("EqualTo(l_orderkey"))
  }

  test("pruned versioned read pushes the range into the surviving files' scan") {
    // file skipping prunes WHOLE files; the re-applied exact predicate
    // must still reach the parquet scan so row-group stats prune
    // WITHIN the kept files (sortWithinPartitions at cluster time makes
    // those row-group ranges tight — two independent pruning tiers)
    val root = java.nio.file.Files
      .createTempDirectory("graft_plan_skip").toString + "/t"
    graft.lake.Clustering.publishClustered(
      Tables.orders(spark, sfDir), root, Seq("o_custkey", "o_totalprice"),
      numFiles = 4, bits = 4)
    val df = graft.lake.VersionedTable.readCurrentWhere(spark, root, Seq(
      graft.lake.VersionedTable.ColRange("o_custkey", Some(100L), Some(500L))))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") &&
      p.contains("GreaterThanOrEqual(o_custkey,100)") &&
      p.contains("LessThanOrEqual(o_custkey,500)"), p.take(2000))
  }

  test("keyset pagination is filter + TakeOrdered — no window, pushed seek key") {
    val p = plan("q_o4_keyset")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Window"))
    assert(p.contains("GreaterThan(c_custkey"))
  }

  test("search pushes only the residual filter; projection is pruned") {
    val p = plan("q_p6_search")
    assert(p.contains("ReadSchema"))
    assert(!p.contains("p_retailprice")) // unused column never read
  }

  test("3-way join broadcasts the small dimension") {
    val p = plan("q_j1_3way_join")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("OR-join rewrite stays hash-joinable (no nested-loop join)") {
    val p = plan("q_j2_or_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("anti-join plans as a real anti hash join") {
    val p = plan("q_j4_anti_join")
    assert(p.contains("LeftAnti"))
  }

  test("top-k plans as TakeOrdered, not a global sort") {
    val p = plan("q_o2_top1")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("reporting views inline into hash-join-only plans — no cartesian, no nested loop") {
    // Catalyst resolves the temp views into each consumer's plan: the
    // is_current filter and the view's aggregation must compose with
    // the star chain's hash joins without any nested-loop fallback
    // (the only broadcast hint in the chain is the 10-row role seed).
    // Exception: v_role_distribution's percent-of-total attaches its
    // 1-row grand-total relation by broadcast cross join (the J6
    // scalar-subquery pattern, chosen over a partition-less window to
    // avoid WindowExec's single-partition warning) — exactly one BNLJ
    // whose build side is that 1-row aggregate is the intended plan.
    for (q <- Seq("q_v_ownership_summary", "q_v_owner_demographics")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested-loop join")
    }
    val p = plan("q_v_role_distribution")
    assert(!p.contains("CartesianProduct"))
    assert("BroadcastNestedLoopJoin".r.findAllMatchIn(p).length <= 1,
      s"role distribution should have only the 1-row total join:\n$p")
    // Match the exact WindowExec node name ("Window" followed by its
    // expression bracket / whitespace in the rendered tree) rather
    // than a bare substring: a future WindowGroupLimit (rank-rewrite
    // pushdown) or any node merely NAMED *Window* must not fail this
    // without a real partition-less WindowExec regression. (A typed
    // tree collect can't be used here: under AQE the executedPlan
    // root is AdaptiveSparkPlanExec, a leaf node that hides the
    // real tree from collect but prints it in toString.)
    assert("""\bWindow[\s\[]""".r.findFirstIn(p).isEmpty,
      "percent-of-total must not plan a WindowExec")
  }

  test("triangle counting: wedge and closing joins are hash joins, never nested loops") {
    val p = plan("q_g3_triangles")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("TakeOrderedAndProject")) // top-20, no global sort
  }

  test("edit-verify tier: candidates from hash joins; levenshtein never cross-joins") {
    val p = plan("q_t_edit_verify")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("batch MinHash tiers band through the kernel — no per-document signature aggregate") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.Min
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case o => o.children
    }).flatMap(nodes)
    for (name <- Seq("q_t_minhash_lsh", "q_t_minhash_lsh_xx64", "q_t_edit_verify")) {
      val p = SparkEntry.benchQueries(name)(spark, sfDir).queryExecution.executedPlan
      assert(p.toString.contains("minhash_band_keys"), s"$name bands without the kernel:\n$p")
      // the DataFrame formula's signature is one min() per permutation hash
      val mins = nodes(p).collect { case a: BaseAggregateExec =>
        a.aggregateExpressions.count(_.aggregateFunction.isInstanceOf[Min]) }
      assert(mins.forall(_ < 64), s"$name aggregates a 64-min signature:\n$p")
    }
  }

  test("hard negatives broadcast the anchor batch; corpus side never shuffles for candidates") {
    val p = plan("q_t_hard_negatives")
    // the anchor product is the ONE deliberate broadcast nested-loop
    // (tiny broadcast side, label-inequality predicate); the corpus
    // must not hash-exchange before it
    assert(p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("ObjectHashAggregate")) // k-bounded top-k, no window sort
    assert(!p.contains("Window"))
  }

  test("rrf fusion windows run over top-k relations only — no corpus-wide sort") {
    val df = queries("q_t_rrf")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    // both retrieval lists end in TakeOrdered BEFORE the rank windows
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("novelty scoring joins shingles by hash — reference side is one distinct relation") {
    val p = plan("q_t_novelty")
    assert(p.contains("LeftSemi"))
    assert(!p.contains("CartesianProduct"))
  }

  test("KMV distinct aggregates k-bounded partials — no value-wide distinct exchange") {
    val p = plan("q_a24_kmv_distinct")
    assert(p.contains("ObjectHashAggregate")) // bounded typed buffer
    assert(!p.contains("Window"))
  }

  test("keyword extraction runs without any window partition") {
    val p = plan("q_t_keywords")
    assert(!p.contains("Window"))
    assert(!p.contains("CartesianProduct"))
  }

  test("quality-aware survivor selection never window-sorts cluster members") {
    val p = plan("q_t_curate_best")
    assert(!p.contains("Window"))
  }

  test("personalized PageRank joins stay hash/broadcast — no nested loops") {
    val p = plan("q_g5_ppr")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("frequency table does partial (map-side) aggregation before the shuffle") {
    val p = plan("q_a3_value_counts")
    assert(p.contains("partial_count") || p.contains("HashAggregate"))
    assert(p.contains("Exchange hashpartitioning"))
  }

  test("window queries shuffle once on the partition key") {
    val p = plan("q_w2_rank_in_partition")
    assert(p.split("Exchange hashpartitioning").length - 1 <= 1)
  }

  test("as-of join is one shuffle on the key, not a pair-blowup join") {
    // The union+window shape: the only hash shuffles allowed are the
    // right-side pre-dedup aggregate and the as-of key partition — and
    // crucially no join node at all before the final rollup.
    val p = plan("q_j8_asof")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("RunningWindowFunction") || p.contains("Window"))
  }

  test("levenshtein match broadcasts the small side") {
    val p = plan("q_p10_levenshtein")
    assert(p.contains("BroadcastExchange"))
  }

  test("rollup and cube plan as one Expand pass, not self-unions") {
    assert(plan("q_r1_rollup").contains("Expand"))
    val p2 = plan("q_r2_cube")
    assert(p2.contains("Expand") && !p2.contains("Union"))
  }

  test("curation pipeline's only wide shuffle is the dedup fingerprint window") {
    val p = plan("q_t_curate")
    // one shuffle for the dedup window + one for the final per-source
    // aggregate; the quality/language gates must fuse map-side.
    assert(p.split("Exchange hashpartitioning").length - 1 <= 2)
  }

  test("corpus mixing broadcasts the totals — the corpus side never pre-shuffles") {
    // The keep filter must ride a broadcast hash join of the |sources|-row
    // totals; the only hash exchanges are building that broadcast and the
    // small post-filter report aggregate — never the corpus before the join.
    val p = plan("q_t_mix")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
    // the keep predicate fuses into the join (post-join condition),
    // not a separate shuffle stage
    assert(p.contains("conv(substring(md5"))
  }

  test("greedy packing shuffles once by shard before the streaming pass") {
    val p = plan("q_t_pack")
    // exactly one REPARTITION_BY_COL (the shard shuffle); the walk is a
    // MapPartitions over a partition-local sort, never a global sort
    assert(p.split("REPARTITION_BY_COL").length - 1 == 1)
    assert(p.contains("MapPartitions"))
    // the partition-local sort is non-global (the flag after the ordering)
    assert("Sort \\[shard.*\\], false".r.findFirstIn(p).isDefined ||
      "Sort \\[source.*\\], false".r.findFirstIn(p).isDefined)
  }

  test("bloom anti join confirms on a real anti hash join; no nested loop") {
    val p = plan("q_t_bloom_anti")
    assert(p.contains("LeftAnti"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("grouped top-k aggregates k-bounded partials map-side — no window sort") {
    val p = plan("q_w11_group_topk")
    // typed-buffer UDAF → ObjectHashAggregate, partial then final
    assert(p.split("ObjectHashAggregate").length - 1 >= 2, p)
    assert(p.contains("partial_topkaggregator") || p.contains("partial_"), p)
    // the whole point: no per-group full sort of the fact table
    assert(!p.contains("Window"), p)
  }

  test("weighted sampling plans as TakeOrdered — one scan, no shuffle, no window") {
    val p = plan("q_t_wsample")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Window"), p)
    // no exchange before the TakeOrdered: per-partition top-k merge only
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("blocked fuzzy join candidates come from hash joins — never nested loops") {
    val p = plan("q_j9_fuzzy_block")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("PQ encode broadcasts the codebook; repeated spans never cross-join") {
    val pq = plan("q_t_pq_codes")
    assert(pq.contains("BroadcastHashJoin"), pq)
    val rs = plan("q_t_repsub")
    assert(!rs.contains("BroadcastNestedLoopJoin") && !rs.contains("CartesianProduct"), rs)
    // the occurrence filter is ONE window over the gram hash (plus no
    // second derivation of the gram relation feeding a join)
    assert(rs.split("poly_window_hash").length - 1 <= 2, rs) // project + window refs, not two scans
  }

  test("multi-probe IVF search ends in TakeOrdered with hash-join candidates") {
    val p = plan("q_t_ivf_probe")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("k-anonymity is a single window pass — no self-join") {
    val p = plan("q_p12_kanon")
    assert(p.split("Window").length - 1 >= 1, p)
    assert(!p.contains("Join"), p)
  }

  test("expectations check is one aggregation pass over the data") {
    val p = plan("q_a18_expectations")
    // uniqueness rides Expand inside the same aggregate — no join, no
    // second scan of customer
    assert(!p.contains("Join"), p)
    assert(p.split("FileScan").length - 1 === 1, p)
  }

  test("group-stat cleaning ops broadcast their stats; the data side never sorts") {
    for (q <- Seq("q_a21_impute", "q_a22_winsorize")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q\n$p")
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
        s"$q\n$p")
    }
  }

  test("rolling distinct has no Window operator and no range self-join") {
    val p = plan("q_w13_rolling_dau")
    assert(!p.contains("Window"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("LeftSemi"), p) // observed-days gate is the semi-join
  }

  test("interval join runs as a hash join on the bin — no nested loop") {
    val p = plan("q_j10_interval_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("Join"), p)
  }

  test("heavy-hitter tokens: bounded sketch agg, broadcast semi-join verify, TakeOrdered") {
    val p = plan("q_t_heavy_tokens")
    // pass 1 runs as the typed-buffer ObjectHashAggregate (k-bounded
    // MG state); pass 2 filters via a broadcast LeftSemi and ends in
    // TakeOrdered — no full-cardinality sort, no cartesian anywhere
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("pageRank: one edge-side join per iteration — the degree rides the rank relation") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val df = graft.operators.Graph.pageRank(edges, "src", "dst", iters = 3)
    df.collect() // finalize the adaptive plan
    // toString prints "== Final Plan ==" then "== Initial Plan ==" —
    // count joins in the final section only, or every join doubles
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    // 3 iterations = 3 edge⋈rank joins + 2 k-row degree re-attaches.
    // The old shape carried an edge⋈degree join per iteration too (6
    // total); a regression back to it fails this bound.
    val joins =
      "SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin".r.findAllIn(p).size
    assert(joins <= 5, s"expected at most 5 joins for 3 iterations, got $joins\n$p")
  }

  test("classifier scoring broadcasts the dim-row weight relation") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta", 1L), (2L, "noise junk", 0L))
      .toDF("doc_id", "text", "y")
    val w = graft.textops.QualityModel.trainLogistic(
      docs, "doc_id", "text", "y", dim = 32, iters = 1, lr = 0.5)
    val scored = graft.textops.QualityModel.scoreLogistic(
      Tables.documents(spark, sfDir), w, "doc_id", "text", 32)
    val p = scored.queryExecution.executedPlan.toString
    // the weights join must be a broadcast — a shuffle join on the
    // full corpus's feature relation would re-exchange every token row
    // against a dim-row table at 100 TB
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("stateful store probe: the store streams through a broadcast join — no store-side shuffle, store never the build side") {
    import graft.stream.Streaming
    import graft.lake.VersionedTable
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files
      .createTempDirectory("graft_plan_probe").toString + "/store"
    VersionedTable.publish(
      spark.range(50000L).select(col("id").as("shingle")), root)
    val store = VersionedTable.readCurrent(spark, root) // real parquet scan
    val batchSide = spark.range(200L)
      .select((col("id") * 7L).as("shingle"), col("id").as("doc_id"))
      .localCheckpoint() // production shape: sh/bandsDf/vecs checkpoint
    val probed = Streaming.storeProbe(store, Seq("shingle"), batchSide,
        batchSide.count(), Streaming.ProbeBroadcastMaxRows)
      .groupBy("doc_id").count() // the batch-bounded agg callers hang above
    val viaBroadcast = probed.collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // Walk the adaptive plan: on the chain from the store's parquet
    // scan up to the root, a BroadcastHashJoin must appear BEFORE any
    // shuffle (the post-join agg exchange is batch-bounded — what
    // matters at 100 TB is that O(store) rows never enter an
    // exchange), and no broadcast exchange may sit between scan and
    // join (the store must be the STREAMED side — broadcasting it
    // would collect the store to the driver).
    def expand(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        Seq(q.plan)
      case o => o.children
    }
    def chainToScan(p: SparkPlan): Option[List[SparkPlan]] = p match {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths
            .exists(_.toString.contains("graft_plan_probe")) =>
        Some(List(p))
      case _ => expand(p).view.flatMap(chainToScan).headOption.map(p :: _)
    }
    def assertStoreStreamed(probed: org.apache.spark.sql.DataFrame): Unit = {
      val chain = chainToScan(probed.queryExecution.executedPlan)
      assert(chain.isDefined, "store parquet scan not found in executed plan:\n" +
        probed.queryExecution.executedPlan)
      val up = chain.get.reverse // scan first, root last
      val bhjIdx = up.indexWhere(
        _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec])
      val shufIdx = up.indexWhere(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
      assert(bhjIdx >= 0, "store probe must plan a BroadcastHashJoin:\n" +
        probed.queryExecution.executedPlan)
      assert(shufIdx < 0 || bhjIdx < shufIdx,
        s"store rows shuffled BELOW the probe join:\n${probed.queryExecution.executedPlan}")
      assert(!up.slice(0, bhjIdx).exists(
          _.isInstanceOf[org.apache.spark.sql.execution.exchange.BroadcastExchangeLike]),
        "the store must be the STREAMED side of the probe join:\n" +
          probed.queryExecution.executedPlan)
    }
    assertStoreStreamed(probed)
    // decision parity: the shuffled fallback (maxRows = 0) returns the
    // same matched multiset
    val viaShuffle = Streaming.storeProbe(store, Seq("shingle"), batchSide,
        batchSide.count(), 0L)
      .groupBy("doc_id").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(viaBroadcast === viaShuffle)
    // the left_semi probe (near-dedup's store-hit flags) keeps the
    // shape, and both shapes match the same keys
    val keys = batchSide.select("shingle")
    def semi(maxRows: Long) = Streaming.storeProbe(store, Seq("shingle"), keys,
      batchSide.count(), maxRows, "left_semi")
    val semiBroadcast = semi(Streaming.ProbeBroadcastMaxRows)
    val matched = semiBroadcast.collect().map(_.getLong(0)).sorted.toSeq
    assertStoreStreamed(semiBroadcast)
    assert(matched.nonEmpty && matched === semi(0L).collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("stateful store expiry: the retention horizon pushes into the store's parquet scan as a literal filter") {
    import graft.stream.Streaming
    import graft.lake.VersionedTable
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // r17: the steps collect (max ts, horizon) ONCE and filter the
    // store with a LITERAL predicate — the old
    // crossJoin(broadcast(1-row max)) shape blocked pushdown, so a
    // year-long store was fully decompressed by a 1-hour-retention
    // step; with the literal, row groups whose _ts stats fall wholly
    // behind the horizon are skipped at the scan.
    val root = java.nio.file.Files
      .createTempDirectory("graft_plan_horizon").toString + "/nv"
    def batch(rows: (Long, String, String)*) =
      rows.toDF("doc_id", "text", "tss")
        .withColumn("ts", col("tss").cast("timestamp")).drop("tss")
    // bootstrap a real novelty store, then take the lazy next-store
    // relation of a later batch (it contains the horizon-filtered
    // store scan; the step's other outputs are checkpointed)
    Streaming.noveltyGateBatchStep(
      batch((1L, "alpha beta gamma delta epsilon zeta eta theta", "2024-01-01 10:00:00")),
      "doc_id", "text", "ts", root, minNovelty = 0.0, retention = "1 hour")
      .count()
    val newStore = Streaming.noveltyGateBatchCompute(
      batch((2L, "one two three four five six seven eight", "2024-01-02 09:00:00")),
      "doc_id", "text", "ts",
      Streaming.readStore(spark, root, Streaming.noveltyStore(3)),
      minNovelty = 0.0, retention = "1 hour", shingleN = 3).folded
    // string-level assert (the AQE wrapper hides the scan from plan
    // collectors until finalization): the store's FileScan must carry
    // the horizon as a PUSHED filter, not only a post-scan Filter
    val p = newStore.queryExecution.executedPlan.toString
    val scanLine = p.linesIterator
      .find(l => l.contains("FileScan") && l.contains("graft_plan_horizon"))
    assert(scanLine.isDefined, s"store scan not found:\n$p")
    assert(scanLine.get.contains("GreaterThanOrEqual(_ts"),
      s"horizon must reach the store scan as a pushed filter:\n$p")
  }
}
