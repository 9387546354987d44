package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.StableMath.gridSnap

/** Iterative graph analytics as DataFrame plans — the Pregel-style
  * pattern already used by the dedup connected-components pass
  * (`textops/Dedup.connectedComponents`), here for ranking. The
  * reference's "network analysis" is a plain owner→business count
  * table (`enhanced_streamlit_app.py:203-216`); PageRank is the
  * centrality upgrade for the same data shape (who anchors a
  * duplication cluster, which supplier anchors a market).
  */
object Graph {

  /** PageRank with a fixed iteration count over the SYMMETRIZED graph
    * (both directions of every edge; guarantees no dangling nodes, so
    * no rank mass leaks and no redistribution pass is needed).
    *
    * Determinism across engines and layouts: per-edge contributions
    * are computed in double (identical bits everywhere), DECIMAL-cast
    * before the incoming-edge SUM (order-independent — a raw double
    * sum would depend on partitioning), and each iteration's rank is
    * rounded to 10 dp as PART OF THE ALGORITHM, so two engines can
    * never drift.
    *
    * What materializes and what stays lazy — the measured split:
    * the symmetrized-distinct edge relation and the degree relation
    * checkpoint ONCE (they are the narrow inputs every iteration
    * reuses; GraphX materializes the same two), while the fat
    * edge⋈degree join, the per-iteration contributions, and the rank
    * updates stay lazy — the iterations compose into ONE final query
    * whose identical edge/degree sides dedup via exchange reuse (AQE
    * broadcasts the k-row rank relation locally; at cluster scale the
    * reused src-hash exchange co-locates the join). The node count is
    * LOOP-INVARIANT, so it is computed exactly once as a driver-side
    * scalar over the already-materialized degree checkpoint (one
    * 1-row-result job, the same planning-aggregate pattern as the
    * join-variant chooser in Dedup) and enters every iteration as a
    * literal — no per-iteration broadcast-join stage, and the
    * (1−d)/n + d·Σ update fuses INTO the aggregation select, so an
    * iteration is exactly join → partial agg → final agg. Edges with a
    * NULL endpoint are dropped up front: least/greatest would otherwise
    * fold a half-null edge into a self-loop that adds phantom degree
    * and rank mass (a union-symmetrize leaves them inert — dropping
    * preserves those semantics explicitly). Lineage only needs cutting
    * on long runs: every 4th iteration a checkpoint truncates the
    * plan. Returns (node, rank) with rank rounded to 6 dp.
    *
    * Feed NARROW node ids: the per-iteration join/shuffle carries the
    * id on every edge, so a bigint id is ~an order cheaper than a
    * decorated string — encode labels into numbers and decorate on the
    * (k-row) output, as q_g1_pagerank does with parity-tagged keys.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               damping: Double = 0.85, iters: Int = 3): DataFrame = {
    require(iters >= 1, s"iteration count must be positive, got $iters")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    // Deduplicate CANONICAL pairs (least, greatest), then symmetrize
    // lazily from the checkpointed half: the distinct shuffles and the
    // materialization carry HALF the symmetrized relation's rows, and
    // the union back to both directions is pure map work over cached
    // blocks. Self-loops symmetrize to themselves — swap only proper
    // pairs or they would double.
    val canon = edges
      .where(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(
        least(col(srcCol), col(dstCol)).as("src"),
        greatest(col(srcCol), col(dstCol)).as("dst"))
      .distinct()
      .localCheckpoint()
    val und = canon.unionByName(
      canon.filter(col("src") =!= col("dst"))
        .select(col("dst").as("src"), col("src").as("dst")))
    // Degrees double as the node relation (symmetrized ⇒ every node is
    // a src): one aggregation yields deg, nodes, AND the count — no
    // separate distinct passes.
    // Loop-invariant node count: observed on the degree checkpoint's
    // own materialization (r19 — was a separate 1-row count job), then
    // a literal in every iteration's plan.
    val obsN = org.apache.spark.sql.Observation()
    val deg = und.groupBy("src").agg(count(lit(1)).as("_deg"))
      .observe(obsN, count(lit(1)).as("n"))
      .localCheckpoint()
    val n = graft.core.Observed.long(obsN, "n", "pageRank").getOrElse(0L)
    // The degree rides the SMALL rank relation, not the edge relation:
    // rank/deg is per-NODE constant within an iteration, so computing
    // it on the k-row side before the broadcast does the division n
    // times instead of 2|E| times and — more importantly — drops the
    // per-iteration edge⋈degree join entirely. Each iteration is then
    // exactly: edges BHJ (broadcast per-src contribution) → partial
    // agg → final agg → tiny deg re-attach on the k-row aggregate.
    val dec = org.apache.spark.sql.types.DecimalType(38, 16)
    var ranks = deg.select(col("src").as("node"),
      gridSnap(lit(1.0) / lit(n), 10).as("rank"), col("_deg"))
    for (i <- 1 to iters) {
      val contrib = und
        .join(ranks.select(col("node").as("src"),
          (col("rank") / col("_deg")).cast(dec).as("_c")), "src")
        .select(col("dst").as("node"), col("_c"))
      val agg = contrib.groupBy("node")
        .agg(gridSnap(lit(1 - damping) / lit(n)
          + lit(damping) * sum(col("_c")).cast("double"), 10).as("rank"))
      ranks =
        if (i < iters)
          agg.join(deg.select(col("src").as("node"), col("_deg")), "node")
        else agg
      if (i % 4 == 0 && i < iters) ranks = ranks.localCheckpoint()
    }
    ranks.select(col("node"), gridSnap(col("rank"), 6).as("rank"))
  }

  /** Personalized PageRank (random walk with restart to a SEED set —
    * Jeh & Widom, "Scaling personalized web search", WWW 2003): the
    * teleport mass (1−d) flows only to the seeds, so rank measures
    * proximity TO THE SEEDS rather than global centrality — the
    * "more like these" primitive behind seed-based corpus expansion
    * and related-entity retrieval.
    *
    * Same determinism discipline as [[pageRank]] (DECIMAL-cast sums,
    * 10 dp per-iteration rounding, loop-invariant |seeds| as a
    * literal) and the same per-iteration plan (one edge-side hash
    * join with the rank relation + one aggregation). The structural
    * difference is the SPARSITY contract: the rank relation holds
    * only nodes the walk has REACHED (seeds ∪ frontier), so early
    * iterations join against a tiny relation that AQE broadcasts —
    * at 100 TB a 3-hop PPR touches the seeds' neighbourhood, never
    * the whole graph. Unreached nodes have rank exactly 0 and are
    * absent. Seeds not present in the graph still hold their teleport
    * mass (isolated seed = pure restart). Null seeds are dropped.
    *
    * Returns (node, rank) rounded to 6 dp, reached nodes only.
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: DataFrame, seedCol: String,
                           damping: Double = 0.85, iters: Int = 3): DataFrame = {
    require(iters >= 1, s"iteration count must be positive, got $iters")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    val canon = edges
      .where(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(
        least(col(srcCol), col(dstCol)).as("src"),
        greatest(col(srcCol), col(dstCol)).as("dst"))
      .distinct()
      .localCheckpoint()
    val und = canon.unionByName(
      canon.filter(col("src") =!= col("dst"))
        .select(col("dst").as("src"), col("src").as("dst")))
    val deg = und.groupBy("src").agg(count(lit(1)).as("_deg"))
      .localCheckpoint()
    // |seeds| observed on the seed checkpoint's own materialization
    // (r19 — was a separate count job), same seam as [[pageRank]]'s n
    val obsS = org.apache.spark.sql.Observation()
    val seedNodes = seeds
      .where(col(seedCol).isNotNull)
      .select(col(seedCol).as("node")).distinct()
      .observe(obsS, count(lit(1)).as("n"))
      .localCheckpoint()
    val nSeeds = graft.core.Observed.long(obsS, "n", "personalizedPageRank").getOrElse(0L)
    require(nSeeds > 0, "personalization needs at least one non-null seed")
    // teleport base: (1−d)/|seeds| on seeds, 0 elsewhere (absent)
    val base = seedNodes
      .withColumn("_b", gridSnap(lit(1 - damping) / lit(nSeeds), 10))
    val dec = org.apache.spark.sql.types.DecimalType(38, 16)
    // walk starts AT the personalization vector
    var ranks = seedNodes
      .withColumn("rank", gridSnap(lit(1.0) / lit(nSeeds), 10))
      .join(deg.select(col("src").as("node"), col("_deg")), Seq("node"), "left")
    for (i <- 1 to iters) {
      val contrib = und
        .join(ranks.where(col("_deg").isNotNull)
          .select(col("node").as("src"),
            (col("rank") / col("_deg")).cast(dec).as("_c")), "src")
        .select(col("dst").as("node"), col("_c"))
      val agg = contrib.groupBy("node")
        .agg((lit(damping) * sum(col("_c")).cast("double")).as("_m"))
      val joined = agg.join(base, Seq("node"), "full_outer")
        .select(col("node"),
          gridSnap(coalesce(col("_b"), lit(0.0))
            + coalesce(col("_m"), lit(0.0)), 10).as("rank"))
      ranks =
        if (i < iters)
          joined.join(deg.select(col("src").as("node"), col("_deg")),
            Seq("node"), "left")
        else joined
      if (i % 4 == 0 && i < iters) ranks = ranks.localCheckpoint()
    }
    ranks.select(col("node"), gridSnap(col("rank"), 6).as("rank"))
  }

  /** Canonical simple-graph edge relation: null endpoints and
    * self-loops out, parallel/reversed duplicates collapsed,
    * checkpointed once (shared by the triangle family's multiple
    * consumers).
    */
  private def simpleCanon(edges: DataFrame, srcCol: String,
                          dstCol: String): DataFrame =
    edges
      .where(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(srcCol) =!= col(dstCol))
      .select(
        least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .distinct()
      .localCheckpoint()

  /** Distinct-neighbour degree over a canonical edge relation. */
  private def simpleDegrees(canon: DataFrame): DataFrame =
    canon.select(col("a").as("node"))
      .unionAll(canon.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("_d"))

  /** Per-node triangle participation counts via degree-ordered edge
    * orientation (the compact-forward / node-iterator++ algorithm the
    * MapReduce triangle literature settled on — Suri & Vassilvitskii's
    * "Counting Triangles and the Curse of the Last Reducer", WWW'11).
    *
    * Why orientation matters at 100 TB: the naive wedge join (edges ⋈
    * edges on the shared endpoint) generates Σ deg(v)² candidates — a
    * single celebrity node with 10M neighbors yields 10¹⁴ wedges on
    * one reducer. Orienting every edge from its (degree, id)-smaller
    * endpoint to its larger one makes each triangle countable exactly
    * once from its lowest-ordered corner, and bounds every node's
    * OUT-degree by O(√m) regardless of its raw degree, so total wedge
    * work is O(m^1.5) — the best achievable for exact counting — and
    * no reducer sees a hot key. The composite (deg, id) order compares
    * as a struct, so node ids never need re-encoding.
    *
    * Plan shape: distinct canonical edges checkpoint once; one
    * aggregation for degrees; two hash joins to decorate endpoints;
    * the wedge self-join and the closing join are both equi hash joins
    * on edge keys (no cartesian, plan-asserted in GraphSpec). Output
    * is (node, triangles) — each triangle credits all three corners,
    * so counts are orientation-independent and any engine reproduces
    * them bit-for-bit (pure integer arithmetic). Nodes in no triangle
    * are absent (left-join degrees back if zeros are needed).
    *
    * Self-loops cannot form triangles and are dropped with null
    * endpoints up front; parallel edges collapse via the canonical
    * distinct.
    */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    triangleCore(simpleCanon(edges, srcCol, dstCol))

  private def triangleCore(canon: DataFrame): DataFrame = {
    val deg = simpleDegrees(canon)
    // decorate both endpoints with their (deg, id) order key, then
    // orient low → high under that key
    val withKeys = canon
      .join(deg.select(col("node").as("a"), col("_d").as("_da")), "a")
      .join(deg.select(col("node").as("b"), col("_d").as("_db")), "b")
      .select(col("a"), col("b"),
        struct(col("_da").as("d"), col("a").as("n")).as("_ka"),
        struct(col("_db").as("d"), col("b").as("n")).as("_kb"))
    val oriented = withKeys.select(
      when(col("_ka") < col("_kb"), col("a")).otherwise(col("b")).as("s"),
      when(col("_ka") < col("_kb"), col("b")).otherwise(col("a")).as("t"),
      when(col("_ka") < col("_kb"), col("_kb")).otherwise(col("_ka")).as("_kt"))
      .localCheckpoint()
    // wedges from each apex's out-neighborhood (≤ O(√m) per node),
    // ordered so (lo, hi) is itself an oriented edge when it exists
    val x = oriented.select(col("s").as("_as"), col("t").as("_lo"), col("_kt").as("_klo"))
    val y = oriented.select(col("s").as("_as"), col("t").as("_hi"), col("_kt").as("_khi"))
    val wedges = x.join(y, Seq("_as")).where(col("_klo") < col("_khi"))
    val tris = wedges.join(oriented,
      wedges("_lo") === oriented("s") && wedges("_hi") === oriented("t"))
      .select(col("_as"), col("_lo"), col("_hi"))
    tris
      .select(explode(array(col("_as"), col("_lo"), col("_hi"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
  }

  /** Local clustering coefficient per node: 2·T(v) / (deg(v)·(deg(v)−1))
    * — the fraction of a node's neighbour pairs that are themselves
    * connected (Watts & Strogatz, Nature 1998), the standard
    * community-cohesion score on top of [[triangleCounts]]. Every node
    * of the simple graph appears: triangle-free nodes score 0.0;
    * degree-1 nodes have no neighbour pair and score null. One extra
    * broadcast-joinable |V|-row join over the triangle plan; the
    * double division + 6 dp round is engine-exact (T and deg are
    * integers).
    */
  def clusteringCoefficients(edges: DataFrame, srcCol: String,
                             dstCol: String): DataFrame = {
    val canon = simpleCanon(edges, srcCol, dstCol)
    val tris = triangleCore(canon)
    simpleDegrees(canon)
      .join(tris, Seq("node"), "left")
      .withColumn("triangles", coalesce(col("triangles"), lit(0L)))
      .withColumn("clustering_coef",
        when(col("_d") >= 2,
          gridSnap(lit(2.0) * col("triangles")
            / (col("_d") * (col("_d") - lit(1))), 6)))
      .select(col("node"), col("_d").as("degree"), col("triangles"),
        col("clustering_coef"))
  }

  /** Synchronous label propagation (community detection), fixed
    * iteration count, fully deterministic: every node starts labeled
    * with its own id; each iteration every node adopts the most
    * frequent label among its neighbors, ties broken by the SMALLEST
    * label (min over the (−count, label) pair — integer arithmetic
    * only, so any engine replays it bit-for-bit; no rounding
    * discipline needed, unlike PageRank's doubles). Isolated nodes
    * keep their own label.
    *
    * Per iteration: one hash join of the symmetrized edges with the
    * k-row label relation (the same AQE-broadcast shape as a PageRank
    * step) and one (node, label) aggregation — no window over the
    * edge relation. Two exact algebraic collapses (r19, guide §1.2 —
    * drop passes the algebra already implies):
    *
    *  - Iteration 1 runs over IDENTITY labels on a DISTINCT symmetrized
    *    edge relation, so every neighbor contributes its own label
    *    exactly once — all counts are 1, the most-frequent-with-min-tie
    *    rule degenerates to "adopt the smallest neighbor id", and the
    *    join + two-level aggregation collapses to ONE aggregation
    *    (`min(src)` per dst) with no label relation at all.
    *  - The symmetrized relation makes every node a `dst`, so each
    *    iteration's adopted relation already covers every node (a
    *    self-loop-only node adopts via its own loop) — the per-node
    *    re-join against a separate node relation, the coalesce, and
    *    the node relation's own distinct + checkpoint were no-op
    *    decoration and are gone; the DuckDB oracle twin replays
    *    exactly this adopted-only shape.
    *
    * Synchronous updates oscillate on bipartite structures as LPA
    * classically does; a fixed iteration count is the deterministic
    * contract, matching the reference-free exactness discipline of
    * [[pageRank]].
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       iters: Int = 2): DataFrame = {
    require(iters >= 1, s"iteration count must be positive, got $iters")
    val canon = edges
      .where(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(
        least(col(srcCol), col(dstCol)).as("src"),
        greatest(col(srcCol), col(dstCol)).as("dst"))
      .distinct()
      .localCheckpoint()
    val und = canon.unionByName(
      canon.filter(col("src") =!= col("dst"))
        .select(col("dst").as("src"), col("src").as("dst")))
    // iteration 1: identity labels + duplicate-free edges ⇒ min neighbor
    var labels: DataFrame = und.groupBy(col("dst").as("node"))
      .agg(min(col("src")).as("label"))
    for (i <- 2 to iters) {
      labels = und
        .join(labels.select(col("node").as("src"), col("label")), "src")
        .groupBy(col("dst").as("node"), col("label"))
        .agg(count(lit(1)).as("_c"))
        .groupBy("node")
        .agg(min(struct((-col("_c")).as("_nc"), col("label").as("_l")))
          .as("_best"))
        .select(col("node"), col("_best._l").as("label"))
      if (i % 4 == 0 && i < iters) labels = labels.localCheckpoint()
    }
    labels.select("node", "label")
  }
}
