package graft.textops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.StableMath.gridSnap

/** End-to-end corpus curation — the composition a training-data
  * pipeline actually runs, assembled from the exact operators in this
  * package (each independently oracle-checked):
  *
  *   exact dedup (deterministic survivor)
  *     → quality gate (score ≥ threshold)
  *     → language gate (predicted language ∈ keep set)
  *
  * Every stage is a lazy DataFrame transform: Catalyst fuses the three
  * gates into the scan where possible, and the only shuffle is the
  * dedup's fingerprint window. At 100 TB this is the cheapest possible
  * shape — one wide shuffle, then pure map-side filtering.
  */
object Curation {

  def curate(df: DataFrame, idCol: String, textCol: String,
             minQuality: Double, keepLangs: Seq[String]): DataFrame = {
    val deduped = Dedup.dropExactDuplicates(df, idCol, textCol)
    val gated = TextAnalysis.languageId(
      TextAnalysis.qualityScore(deduped, textCol), textCol)
    gated.filter(col("quality_score") >= minQuality &&
      col("predicted_lang").isin(keepLangs: _*))
  }

  /** Near-duplicate-aware survivor selection: exact Jaccard pairs →
    * transitive clusters ([[Dedup.connectedComponents]]) → keep the
    * minimum-id member of every cluster plus all unclustered docs.
    * The closure matters: in an A~B~C chain with A≁C, pairwise-greedy
    * dropping could keep both A and C; the component collapses the
    * whole chain onto one survivor. Compose BEFORE `curate` for the
    * full pipeline (near-dedup → exact dedup → gates).
    *
    * Pairs come from [[Dedup.jaccardPairsAuto]], which picks the full
    * shingle join or the AllPairs prefix-filtered join from sampled
    * corpus statistics (the winner is a property of the corpus's
    * sharing structure — boilerplate-heavy corpora want the prefix
    * filter, short high-entropy ones want the full join; measured
    * crossover in SCALING.md). Both give the same pairs
    * (property-tested), so the survivors do not depend on the choice.
    */
  def dropNearDuplicates(df: DataFrame, idCol: String, textCol: String,
                         shingleN: Int = 3, threshold: Double = 0.5): DataFrame = {
    val pairs = Dedup.jaccardPairsAuto(df, idCol, textCol, shingleN, threshold)
    val losers = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .filter(col("node") =!= col("label"))
      .select(col("node").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Near-duplicate removal with a QUALITY-AWARE survivor rule: each
    * transitive cluster keeps its highest-`priorityCol` member
    * (ties → smallest id) instead of [[dropNearDuplicates]]'s
    * smallest-id convention. This is what production curation
    * actually wants — when a cleaned reprint and a boilerplate-ridden
    * original are near-dups, the dedup pass should keep the BEST
    * copy, not the earliest-crawled one.
    *
    * Same pair generation and O(log n)-round clustering as the
    * id-rule form; survivor selection is one aggregation over the
    * (cluster, member) relation — `min(struct(−priority, id))` picks
    * (max priority, min id) per cluster in a single k-bounded pass,
    * no window sort over members. Null priorities coalesce to −∞
    * (a null-scored doc survives only alone). Rows outside any
    * cluster pass through untouched.
    */
  def dropNearDuplicatesBy(df: DataFrame, idCol: String, textCol: String,
                           priorityCol: String, shingleN: Int = 3,
                           threshold: Double = 0.5): DataFrame = {
    val pairs = Dedup.jaccardPairsAuto(df, idCol, textCol, shingleN, threshold)
    val comp = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
    val members = comp.join(
      df.select(col(idCol).as("node"),
        coalesce(col(priorityCol).cast("double"),
          lit(Double.NegativeInfinity)).as("_pr")), "node")
    val winners = members.groupBy("label")
      .agg(min(struct((-col("_pr")).as("_np"), col("node").as("_n"))).as("_w"))
      .select(col("_w._n").as(idCol))
    val losers = comp.select(col("node").as(idCol))
      .join(winners, Seq(idCol), "left_anti")
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Leakage-safe train/test split: near-duplicate CLUSTERS land on one
    * side, never astride the boundary. A plain per-document hash split
    * leaks when document A (train) is a near-duplicate of B (test) —
    * the eval set then scores memorization; with web-scale corpora this
    * is the dominant contamination mode, and it survives document-level
    * dedup whenever the near-dup threshold used for dedup is tighter
    * than "similar enough to leak". The fix is structural: split on the
    * transitive cluster label (min id of the component, singletons =
    * own id), so every member of a cluster shares a split key and the
    * md5 bucket decides once per cluster.
    *
    * Same determinism contract as [[graft.operators.Sampling.withSplit]]
    * (pure function of content-derived keys — layout/engine/run
    * invariant). The cluster pass costs the pair generation at
    * `threshold` plus the components: a pair graph of at most 2^17
    * edges is finished on the driver in one collect, so on a curation
    * corpus the pair join is nearly the whole cost; larger graphs pay
    * the star rounds ([[Dedup.connectedComponents]]).
    */
  def clusterSafeSplit(df: DataFrame, idCol: String, textCol: String,
                       shingleN: Int = 3, threshold: Double = 0.5,
                       testPct: Int = 10): DataFrame = {
    require(testPct >= 0 && testPct <= 100, s"testPct must be 0..100, got $testPct")
    val pairs = Dedup.jaccardPairs(df, idCol, textCol, shingleN, threshold)
    val labels = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .withColumnRenamed("node", idCol)
    df.join(labels, Seq(idCol), "left")
      .withColumn("split_key", coalesce(col("label"), col(idCol)))
      .withColumn("split",
        when(graft.operators.Sampling.hashBucket(col("split_key")) < testPct,
          "test").otherwise("train"))
      .drop("label")
  }

  /** Per-source curation report over `curate` output: kept docs, token
    * mass, mean quality (decimal-cast so the average is exact).
    */
  def report(curated: DataFrame, textCol: String,
             sourceCol: String = "source"): DataFrame =
    curated
      .groupBy(sourceCol)
      .agg(count(lit(1)).as("n_docs"),
        sum(size(TextFunctions.tokens(col(textCol)))).as("total_tokens"),
        gridSnap(avg(col("quality_score")
          .cast(org.apache.spark.sql.types.DecimalType(18, 6))), 6)
          .cast("double").as("avg_quality"))
      .orderBy(sourceCol)
}
