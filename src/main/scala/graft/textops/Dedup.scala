package graft.textops

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.core.Observed
import graft.functions.StableMath.gridSnap

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Four tiers, cheapest first:
  *  - exact (hash-groupBy on a content fingerprint)
  *  - n-gram Jaccard (exact set similarity, shingle-join pruned)
  *  - MinHash + LSH (approximate Jaccard, subquadratic candidate gen)
  *  - SimHash (64-bit sketch, Hamming-banded candidate gen)
  *
  * All are pure DataFrame plans: every stage is a hash shuffle on a
  * well-distributed key (fingerprint / shingle / band key / chunk), so
  * they scale horizontally. One bounded driver finish decides from a
  * count the plan has already observed: [[connectedComponents]]
  * collects an edge relation of at most `LocalFinishMaxEdges` rows,
  * and nothing above that bound is ever collected.
  */
object Dedup {

  /** Edge count at or below which [[connectedComponents]] finishes on
    * the driver: 2^17, the largest graph whose driver finish was
    * measured (a 2^17-edge chain, SCALING.md), not a guess at what a
    * driver could hold.
    */
  private val LocalFinishMaxEdges: Long = 1L << 17

  /** The driver order of a node type, equal to Spark's `<` on it:
    * ints and longs by value, binary-collated strings by their UTF-8
    * bytes. Other types have none and stay on the Spark path.
    */
  private def driverOrdering(dt: DataType): Option[Ordering[Any]] = dt match {
    case LongType => Some(Ordering.by[Any, Long](_.asInstanceOf[Long]))
    case IntegerType => Some(Ordering.by[Any, Int](_.asInstanceOf[Int]))
    case st: StringType if st == StringType =>
      Some(Ordering.by[Any, UTF8String](v => UTF8String.fromString(v.asInstanceOf[String])))
    case _ => None
  }

  /** Union-find on the driver over collected (a, b) rows, the smaller
    * node always the root: (node, component minimum) for every non-null
    * endpoint. A row with a null end links nothing — the canonical edge
    * filter of [[connectedComponents]] drops it too.
    */
  private def componentMinima(rows: Array[Row], ord: Ordering[Any]): Iterator[(Any, Any)] = {
    val index = mutable.HashMap.empty[Any, Int]
    val value = mutable.ArrayBuffer.empty[Any]
    val parent = mutable.ArrayBuffer.empty[Int]
    def add(v: Any): Int = index.getOrElseUpdate(v, {
      parent += value.length; value += v; value.length - 1 })
    def find(i: Int): Int = {
      var j = i
      while (parent(j) != j) { parent(j) = parent(parent(j)); j = parent(j) }
      j
    }
    rows.foreach { r =>
      val ends = Seq(r.get(0), r.get(1)).filter(_ != null).map(add)
      if (ends.length == 2) {
        val (ra, rb) = (find(ends(0)), find(ends(1)))
        if (ord.lt(value(ra), value(rb))) parent(rb) = ra
        else if (ra != rb) parent(ra) = rb
      }
    }
    value.indices.iterator.map(i => (value(i), value(find(i))))
  }

  /** Exact duplicate groups by canonical content hash: one map-side
    * partial count + one shuffle keyed on the 128-bit fingerprint.
    */
  def exactDuplicateGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("fp", TextFunctions.fingerprint(col(textCol)))
      .groupBy("fp")
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("keep_id"))
      .filter(col("n_copies") > 1)

  /** Keep one row per distinct canonical text (first by `idCol`). The
    * window shuffles once on the fingerprint; at scale this is the
    * standard "dedup by key, deterministic survivor" plan.
    */
  def dropExactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy("fp").orderBy(col(idCol).asc)
    df.withColumn("fp", TextFunctions.fingerprint(col(textCol)))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("fp", "rn")
  }

  /** Exact n-gram Jaccard near-duplicate pairs.
    *
    * Candidate generation joins the distinct (id, shingle) relation with
    * itself on the shingle — only pairs sharing ≥1 shingle are ever
    * scored, so cost is Σ bucket² over shingle buckets (sparse for
    * n ≥ 3), not |docs|². Jaccard = inter / (|A| + |B| − inter) from the
    * per-pair intersection count and per-doc set sizes.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   n: Int, threshold: Double): DataFrame = {
    // shingleTable emits 64-bit shingle hashes: the self-join shuffle
    // carries 8-byte keys and compares longs (collision odds per the
    // shingleTable scaladoc).
    val sh = TextFunctions.shingleTable(df, idCol, textCol, n)
    val inter = sh.toDF("doc_a", "shingle")
      .join(sh.toDF("doc_b", "shingle"), "shingle")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter"))
    jaccardAtLeast(inter, sh, idCol, threshold)
  }

  /** The verify tail shared by [[jaccardPairs]] and [[minhashLshPairs]]:
    * per-pair intersection counts (doc_a, doc_b, inter) and the set
    * sizes of the (id, shingle) relation `sh` → J = inter / (|A| + |B|
    * − inter), kept when J ≥ `threshold`, snapped to 6 dp. Set sizes
    * are aggregated once and joined onto the surviving pairs.
    */
  private def jaccardAtLeast(inter: DataFrame, sh: DataFrame, idCol: String,
                             threshold: Double): DataFrame = {
    val sizes = sh.groupBy(idCol).agg(count(lit(1)).as("n_sh"))
    inter
      .join(sizes.toDF("doc_a", "n_a"), "doc_a")
      .join(sizes.toDF("doc_b", "n_b"), "doc_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), gridSnap(col("jaccard"), 6).as("jaccard"))
  }

  /** One row per document: sorted distinct 64-bit shingle hashes as an
    * array (the sorted order IS the AllPairs global order) + set size.
    * Deliberately a lazy recomputed map-side plan even though consumers
    * branch on it: materializing with localCheckpoint measured 5→35 s
    * (pins the scan's partition count, serializing the downstream
    * explodes) and a pre-/post-array repartition for AQE stage reuse
    * measured 4→7 s (the exchange costs more than the recomputes) —
    * the cheap thing IS the recompute.
    */
  private def perDocShingles(df: DataFrame, idCol: String, textCol: String,
                             n: Int): DataFrame =
    df.select(col(idCol), TextFunctions.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col(idCol), expr(
        s"array_sort(array_distinct(transform(sequence(0, size(toks) - $n), i -> xxhash64(slice(toks, i + 1, $n)))))")
        .as("sh_arr"))
      .withColumn("n_sh", size(col("sh_arr")))

  /** The AllPairs prefix relation: each doc's first
    * `n_sh − ⌈t·n_sh⌉ + 1` shingles under the global order.
    */
  private def prefixRelation(perDoc: DataFrame, idCol: String,
                             threshold: Double): DataFrame = {
    val prefixLen = (col("n_sh") - ceil(col("n_sh") * threshold) + 1).cast("int")
    perDoc.select(col(idCol), col("n_sh"),
      explode(slice(col("sh_arr"), lit(1), greatest(prefixLen, lit(1)))).as("shingle"))
  }

  /** Exact n-gram Jaccard with PREFIX FILTERING (AllPairs, Bayardo et
    * al., WWW'07) — same results as [[jaccardPairs]], far fewer
    * candidates. Under any fixed global shingle order, two sets with
    * J ≥ t must share an element within each one's first
    * `n − ⌈t·n⌉ + 1` shingles: a pair sharing only suffix shingles
    * cannot reach the required overlap (⌈t·n⌉ ≤ |A∩B|). So the
    * candidate self-join runs on the PREFIX relation only — bucket
    * sizes shrink by ~(1−t), and join cost drops quadratically in
    * that factor — then exact Jaccard verifies candidates on the full
    * shingle sets. The global order is the shingle hash itself
    * (arbitrary but fixed — no frequency statistics needed).
    *
    * Scale shape: the prefix is computed MAP-SIDE — each doc's distinct
    * shingle array is sorted and sliced per row (arrays are doc-sized,
    * tiny), so the prefix relation costs no window and no extra
    * shuffle — and verification is a per-row `array_intersect` of the
    * two docs' arrays (joined back by id against the one-row-per-doc
    * relation), not a re-aggregation of the exploded shingle table.
    * Three hash joins total, every one keyed on doc ids or prefix
    * shingles; intermediate width is one array per doc.
    */
  def jaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
                         n: Int, threshold: Double): DataFrame = {
    val perDoc = perDocShingles(df, idCol, textCol, n)
    val prefix = prefixRelation(perDoc, idCol, threshold)
    // AllPairs SIZE FILTER (Bayardo §3: a necessary condition of
    // J ≥ t is min(|A|,|B|) ≥ t·max(|A|,|B|) — from inter ≤ min and
    // inter ≥ t(|A|+|B|)/(1+t)): the set sizes already ride the prefix
    // relation (one int per row), so mismatched-size pairs drop INSIDE
    // the candidate join, before the distinct's shuffle and the
    // doc-sized array joins + array_intersect ever see them (r19,
    // guide §2.3 — shuffle fewer bytes). Pure candidate pruning: the
    // exact Jaccard verify is unchanged, so results are identical by
    // construction (and property-tested against the full join).
    val candidates = prefix.select(col(idCol).as("doc_a"),
        col("n_sh").as("_na"), col("shingle"))
      .join(prefix.select(col(idCol).as("doc_b"),
        col("n_sh").as("_nb"), col("shingle")), "shingle")
      .filter(col("doc_a") < col("doc_b"))
      .filter(least(col("_na"), col("_nb"))
        >= lit(threshold) * greatest(col("_na"), col("_nb")))
      .select("doc_a", "doc_b")
      .distinct()
    candidates
      .join(perDoc.select(col(idCol).as("doc_a"),
        col("sh_arr").as("_arr_a"), col("n_sh").as("n_a")), "doc_a")
      .join(perDoc.select(col(idCol).as("doc_b"),
        col("sh_arr").as("_arr_b"), col("n_sh").as("n_b")), "doc_b")
      .withColumn("inter", size(array_intersect(col("_arr_a"), col("_arr_b"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), gridSnap(col("jaccard"), 6).as("jaccard"))
  }

  /** Benchmark DECONTAMINATION — the training-pipeline gate that keeps
    * evaluation data out of the training corpus: a corpus document is
    * contaminated when it shares at least `minShared` distinct n-gram
    * shingles with the benchmark set (the n-gram-overlap rule the major
    * LLM training reports use, typically with 8-13-grams).
    *
    * Shape: corpus shingle relation ⋈ DISTINCT benchmark shingles —
    * the benchmark side is eval-set-sized (≪ corpus), so at scale
    * Catalyst/AQE broadcasts it and the corpus is never shuffled for
    * candidate detection; the per-doc shared-shingle count is one
    * map-side-combined aggregation on the (rare) matching rows. Both
    * relations carry 8-byte xxhash64 shingle keys, never strings.
    *
    * Returns (idCol, n_shared) for contaminated documents only.
    */
  def contaminatedDocs(corpus: DataFrame, idCol: String, textCol: String,
                       benchmark: DataFrame, benchTextCol: String,
                       n: Int, minShared: Long = 1L): DataFrame = {
    val cs = TextFunctions.shingleTable(corpus, idCol, textCol, n)
    // A constant id collapses the per-doc distinct into one global
    // distinct-shingle relation — one shuffle, no second dedup pass.
    val bs = TextFunctions
      .shingleTable(benchmark.select(lit(0L).as("_bid"), col(benchTextCol)),
        "_bid", benchTextCol, n)
      .select("shingle")
    cs.join(bs, "shingle")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Graded decontamination: per-document n-gram NOVELTY against a
    * reference corpus — the fraction of the document's distinct
    * n-gram shingles the reference has never seen. Where
    * [[contaminatedDocs]] answers the binary eval-set question ("does
    * this doc overlap the benchmark at all?"), novelty is the
    * continuous curation signal: ~0 for reprints and boilerplate the
    * corpus already covers, ~1 for genuinely new material — the
    * ranking key for "what does this crawl actually add?".
    *
    * Scale shape: the reference collapses to ONE global
    * distinct-shingle relation (constant-id shingleTable — one
    * shuffle, no per-doc identity); membership is a left-semi hash
    * join on the shingle key; both counts aggregate per document.
    * Nothing is quadratic and nothing depends on layout — shingle
    * hashes, counts, and the 6 dp ratio replay identically in any
    * engine (Md5Portable), with collisions shared bit-for-bit by
    * construction. Documents with fewer than `n` tokens have no
    * shingles and are absent from the output (no 0/0 row).
    *
    * Returns (idCol, n_shingles, n_novel, novelty).
    */
  def noveltyScores(corpus: DataFrame, idCol: String, textCol: String,
                    reference: DataFrame, refTextCol: String, n: Int = 3,
                    family: HashFamily = HashFamily.Xx64): DataFrame = {
    val cs = TextFunctions.shingleTable(corpus, idCol, textCol, n, family)
    val rs = TextFunctions
      .shingleTable(reference.select(lit(0L).as("_rid"), col(refTextCol)),
        "_rid", refTextCol, n, family)
      .select("shingle")
    val seen = cs.join(rs, Seq("shingle"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("_seen"))
    cs.groupBy(col(idCol)).agg(count(lit(1)).as("n_shingles"))
      .join(seen, Seq(idCol), "left")
      .withColumn("n_novel",
        col("n_shingles") - coalesce(col("_seen"), lit(0L)))
      .withColumn("novelty",
        gridSnap(col("n_novel").cast("double") / col("n_shingles"), 6))
      .select(col(idCol), col("n_shingles"), col("n_novel"), col("novelty"))
  }

  /** The corpus with contaminated documents removed (left anti join on
    * [[contaminatedDocs]]). Compose before near-dedup in a full
    * curation pipeline: decontaminate → near-dedup → gates.
    */
  def decontaminate(corpus: DataFrame, idCol: String, textCol: String,
                    benchmark: DataFrame, benchTextCol: String,
                    n: Int, minShared: Long = 1L): DataFrame =
    corpus.join(
      contaminatedDocs(corpus, idCol, textCol, benchmark, benchTextCol, n, minShared)
        .select(idCol),
      Seq(idCol), "left_anti")

  /** Decide [[jaccardPairs]] vs [[jaccardPairsPrefix]] from SAMPLED
    * corpus statistics — the two genuinely cross over, and the winner
    * is a property of the corpus's sharing STRUCTURE, not its size
    * (measured: a boilerplate-heavy template corpus runs 9.5 s full vs
    * 5.6 s prefix; the short high-entropy documents table runs 4.8 s
    * full vs 21 s prefix — same code, opposite verdicts; SCALING.md).
    *
    * The signal: the full join's cost is the candidate multiplicity
    * Σ bucket² (every shared shingle of every pair is a join row,
    * but they collapse map-side into per-pair counts); the prefix
    * variant's cost is DISTINCT candidate pairs × avg set size (each
    * candidate carries two doc-sized arrays through two joins and an
    * `array_intersect`). When duplication is clustered (boilerplate:
    * many shared shingles per duplicate pair), candidates dedup
    * strongly below Σ bucket² and the prefix form wins; when sharing is
    * diffuse (common phrases across non-duplicates: ~1 shared shingle
    * per candidate), it doesn't, and the full join's skinny count rows
    * win. So: prefix iff candidates × avgSetSize < Σ bucket².
    *
    * Both sides of the inequality scale ~quadratically under document
    * sampling (a pair survives iff both endpoints are sampled; buckets
    * shrink linearly, their squares quadratically), so the comparison
    * is estimated on a `sampleFraction` sample at ~q² of the real
    * candidate-join cost. The decision is a driver-side boolean off
    * two 1-row aggregates — planning statistics, the AQE pattern, not
    * data collection. Tiny samples under-detect candidates and fall
    * back to the full join — the safe default at small scale, where
    * the full join is the measured winner anyway.
    */
  def preferPrefixFilter(df: DataFrame, idCol: String, textCol: String,
                         n: Int, threshold: Double,
                         sampleFraction: Double = 0.15,
                         seed: Long = 42): Boolean = {
    // localCheckpoint: both statistics jobs below consume the sampled
    // per-doc shingle relation, and without materialization each would
    // re-run the tokenize + shingle + sort pass (plus the upstream
    // lineage of `df` — e.g. a quality-score pass when called on a
    // scored frame) — measured at ~2× the chooser's cost (the r19
    // chooser A/B, SCALING.md). The sample is `sampleFraction` of
    // the corpus, so the blocks are small; the decision is unchanged
    // (same sample, same statistics — only computed once).
    val pd = perDocShingles(df.sample(sampleFraction, seed), idCol, textCol, n)
      .localCheckpoint()
    // BOTH statistics ride one crossJoin-of-1-row-aggregates collect
    // (r19, guide §1.2 — they were two driver jobs over the same
    // checkpointed sample; the values and the decision are unchanged)
    val bucketAgg = pd.select(explode(col("sh_arr")).as("shingle"))
      .groupBy("shingle").agg(count(lit(1)).as("b"))
      .agg(sum(col("b") * col("b")).as("sumsq"))
    val prefix = prefixRelation(pd, idCol, threshold)
    val stats = prefix.toDF("doc_a", "_na", "shingle")
      .join(prefix.toDF("doc_b", "_nb", "shingle"), "shingle")
      .filter(col("doc_a") < col("doc_b"))
      // mirror jaccardPairsPrefix's size filter so the estimate prices
      // the candidate set the prefix join would actually verify
      .filter(least(col("_na"), col("_nb"))
        >= lit(threshold) * greatest(col("_na"), col("_nb")))
      .select("doc_a", "doc_b").distinct()
      .agg(count(lit(1)).as("cands"))
      .crossJoin(pd.agg(avg(col("n_sh")).as("avg_sh")))
      .crossJoin(bucketAgg)
      .collect().head
    val cands = stats.getLong(0)
    val avgSh = Option(stats.get(1)).fold(0.0)(_.asInstanceOf[Double])
    val sumsq = Option(stats.get(2)).fold(0L)(_.asInstanceOf[Long])
    cands > 0 && cands * avgSh < sumsq.toDouble
  }

  /** Near-duplicate pairs with the generator chosen by
    * [[preferPrefixFilter]]'s sampled statistics. Identical output
    * either way (property-tested equivalence); only the plan differs.
    */
  def jaccardPairsAuto(df: DataFrame, idCol: String, textCol: String,
                       n: Int, threshold: Double,
                       sampleFraction: Double = 0.15,
                       seed: Long = 42): DataFrame =
    if (preferPrefixFilter(df, idCol, textCol, n, threshold, sampleFraction, seed))
      jaccardPairsPrefix(df, idCol, textCol, n, threshold)
    else jaccardPairs(df, idCol, textCol, n, threshold)

  /** The fixed-seed permutation coefficients (a_i, b_i) of the MinHash
    * signature — public so the DuckDB oracle SQL can embed the
    * IDENTICAL constants and replay the signature arithmetic
    * bit-for-bit.
    */
  def minhashCoefficients(numHashes: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(numHashes)(
      (1L + rnd.nextInt(Int.MaxValue - 1).toLong, rnd.nextInt(Int.MaxValue).toLong))
  }

  /** The Mersenne-prime modulus of the permutation hashes. */
  val MinhashPrime: Long = 2147483647L // 2^31 − 1

  /** MinHash-LSH near-duplicate pairs: band each document's signature
    * (`bands` × `numHashes / bands`), bucket-join on (band, key) for
    * candidates, then verify candidates with EXACT Jaccard — the sketch
    * only prunes, it never decides. Candidate join is equi (hash),
    * verification touches only candidate pairs: subquadratic end-to-end.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      shingleN: Int = 3, numHashes: Int = 64,
                      bands: Int = 16, threshold: Double = 0.5,
                      family: HashFamily = HashFamily.Xx64): DataFrame = {
    val sh = TextFunctions.shingleTable(df, idCol, textCol, shingleN, family)
    val inter = bandedCandidates(df, idCol, textCol, shingleN, numHashes, bands, family)
      .join(sh.toDF("doc_a", "shingle"), "doc_a")
      .join(sh.toDF("doc_b", "shingle"), Seq("doc_b", "shingle"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter"))
    jaccardAtLeast(inter, sh, idCol, threshold)
  }

  /** The LSH candidate generator shared by the verify tiers: each
    * document's band keys come map-side from [[MinhashBandKeys]] (one
    * codegen'd call per row, no shingle relation and no signature
    * shuffle), then a hash join on (band, key) and a dedupe to
    * (doc_a < doc_b) pairs. Subquadratic — pair work is Σ bucket²,
    * never n². Documents with fewer than `shingleN` tokens have no keys
    * and are never candidates.
    */
  private def bandedCandidates(df: DataFrame, idCol: String, textCol: String,
                               shingleN: Int, numHashes: Int, bands: Int,
                               family: HashFamily): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val banded = df.select(col(idCol), posexplode(MinhashBandKeys.column(
      col(textCol), shingleN, numHashes, bands, family)).as(Seq("band", "key")))
    banded.toDF("doc_a", "band", "key")
      .join(banded.toDF("doc_b", "band", "key"), Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
  }

  /** Character-level near-duplicate pairs: MinHash-LSH candidates
    * verified with normalized edit (Levenshtein) similarity,
    * `1 − lev(a,b) / max(len(a), len(b))` over whitespace-normalized
    * text — the verify tier to use when token-set Jaccard is blind to
    * the difference that matters (reorderings of the same vocabulary
    * score Jaccard 1.0 but low edit similarity; small in-place edits
    * score high on both).
    *
    * Scale shape: candidates come from the (band, key) join of
    * [[bandedCandidates]] (never all-pairs); the O(len_a · len_b) Levenshtein runs ONLY on
    * candidate pairs that survive a free length prefilter —
    * lev ≥ |len_a − len_b| implies sim ≤ 1 − |Δlen|/maxlen, so pairs
    * whose length gap already violates `threshold` drop before any
    * quadratic work. Both the filter and the distance are
    * engine-portable (plain character semantics), so the whole tier
    * replays in the DuckDB oracle. Empty-vs-empty pairs (maxlen 0)
    * define sim = 1. Returns (doc_a, doc_b, edit_sim) at 6 dp.
    */
  def editVerifiedPairs(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, numHashes: Int = 64,
                        bands: Int = 16, threshold: Double = 0.5,
                        family: HashFamily = HashFamily.Xx64): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0,1], got $threshold")
    val candidates = bandedCandidates(df, idCol, textCol, shingleN, numHashes, bands, family)
    val texts = df.select(col(idCol),
      TextFunctions.normalized(col(textCol)).as("_t"))
    val joined = candidates
      .join(texts.toDF("doc_a", "_ta"), "doc_a")
      .join(texts.toDF("doc_b", "_tb"), "doc_b")
      .withColumn("_max", greatest(length(col("_ta")), length(col("_tb"))))
      // free necessary condition: sim ≤ 1 − |Δlen|/maxlen
      .filter(abs(length(col("_ta")) - length(col("_tb")))
        <= lit(1.0 - threshold) * col("_max"))
    joined
      .withColumn("edit_sim",
        when(col("_max") === 0, lit(1.0))
          .otherwise(gridSnap(lit(1.0)
            - levenshtein(col("_ta"), col("_tb")).cast("double") / col("_max"), 6)))
      .filter(col("edit_sim") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("edit_sim"))
  }

  /** Connected components over an undirected edge list by alternating
    * large-star/small-star contraction (the MapReduce-CC construction
    * of Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC 2014), here used to turn pairwise near-duplicate
    * edges into transitive dedup CLUSTERS (doc A ~ B and B ~ C puts A
    * and C in one cluster even when A ≁ C — the survivor rule needs
    * the closure, not the pairs).
    *
    * Per round, two relational steps over the shrinking edge set:
    *
    *  - LARGE-STAR: every node u connects its strictly-larger
    *    neighbours to m = min(Γ(u) ∪ {u}) — one groupBy(min) + one
    *    equi-join;
    *  - SMALL-STAR: every node u re-points itself and its
    *    smaller-or-equal neighbours at their minimum — same shape on
    *    the larger-endpoint grouping.
    *
    * Both steps preserve connectivity, and the alternation converges
    * to per-component STARS rooted at the component minimum in
    * O(log² n) rounds proven, ~log n observed (Kiveris et al. §4; a
    * 300-node chain converges within 12 here) — structurally
    * independent of component DIAMETER, which is what makes it the
    * 100 TB path: a chain-shaped near-dup graph (every doc similar to
    * the next) forces the min-label propagation variant (the specs'
    * equivalence reference) into O(n) rounds, while this converges in
    * a dozen. Equivalence of the two forms is spec-pinned
    * (TextOpsSpec), as is the round-count bound. Size `maxIter` ≈
    * log₂(nodes) + slack for graphs that could be a single deep
    * component.
    *
    * Convergence detection is two-tier. The cheap tier rides the
    * round for free: the large-star aggregation already groups the
    * symmetric neighbourhood per node, and carrying `max(v)` next to
    * the `min(v)` it needs anyway yields a "some node has both a
    * smaller and a larger neighbour" counter as an `observe` metric
    * collected by the round's own checkpoint materialization. That
    * star test is NECESSARY but not sufficient — a star forest whose
    * roots are chained among themselves passes it one round early
    * (the {(1,4),(2,4),(2,3)} regression in TextOpsSpec), so rounds
    * the counter nominates as final additionally pay the exact
    * fixpoint check next == e (count + except on the edge relation);
    * only that equality stops the loop. Non-candidate rounds still run
    * zero convergence jobs. A non-converged exit throws rather than
    * returning partial clusters. Works for any ordered node type
    * (string ids included); self-loop-only nodes label themselves via
    * the final node-relation join.
    *
    * Small graphs finish on the driver instead (Shark's partial DAG
    * execution: the plan follows a statistic observed at run time).
    * The edge checkpoint observes its row count for free; when it is
    * at or below `LocalFinishMaxEdges` (2^17) and the node type has a
    * driver order (ints, longs, binary-collated strings), the edges
    * are collected in one job, finished by union-find with the smaller
    * id as root, and returned as a local relation — a curation chain's
    * few hundred near-duplicate pairs cost one collect instead of the
    * rounds' jobs. A larger graph runs the star rounds to convergence;
    * nothing above the bound is ever collected. The driver result
    * equals the rounds' labels and schema (spec-pinned at bound 0 and
    * the default).
    *
    * Returns (node, label) where label = min node id in the component.
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 20): DataFrame =
    connectedComponents(edges, srcCol, dstCol, maxIter, LocalFinishMaxEdges)

  /** [[connectedComponents]] with the driver-finish bound as a
    * parameter: `localMaxEdges = 0` runs the star rounds on every
    * non-empty graph.
    */
  private[graft] def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                                         maxIter: Int, localMaxEdges: Long): DataFrame = {
    // Materialize the (possibly expensive) edge derivation exactly
    // ONCE — `nodes` and `e` both consume it, and a Jaccard/LSH pair
    // generation feeding this must not run twice. Its row count rides
    // the checkpoint as an observation and decides the driver finish.
    val obsEnds = Observation()
    val ends = edges
      .select(col(srcCol).as("a"), col(dstCol).as("b"))
      .observe(obsEnds, count(lit(1)).as("n"))
      .localCheckpoint()
    val nodes = ends.select(col("a").as("node"))
      .unionByName(ends.select(col("b").as("node")))
      .distinct()
    // canonical (hi > lo) edge set; self-loops carry no connectivity.
    val canonical = ends
      .where(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("hi"),
        least(col("a"), col("b")).as("lo"))
      .distinct()
    def labelled(e: DataFrame): DataFrame = nodes
      .join(e.select(col("hi").as("node"), col("lo").as("_lbl")), Seq("node"), "left")
      .select(col("node"), coalesce(col("_lbl"), col("node")).as("label"))
    val nodeType = nodes.schema.head.dataType
    val ord = driverOrdering(nodeType)
    if (ord.isDefined &&
        Observed.long(obsEnds, "n", "connectedComponents").getOrElse(0L) <= localMaxEdges) {
      // every node, self-loop-only and null ones included, comes out of
      // the collected ends; the null node, as in the rounds, labels itself
      val collected = ends.select(col("a").cast(nodeType), col("b").cast(nodeType)).collect()
      val rows = componentMinima(collected, ord.get).map { case (v, root) => Row(v, root) } ++
        (if (collected.exists(_.anyNull)) Iterator(Row(null, null)) else Iterator.empty)
      return edges.sparkSession.createDataFrame(rows.toSeq.asJava, labelled(canonical).schema)
    }
    // Edge-set size rides the checkpoint as an observation (r19): the
    // fixpoint test next == e needs |next| == |e| every candidate
    // round, and the initial isEmpty is the same metric — zero
    // standalone count jobs.
    val obs0 = Observation()
    var e = canonical
      .observe(obs0, count(lit(1)).as("n"))
      .localCheckpoint()
    var eCount = Observed.long(obs0, "n", "connectedComponents").getOrElse(0L)
    var converged = eCount == 0L
    var i = 0
    while (!converged && i < maxIter) {
      // LARGE-STAR over the symmetric neighbourhood; the same grouping
      // carries the star-violation counter (scaladoc above)
      val nbrs = e.select(col("hi").as("u"), col("lo").as("v"))
        .unionByName(e.select(col("lo").as("u"), col("hi").as("v")))
      val obs = org.apache.spark.sql.Observation()
      val mins = nbrs.groupBy("u")
        .agg(min("v").as("_mn"), max("v").as("_mx"))
        .observe(obs, sum(when(col("_mn") < col("u") && col("_mx") > col("u"),
          1L)).as("nonstar"))
        .select(col("u"), least(col("u"), col("_mn")).as("m"))
      // no distinct here: duplicate (hi, lo) rows are absorbed by the
      // small-star min and the post-explode distinct — one less
      // edge-set-sized shuffle per round
      val large = nbrs.join(mins, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
      // SMALL-STAR over the canonical larger-endpoint grouping: each
      // row (u=hi, v=lo, m=min of u's smaller nbrs) re-points BOTH u
      // and v at m (v = m collapses to a dropped self-loop)
      val smins = large.groupBy("hi").agg(min("lo").as("m"))
      val obsN = org.apache.spark.sql.Observation()
      val next = large.join(smins, "hi")
        .select(explode(array(col("hi"), col("lo"))).as("v"), col("m"))
        .where(col("v") =!= col("m"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .distinct()
        .observe(obsN, count(lit(1)).as("n"))
        .localCheckpoint() // materializes AND collects BOTH observe metrics
      // null sum ⟺ no node has BOTH a smaller and a larger neighbour.
      // That star test is necessary but NOT sufficient: a star forest
      // whose ROOTS are themselves chained (e.g. {(4,1),(4,2),(3,2)} —
      // node 2 has only larger neighbours, node 4 only smaller) passes
      // it while the round still rewires (3,2)→(3,1)… stopping there
      // returned a SPLIT component. The true stop condition is the
      // round fixpoint next == e; the cheap observed star test and the
      // free observed |next| == |e| comparison gate WHEN to pay for the
      // exact set-equality check — candidate rounds are typically just
      // the final one, so the one extra job (except) runs once per
      // call, on a k-row-ish relation.
      val nextCount = graft.core.Observed.long(obsN, "n",
        "connectedComponents").getOrElse(0L)
      converged = graft.core.Observed.long(obs, "nonstar",
        "connectedComponents").fold(true)(_ == 0L) &&
        nextCount == eCount && next.except(e).isEmpty
      e = next
      eCount = nextCount
      i += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge within $maxIter rounds " +
        "(pathological topology) — raise maxIter")
    labelled(e)
  }

  /** 64-bit SimHash per document: each token hash votes ±1 on each bit;
    * the sketch bit is the vote's sign. One explode + one groupBy(id)
    * with 64 conditional sums, then a bit-assembly fold — all codegen.
    * (A shuffle-free variant via `aggregate` higher-order functions was
    * measured ~3× slower: HOF lambdas evaluate interpreted, outside
    * whole-stage codegen, and the groupBy's partial aggregation already
    * keeps the shuffle at one 64-column row per document.)
    */
  def simhash(df: DataFrame, idCol: String, textCol: String,
              family: HashFamily = HashFamily.Xx64): DataFrame = {
    val tok = df.select(col(idCol),
        explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .withColumn("h", expr(TextFunctions.hashSql("tok", family)))
    val votes = (0 until 64).map { k =>
      sum(when(expr(s"shiftright(h, $k) & 1") === 1, 1).otherwise(-1)).as(s"_v$k")
    }
    val assembled = (0 until 64)
      .map(k => expr(s"IF(_v$k > 0, shiftleft(CAST(1 AS BIGINT), $k), CAST(0 AS BIGINT))"))
      .reduce(_ bitwiseOR _)
    tok.groupBy(idCol)
      .agg(votes.head, votes.tail: _*)
      .select(col(idCol), assembled.as("simhash"))
  }

  /** SimHash near-duplicates within `maxHamming` bits: band the 64-bit
    * sketch into `maxHamming + 1` chunks — a pair within Hamming
    * distance d can differ in at most d chunks, so with d + 1 chunks it
    * must agree on ≥1 (pigeonhole), and the equi-join on
    * (chunk index, chunk value) finds every such pair without an O(n²)
    * scan. Chunk count is derived from the requested radius; fixed
    * banding would silently lose recall for radii above its guarantee.
    * Narrower chunks (larger radii) admit more candidates — the exact
    * Hamming filter after the join keeps the result correct either way.
    */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3,
                      family: HashFamily = HashFamily.Xx64): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming must be in [0, 64), got $maxHamming")
    val nChunks = maxHamming + 1
    val base = 64 / nChunks
    val rem = 64 % nChunks // first `rem` chunks are one bit wider
    val chunkCols = (0 until nChunks).map { j =>
      val off = j * base + math.min(j, rem)
      val width = base + (if (j < rem) 1 else 0)
      val mask = if (width == 64) -1L else (1L << width) - 1L
      struct(lit(j).as("chunk_i"),
        expr(s"shiftright(simhash, $off)").bitwiseAND(lit(mask)).as("chunk_v"))
    }
    val sk = simhash(df, idCol, textCol, family)
    val chunks = sk
      .select(col(idCol), col("simhash"), explode(array(chunkCols: _*)).as("c"))
      .select(col(idCol), col("simhash"), col("c.chunk_i"), col("c.chunk_v"))
    // Hamming filter BEFORE the pair-dedup: bit_count on the joined row
    // is codegen'd and shuffle-free, so the distinct() only has to
    // shuffle the surviving near-dup pairs, not every candidate the
    // narrow chunks admit (at radius 12 the candidate set is ~1000× the
    // result set).
    chunks.toDF("doc_a", "sim_a", "chunk_i", "chunk_v")
      .join(chunks.toDF("doc_b", "sim_b", "chunk_i", "chunk_v"), Seq("chunk_i", "chunk_v"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", expr("bit_count(sim_a ^ sim_b)"))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
      .distinct()
  }

  /** Top boilerplate fragments: the most-frequent `width`-code-point
    * windows corpus-wide, with a deterministic representative text
    * (from the lowest (id, pos) occurrence). The interpretability
    * companion to [[repeatedSpans]] — "what IS the boilerplate?" —
    * and the candidate list for template-stripping rules. The gram
    * aggregation carries ONLY (hash, id, pos) — never text; fragments
    * are extracted afterwards for just the `topK` winners via a
    * broadcast join of their representative (id, pos) coordinates back
    * to the documents (at 100 TB, shuffling a snippet per gram
    * occurrence would dwarf the hash aggregation itself). Ties on the
    * occurrence count break on the gram hash — deterministic on any
    * engine or layout.
    */
  def topBoilerplate(df: DataFrame, idCol: String, textCol: String,
                     width: Int = 30, topK: Int = 10): DataFrame = {
    require(width > 0, s"window width must be positive, got $width")
    val grams = df
      .select(col(idCol),
        posexplode(graft.functions.HashFunctions.polyWindowHash(
          TextFunctions.normalized(col(textCol)), width)).as(Seq("pos", "gh")))
    val top = grams.groupBy("gh")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col(idCol)).as("n_docs"),
        min(struct(col(idCol).as("_id"), col("pos").as("_pos"))).as("_rep"))
      .filter(col("n_occurrences") > 1)
      .orderBy(desc("n_occurrences"), asc("gh"))
      .limit(topK)
    df.select(col(idCol).as("_id"),
        TextFunctions.normalized(col(textCol)).as("_nt"))
      .join(broadcast(top), col("_id") === col("_rep._id"))
      .select(
        expr(s"substring(_nt, _rep._pos + 1, $width)").as("fragment"),
        col("n_occurrences"), col("n_docs"))
      .orderBy(desc("n_occurrences"), asc("fragment"))
  }

  /** Corpus-wide repeated-substring spans — substring-level dedup in the
    * style of "Deduplicating Training Data Makes Language Models Better"
    * (Lee et al. 2022, public arXiv:2107.06499): find every maximal run
    * of characters whose `width`-code-point windows all recur elsewhere
    * in the corpus (including elsewhere in the same document), the spans
    * a substring-dedup pass would cut. The reference has nothing at this
    * granularity (its dedup is whole-row, `ingestion_pipeline.py:62`);
    * document-level dedup misses boilerplate shared across otherwise
    * distinct pages, which is the dominant duplication mode in web-scale
    * training corpora.
    *
    * Plan shape, all hash operations: one codegen'd O(len) Rabin–Karp
    * pass per document ([[graft.functions.PolyWindowHash]]) → posexplode
    * to (doc, pos, gram-hash) → groupBy(hash) occurrence count (map-side
    * partial agg collapses within-partition repeats) → hash join of
    * positions against the repeated hashes → per-document gaps-and-
    * islands (window partitioned BY DOCUMENT, bounded by doc length — no
    * global window). A true suffix-array pass would find repeats of any
    * length; fixed-width windows are the standard scalable surrogate
    * (repeats ≥ width are found exactly; shorter ones intentionally
    * ignored). Collisions of the 1e9+7 poly hash can merge unrelated
    * grams (~n²/2p birthday rate); at the design point widen to a 128-bit
    * double hash — kept single here so the DuckDB oracle reproduces the
    * arithmetic exactly.
    *
    * Returns one row per repeated span: (id, span_start, span_len) in
    * code-point offsets of the *normalized* text.
    */
  def repeatedSpans(df: DataFrame, idCol: String, textCol: String,
                    width: Int = 30, minOccurs: Long = 2): DataFrame = {
    require(width > 0, s"window width must be positive, got $width")
    val grams = df
      .select(col(idCol),
        posexplode(graft.functions.HashFunctions.polyWindowHash(
          TextFunctions.normalized(col(textCol)), width)).as(Seq("pos", "gh")))
    // Occurrence count as a window over the gram hash: ONE shuffle on
    // gh and one derivation of the gram relation. (The groupBy +
    // join-back formulation derives `grams` twice — the O(len) hash
    // pass re-runs on the probe side — and shuffles the same rows into
    // both the aggregation and the join.) Partitions are per-hash —
    // tiny — so the window never funnels.
    val byGram = Window.partitionBy("gh")
    val hits = grams
      .withColumn("_occ", count(lit(1)).over(byGram))
      .filter(col("_occ") >= minOccurs)
      .select(col(idCol), col("pos"))
    // Gaps-and-islands on CHARACTER coverage: window starts ≤ width
    // apart cover overlapping/adjacent char ranges and merge into one
    // span; a larger step leaves uncovered chars and starts a new one.
    // Spans are therefore disjoint, and Σ span_len is the exact count
    // of characters inside repeated windows.
    val byDoc = Window.partitionBy(idCol).orderBy("pos")
    hits
      .withColumn("_new", when(
        col("pos") - lag(col("pos"), 1).over(byDoc) <= width, 0).otherwise(1))
      .withColumn("_island", sum(col("_new")).over(byDoc))
      .groupBy(col(idCol), col("_island"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) - min(col("pos")) + width).cast("long").as("span_len"))
      .drop("_island")
  }
}
