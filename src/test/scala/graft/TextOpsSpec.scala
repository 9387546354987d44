package graft

import graft.textops.{Curation, Dedup, HashFamily, Similarity, SyntheticCorpus, TextAnalysis, TextFunctions}
import graft.core.Tables
import org.apache.spark.sql.functions._

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("exact dedup keeps one survivor per canonical text") {
    val df = Seq(
      (1L, "Hello  World"), (2L, "hello world"), (3L, "other doc"),
      (4L, " HELLO WORLD ")).toDF("doc_id", "text")
    val out = Dedup.dropExactDuplicates(df, "doc_id", "text")
    assert(out.count() === 2)
    // survivor is the lowest id of each group
    assert(out.select("doc_id").as[Long].collect().sorted.toSeq === Seq(1L, 3L))
    val groups = Dedup.exactDuplicateGroups(df, "doc_id", "text").collect()
    assert(groups.length === 1)
    assert(groups.head.getAs[Long]("n_copies") === 3)
    assert(groups.head.getAs[Long]("keep_id") === 1L)
  }

  test("jaccardPairs finds identical and near-identical docs, skips distinct ones") {
    val df = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g h"),          // identical → J = 1.0
      (3L, "a b c d e f g x"),          // near → high J
      (4L, "q r s t u v w z")).toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(df, "doc_id", "text", n = 3, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(pairs.exists { case (a, b, j) => a == 1 && b == 2 && j == 1.0 })
    assert(pairs.exists { case (a, b, _) => a == 1 && b == 3 })
    assert(!pairs.exists { case (a, b, _) => b == 4 || a == 4 })
  }

  test("minhash LSH recall matches exact jaccard pairs on the test corpus") {
    val docs = Tables.documents(spark, sfDir)
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.4)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 64, 16, 0.4)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // verification is exact, so LSH output ⊆ exact; recall should be high
    assert(lsh.subsetOf(exact))
    assert(exact.isEmpty || lsh.size.toDouble / exact.size >= 0.9,
      s"LSH recall ${lsh.size}/${exact.size} below 0.9")
    // the oracle-portable hash family is the same algorithm under a
    // different base hash — same subset/recall contract must hold
    val md5Lsh = Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 64, 16, 0.4,
        family = HashFamily.Md5Portable)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(md5Lsh.subsetOf(exact))
    assert(exact.isEmpty || md5Lsh.size.toDouble / exact.size >= 0.9,
      s"Md5Portable LSH recall ${md5Lsh.size}/${exact.size} below 0.9")
  }

  test("editVerifiedPairs separates in-place edits from reorderings Jaccard can't see") {
    val df = Seq(
      (1L, "a b c d e f g h i j k l"),
      (2L, "a b c d e f g h i j k x"),  // one word swapped → high edit sim
      (3L, "l k j i h g f e d c b a"),  // same vocabulary reversed
      (4L, "a b c d e f g h i j k l"))  // identical → sim 1.0
      .toDF("doc_id", "text")
    // unigram shingles so every pair above is an LSH candidate — the
    // spec isolates the VERIFY tier's decisions
    val pairs = Dedup.editVerifiedPairs(df, "doc_id", "text", shingleN = 1,
        numHashes = 64, bands = 16, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((1L, 4L)) === 1.0)
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) > 0.9)
    // token-set Jaccard calls 1↔3 identical; edit similarity must not
    val jac = Dedup.jaccardPairs(df, "doc_id", "text", n = 1, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(jac.contains((1L, 3L)))
    assert(!pairs.contains((1L, 3L)))
    // both hash families agree on the surviving pair set (candidates
    // may differ; the exact verify decides)
    val md5 = Dedup.editVerifiedPairs(df, "doc_id", "text", shingleN = 1,
        numHashes = 64, bands = 16, threshold = 0.5,
        family = HashFamily.Md5Portable)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(md5 === pairs)
  }

  test("jensenShannon: 0 for identical slices, 1 bit for disjoint vocabularies") {
    val df = Seq(
      ("p", "alpha beta gamma alpha"),
      ("q", "alpha beta gamma alpha"),   // identical distribution → 0
      ("r", "delta epsilon zeta eta"))   // disjoint from p → 1 bit
      .toDF("slice", "text")
    val same = TextAnalysis.jensenShannon(df, "slice", "text", "p", "q")
      .collect().head
    assert(same.getDouble(0) === 0.0)
    assert(same.getLong(1) === 4L && same.getLong(2) === 4L)
    val disjoint = TextAnalysis.jensenShannon(df, "slice", "text", "p", "r")
      .collect().head.getDouble(0)
    assert(disjoint === 1.0)  // JSD's upper bound in bits
    // symmetric by construction
    val flipped = TextAnalysis.jensenShannon(df, "slice", "text", "r", "p")
      .collect().head.getDouble(0)
    assert(flipped === disjoint)
  }

  test("topKeywords matches the window formulation; ties break lexicographically") {
    val df = Seq(
      (1L, "alpha alpha beta gamma"),
      (2L, "beta beta beta delta"),
      (3L, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.topKeywords(df, "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      .toSet
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy(desc("tfidf"), asc("term"))
    val expect = TextAnalysis.tfidf(df, "doc_id", "text")
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 2)
      .select("doc_id", "rank", "term", "tfidf")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      .toSet
    assert(got === expect)
    // doc 3: alpha/delta/gamma tie on tfidf (df=2 each) and order
    // lexicographically; beta (in every doc, idf=0) ranks last
    val d3 = TextAnalysis.topKeywords(df, "doc_id", "text", k = 4)
      .filter(col("doc_id") === 3L).orderBy("rank")
      .collect().map(_.getString(2))
    assert(d3.toSeq === Seq("alpha", "delta", "gamma", "beta"))
  }

  test("rrfFuse: rank arithmetic exact, both-list docs beat single-list docs") {
    import graft.textops.Retrieval
    val lex = Seq((1L, 0.9), (2L, 0.8)).toDF("id", "score")
    val dense = Seq((2L, 0.7), (3L, 0.1)).toDF("id", "score")
    val out = Retrieval.rrfFuse(Seq(lex, dense), "id", "score", k = 60)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    def rrf(ranks: Int*): Double =
      math.rint(ranks.map(r => 1.0 / (60 + r)).sum * 1e6) / 1e6
    assert(out(1L) === ((rrf(1), 1L)))       // rank 1 in lex only
    assert(out(2L) === ((rrf(2, 1), 2L)))    // rank 2 lex + rank 1 dense
    assert(out(3L) === ((rrf(2), 1L)))       // rank 2 in dense only
    assert(out(2L)._1 > out(1L)._1)          // fusion rewards agreement
    // ties in score break by id: swap scores to force a tie
    val tied = Seq((5L, 0.5), (4L, 0.5)).toDF("id", "score")
    val t = Retrieval.rrfFuse(Seq(tied), "id", "score")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(t(4L) > t(5L))
  }

  test("hardNegatives excludes self and same-label, ranks by cosine, handles null labels") {
    val data = Seq(
      (0L, Array(1f, 0f, 0f), Option(0)),   // anchor
      (1L, Array(0.99f, 0.1f, 0f), Option(0)),  // same label: excluded
      (2L, Array(0.9f, 0.4f, 0f), Option(1)),   // best negative
      (3L, Array(0.5f, 0.8f, 0f), Option(1)),   // second
      (4L, Array(0f, 0f, 1f), Option(2)),       // orthogonal
      (5L, Array(0.95f, 0.3f, 0f), None))       // null label: counts as negative
      .toDF("vec_id", "embedding", "label")
    val anchors = data.filter($"vec_id" === 0L)
    val out = graft.textops.Similarity
      .hardNegatives(data, "vec_id", "embedding", "label", anchors, k = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(out === Seq((1L, 5L), (2L, 2L), (3L, 3L))) // rank → negative_id
    // brute-force agreement on random vectors (window formulation)
    val rnd = new scala.util.Random(11)
    val big = (0L until 60L).map(i =>
      (i, Array.fill(8)(rnd.nextGaussian().toFloat), Option((i % 4).toInt)))
      .toDF("vec_id", "embedding", "label")
    val anchors2 = big.filter($"vec_id" % 20 === 0)
    val got = graft.textops.Similarity
      .hardNegatives(big, "vec_id", "embedding", "label", anchors2, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    import org.apache.spark.sql.expressions.Window
    val a2 = anchors2.select($"vec_id".as("aid"), $"embedding".as("av"),
      $"label".as("albl"))
    val brute = big.crossJoin(a2)
      .filter($"vec_id" =!= $"aid" && $"label" =!= $"albl")
      .withColumn("cs", round(
        graft.textops.Similarity.cosine($"embedding", $"av"), 6))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"aid").orderBy(desc("cs"), asc("vec_id"))))
      .filter($"rn" <= 4)
      .select($"aid", $"rn".cast("long"), $"vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === brute)
  }

  test("simhash of identical docs is identical; near docs within small hamming") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different words entirely unrelated content here"))
      .toDF("doc_id", "text")
    val sk = Dedup.simhash(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sk(1L) === sk(2L))
    assert(java.lang.Long.bitCount(sk(1L) ^ sk(3L)) > 10)
    // portable family: same contract, and sketches stay in the
    // positive 60-bit range (the property that makes shift/mask
    // semantics engine-identical)
    val pk = Dedup.simhash(df, "doc_id", "text", HashFamily.Md5Portable)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pk(1L) === pk(2L))
    assert(java.lang.Long.bitCount(pk(1L) ^ pk(3L)) > 10)
    assert(pk.values.forall(v => v >= 0 && v < (1L << 60)))
  }

  test("hyperplane-LSH cosine pairs find synthetic near-duplicate vectors") {
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(16)(rnd.nextGaussian().toFloat)
    val base = vec()
    val nearDup = base.map(x => x + 0.01f)      // cosine ≈ 1
    val others = (3L to 30L).map(i => (i, vec().toSeq))
    val df = (Seq((1L, base.toSeq), (2L, nearDup.toSeq)) ++ others)
      .toDF("vec_id", "embedding")
    val pairs = Similarity.cosineNearDupPairs(df, "vec_id", "embedding",
        dim = 16, threshold = 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    // and no false positives: verification is exact
    assert(pairs.forall { case (a, b) => (a, b) == ((1L, 2L)) })
  }

  test("bucketed top pairs agree with brute force within each bucket") {
    val emb = Tables.embeddings(spark, sfDir)
    val bucketed = Similarity.bucketedTopPairs(emb, "vec_id", "embedding", "label", 1)
      .select("bucket", "id_a", "id_b").as[(Int, Long, Long)].collect().toMap2
    val brute = Similarity.cosineAllPairs(
        emb.filter(col("label") === bucketed.keys.head), "vec_id", "embedding", -1.0)
      .orderBy(desc("cos_sim"), asc("id_a"), asc("id_b")).limit(1)
      .select("id_a", "id_b").as[(Long, Long)].collect().head
    assert(bucketed(bucketed.keys.head) === brute)
  }

  implicit class Map2[A, B, C](rows: Array[(A, B, C)]) {
    def toMap2: Map[A, (B, C)] = rows.map(r => r._1 -> (r._2, r._3)).toMap
  }

  test("language id picks the language of the dominant stopword set") {
    val df = Seq(
      (1L, "the cat and the dog of the house"),
      (2L, "el perro y la casa de los gatos"),
      (3L, "xyzzy qwerty asdf zxcv")).toDF("doc_id", "text")
    val out = TextAnalysis.languageId(df, "text")
      .select("doc_id", "predicted_lang").as[(Long, String)].collect().toMap
    assert(out(1L) === "en")
    assert(out(2L) === "es")
    assert(out(3L) === "unknown")
  }

  test("rolling hash is deterministic and order-sensitive") {
    val df = Seq((1L, "abc"), (2L, "abc"), (3L, "cba")).toDF("doc_id", "text")
      .withColumn("norm_text", TextFunctions.normalized(col("text")))
    val h = df.select(col("doc_id"), TextAnalysis.rollingHash("norm_text").as("h"))
      .as[(Long, Long)].collect().toMap
    assert(h(1L) === h(2L))
    assert(h(1L) !== h(3L))
  }

  test("prefix-filtered jaccard equals the full shingle-join on corpus and synthetics") {
    val docs = Tables.documents(spark, sfDir)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b", "jaccard")
        .as[(Long, Long, Double)].collect().toSet
    val full = key(Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.4))
    val pref = key(Dedup.jaccardPairsPrefix(docs, "doc_id", "text", 3, 0.4))
    assert(pref === full)
    // synthetic edge: near-dup pair whose shared shingles could hide in
    // a suffix under a bad (non-global) order
    val syn = Seq(
      (1L, "a b c d e f g h"), (2L, "a b c d e f g x"), (3L, "p q r s t u v w"))
      .toDF("doc_id", "text")
    val fullS = key(Dedup.jaccardPairs(syn, "doc_id", "text", 3, 0.3))
    val prefS = key(Dedup.jaccardPairsPrefix(syn, "doc_id", "text", 3, 0.3))
    assert(prefS === fullS && fullS.nonEmpty)
  }

  test("dropNearDuplicates keeps the min-id survivor of each near-dup cluster") {
    val docs = Seq(
      (1L, "a b c d e f g h", "s1"), (2L, "a b c d e f g x", "s1"),
      (7L, "p q r s t u v w", "s2")).toDF("doc_id", "text", "source")
    // J(1,2) = 5/7 ≥ 0.6 → one cluster {1,2}, survivor 1; doc 7 untouched
    val kept = Curation.dropNearDuplicates(docs, "doc_id", "text", 3, 0.6)
      .select("doc_id").as[Long].collect().sorted
    assert(kept === Array(1L, 7L))
  }

  test("connected components refuses to return partially-propagated labels") {
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, "a", "b", maxIter = 1)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("dropNearDuplicatesBy keeps the highest-priority cluster member, not the min id") {
    val df = Seq(
      (1L, "a b c d e f g h", 0.3),   // cluster {1,2,3}: 2 wins on quality
      (2L, "a b c d e f g h", 0.9),
      (3L, "a b c d e f g x", 0.9),   // tie with 2 → smaller id 2 wins
      (4L, "q r s t u v w z", 0.1))   // singleton survives regardless
      .toDF("doc_id", "text", "q")
    val kept = Curation.dropNearDuplicatesBy(df, "doc_id", "text", "q",
        shingleN = 3, threshold = 0.4)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq === Seq(2L, 4L))
    // the id rule would have kept 1 — the two rules genuinely differ
    val keptById = Curation.dropNearDuplicates(df, "doc_id", "text",
        shingleN = 3, threshold = 0.4)
      .select("doc_id").as[Long].collect().sorted
    assert(keptById.toSeq === Seq(1L, 4L))
    // null priority loses to any scored member
    val withNull = Seq(
      (1L, "a b c d e f g h", Option.empty[Double]),
      (2L, "a b c d e f g h", Some(0.1)))
      .toDF("doc_id", "text", "q")
    val keptNull = Curation.dropNearDuplicatesBy(withNull, "doc_id", "text", "q",
        shingleN = 3, threshold = 0.4)
      .select("doc_id").as[Long].collect()
    assert(keptNull.toSeq === Seq(2L))
  }

  test("dropNearDuplicates returns the corpus unchanged when no near-dups exist") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon", "s1"),
      (2L, "one two three four five six", "s1"),
      (3L, "cats dogs birds fish mice", "s2")).toDF("doc_id", "text", "source")
    val kept = Curation.dropNearDuplicates(docs, "doc_id", "text", 3, 0.9)
      .select("doc_id").as[Long].collect().sorted
    assert(kept === Array(1L, 2L, 3L))
  }

  test("connected components handles string node ids and empty edge lists") {
    val edges = Seq(("a", "b"), ("b", "c")).toDF("x", "y")
    val cc = Dedup.connectedComponents(edges, "x", "y")
      .as[(String, String)].collect().toMap
    assert(cc === Map("a" -> "a", "b" -> "a", "c" -> "a"))
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Dedup.connectedComponents(empty, "a", "b").count() === 0L)
  }

  // deterministic adversarial corpus: a 12-token boilerplate sentence
  // opens EVERY document; the remaining tokens are Zipf-distributed
  // (log-uniform rank — heavy head, long tail); ~5% of docs are
  // near-dup twins of their predecessor. The regime the
  // jaccardPairsAuto cost model calls "clustered duplication".
  private def zipfBoilerplateDocs(n: Int) = {
    val boiler = "standard corporate disclosure header text appearing " +
      "verbatim at the top of every document"
    spark.range(n.toLong)
      .withColumn("is_twin",
        col("id") > 0 && pmod(xxhash64(col("id"), lit(7)), lit(100)) < 5)
      .withColumn("base",
        when(col("is_twin"), col("id") - 1).otherwise(col("id")))
      .withColumn("zipf", expr(
        s"""transform(sequence(0, 39), p ->
           |  CASE WHEN is_twin AND pmod(xxhash64(id, p, 13), 100) < 10
           |    THEN concat('z', CAST(pow($n.0, pmod(xxhash64(id, p, 17), 1000) / 1000.0) AS INT))
           |    ELSE concat('z', CAST(pow($n.0, pmod(xxhash64(base, p), 1000) / 1000.0) AS INT)) END)"""
        .stripMargin))
      .select(col("id").as("doc_id"),
        concat(lit(boiler), lit(" "), array_join(col("zipf"), " ")).as("text"))
  }

  test("adversarial skew: LSH band buckets stay bounded under universal boilerplate") {
    // one shingle set shared by every doc must NOT collapse LSH into
    // one giant bucket: a band key needs r=4 consecutive minhashes to
    // agree, and ~10 shared shingles among ~45 move that probability to
    // ~(10/45)^4 — buckets stay pair-sized, the property that keeps the
    // candidate join subquadratic at 100 TB even on template-heavy crawls
    val docs = zipfBoilerplateDocs(300)
    val buckets = Dedup.bandSignatures(docs, "doc_id", "text",
        shingleN = 3, numHashes = 64, bands = 16)
      .groupBy("band", "key").count()
    val maxBucket = buckets.agg(max("count")).as[Long].collect().head
    assert(maxBucket <= 10,
      s"boilerplate corpus produced an LSH bucket of $maxBucket docs")
    // and the sketch still finds the true twins (exact-verified pairs
    // are a subset of jaccardPairs by construction; recall must hold)
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 64, 16, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    assert(lsh.subsetOf(exact))
    assert(lsh.size >= (exact.size * 0.8).toInt,
      s"LSH recall collapsed under boilerplate: ${lsh.size}/${exact.size}")
  }

  test("adversarial skew: jaccardPairsAuto picks the survivable exact variant at both poles") {
    // Universal boilerplate is DIFFUSE sharing for the exact tier:
    // every pair shares the same ~10 shingles, so distinct candidates
    // ≈ all pairs and a prefix candidate carries two doc-sized arrays
    // through the verify joins — the blow-up regime for the prefix
    // variant. The sampled chooser must refuse it and take the full
    // join's skinny count rows.
    val zipf = zipfBoilerplateDocs(300)
    assert(!Dedup.preferPrefixFilter(zipf, "doc_id", "text", 3, 0.5,
      sampleFraction = 0.5))
    // CLUSTERED duplication (template corpus: whole documents are
    // near-variants, duplicate pairs share ~all their shingles) is the
    // opposite pole: candidates dedup far below Σ bucket² and the
    // chooser must flip to the prefix filter — the crossover measured
    // at 12k docs (SCALING.md "Measured crossover"), asserted here at
    // spec scale on the same generator.
    val dense = SyntheticCorpus.templateCorpus(spark,
      nTemplates = 40, variants = 8, docLen = 60)
    assert(Dedup.preferPrefixFilter(dense, "doc_id", "text", 3, 0.5,
      sampleFraction = 0.5))
    // exactness under the adversarial regime: both variants agree
    val full = Dedup.jaccardPairs(zipf, "doc_id", "text", 3, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val pref = Dedup.jaccardPairsPrefix(zipf, "doc_id", "text", 3, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(full === pref)
  }

  test("star-contraction CC ≡ min-label propagation on a mixed random graph") {
    // several components of assorted shapes: a chain, a clique, a star,
    // isolated pairs, plus a hash-derived pseudo-random tangle
    val rnd = (0 until 60).map { i =>
      val a = (i * 2654435761L) % 40
      val b = (i * 40503L + 7) % 40
      (100L + a, 100L + b)
    }
    val edges = (Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), // chain
      (10L, 11L), (10L, 12L), (11L, 12L),                    // clique
      (20L, 21L), (20L, 22L), (20L, 23L),                    // star
      (30L, 31L)) ++ rnd).toDF("a", "b")
    val star = Dedup.connectedComponents(edges, "a", "b")
      .as[(Long, Long)].collect().toMap
    val prop = Dedup.connectedComponentsPropagate(edges, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(star === prop)
  }

  test("star-contraction CC does not stop on a star forest with chained roots") {
    // regression: {(1,4),(2,4),(2,3)} canonicalizes to a star forest in
    // which NO node has both a smaller and a larger neighbour (2 has
    // only larger, 4 only smaller), so the observed star counter
    // nominates round 1 as final — but the round still rewires
    // (3,2)→(3,1), and stopping early returned {3→2} next to {1,2,4→1}:
    // one component split in two. The fixpoint check must catch it.
    val edges = Seq((1L, 4L), (2L, 4L), (2L, 3L)).toDF("a", "b")
    val cc = Dedup.connectedComponents(edges, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(cc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    val prop = Dedup.connectedComponentsPropagate(edges, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(cc === prop)
  }

  test("star-contraction CC converges in O(log n) rounds on a chain (propagation needs O(n))") {
    // a 300-node chain: diameter 299. The propagation form cannot finish
    // in 12 rounds; star contraction converges comfortably within them —
    // the structural guarantee that makes chain-shaped near-dup graphs
    // safe at scale.
    val chain = (0L until 299L).map(i => (i, i + 1)).toDF("a", "b")
    intercept[IllegalStateException] {
      Dedup.connectedComponentsPropagate(chain, "a", "b", maxIter = 12)
    }
    val cc = Dedup.connectedComponents(chain, "a", "b", maxIter = 12)
      .as[(Long, Long)].collect()
    assert(cc.length === 300)
    assert(cc.forall(_._2 === 0L)) // one component, min label 0
  }

  test("dropNearDuplicates yields the same survivors with either pair generator") {
    val docs = Tables.documents(spark, sfDir)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").as[Long].collect().toSet
    val full = ids(Curation.dropNearDuplicates(docs, "doc_id", "text", 3, 0.5,
      pairStrategy = "full"))
    val pref = ids(Curation.dropNearDuplicates(docs, "doc_id", "text", 3, 0.5,
      pairStrategy = "prefix"))
    assert(full === pref)
    // and the data-driven default returns the same survivors
    assert(ids(Curation.dropNearDuplicates(docs, "doc_id", "text", 3, 0.5)) === full)
  }

  test("decontamination removes docs overlapping the benchmark, keeps the rest") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // = benchmark: all shingles shared
      (2L, "the quick brown fox runs under a red fence"),  // shares 'the quick brown', 'quick brown fox'
      (3L, "completely unrelated words about other topics entirely"),
      (4L, "too short")).toDF("doc_id", "text")            // < 3 tokens: no shingles
    val bench = Seq("the quick brown fox jumps over the lazy dog").toDF("text")
    val kept2 = Dedup.decontaminate(corpus, "doc_id", "text", bench, "text",
      n = 3, minShared = 2L).select("doc_id").as[Long].collect().sorted
    assert(kept2.toSeq === Seq(3L, 4L))
    // a stricter threshold lets the partial-overlap doc through
    val kept3 = Dedup.decontaminate(corpus, "doc_id", "text", bench, "text",
      n = 3, minShared = 3L).select("doc_id").as[Long].collect().sorted
    assert(kept3.toSeq === Seq(2L, 3L, 4L))
  }

  test("noveltyScores grades seen/unseen shingle overlap, skips shingle-less docs") {
    val ref = Seq((100L, "a b c d e")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "a b c d e"),      // all 3 shingles seen → 0.0
      (2L, "x y z w v"),      // disjoint → 1.0
      (3L, "a b c q r s"),    // 1 of 4 seen → 0.75
      (4L, "a b"))            // < 3 tokens: no shingles, absent
      .toDF("doc_id", "text")
    val out = Dedup.noveltyScores(corpus, "doc_id", "text", ref, "text", n = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(out === Map(
      1L -> ((3L, 0L, 0.0)), 2L -> ((3L, 3L, 1.0)), 3L -> ((4L, 3L, 0.75))))
    // portable family computes the same grades
    val md5 = Dedup.noveltyScores(corpus, "doc_id", "text", ref, "text", n = 3,
        family = HashFamily.Md5Portable)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(md5 === out)
  }

  test("repetition stats quantify degenerate and healthy documents") {
    val df = Seq(
      (1L, "spam spam spam spam"),
      (2L, "four fresh distinct words"),
      (3L, "one")).toDF("doc_id", "text") // single token: excluded
    val out = TextAnalysis.repetitionStats(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(out(1L) === ((0.75, 1.0, 4.0)))  // 1 distinct of 4; 'spam spam' x3 of 3
    assert(out(2L)._1 === 0.0)
    assert(out(2L)._2 === (1.0 / 3 * 1000000).round / 1000000.0)
    assert(!out.contains(3L))
  }

  test("PII redaction replaces emails and phones and counts the matches") {
    val df = Seq(
      (1L, "reach me at jane.doe+x@corp.example.org or 555-123-4567 today"),
      (2L, "no pii here")).toDF("doc_id", "text")
    val out = TextAnalysis.redactPii(df, "text")
      .select("doc_id", "n_emails", "n_phones", "redacted_text")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getString(3)))
      .toMap
    assert(out(1L) === ((1, 1, "reach me at <EMAIL> or <PHONE> today")))
    assert(out(2L) === ((0, 0, "no pii here")))
  }

  test("pair-generator auto-choice follows the corpus's sharing structure") {
    // boilerplate-heavy template corpus: clustered duplication, dense
    // buckets — candidates dedup far below the sum-of-bucket-squares
    // multiplicity, so the prefix filter is the predicted winner
    val dense = SyntheticCorpus.templateCorpus(spark, nTemplates = 20,
      variants = 10, docLen = 100)
    assert(Dedup.preferPrefixFilter(dense, "doc_id", "text", 3, 0.6,
      sampleFraction = 0.5))
    // short high-entropy corpus: diffuse sharing — full join wins
    val docs = Tables.documents(spark, sfDir)
    assert(!Dedup.preferPrefixFilter(docs, "doc_id", "text", 3, 0.4,
      sampleFraction = 0.5))
  }

  test("connected components closes near-dup chains transitively") {
    // two components: a 3-chain (1-2, 2-3: 1 and 3 are NOT directly
    // linked) and a pair (10-11); labels = min id per component
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val cc = Dedup.connectedComponents(edges, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(cc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("IVF assignment picks the nearest centroid; centroids map to themselves") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f)), (1L, Array(0f, 1f, 0f)),
      (10L, Array(0.9f, 0.1f, 0f)), (11L, Array(0.1f, 0.95f, 0f)))
      .toDF("id", "vec")
    val cent = vecs.filter($"id" < 2).select($"id".as("b"), $"vec".as("cv"))
    val out = Similarity.assignBuckets(vecs, "id", "vec", cent, "b", "cv")
    val buckets = out.select("id", "bucket").as[(Long, Long)].collect().toMap
    assert(buckets === Map(0L -> 0L, 1L -> 1L, 10L -> 0L, 11L -> 1L))
    // a centroid's own assignment has cosine 1
    val self = out.filter($"id" === 0L).select("cos_sim").as[Double].collect().head
    assert(self === 1.0)
  }

  test("k-means trainer pulls centroids toward the true cluster directions") {
    // two tight angular clusters around the x- and y-axes
    val rnd = new scala.util.Random(11)
    def around(base: Array[Float]) =
      base.map(x => x + (rnd.nextGaussian() * 0.05).toFloat)
    val xs = (0L to 9L).map(i => (i, around(Array(1f, 0f, 0f)).toSeq))
    val ys = (10L to 19L).map(i => (i, around(Array(0f, 1f, 0f)).toSeq))
    val df = (xs ++ ys).toDF("id", "vec")
    // seeds = ids 0 and 1: BOTH start inside the x-cluster; Lloyd must
    // migrate one of them to the y-cluster for this to pass.
    val cent = Similarity.trainCentroids(df, "id", "vec", k = 2, iters = 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    assert(cent.keySet === Set(0L, 1L))
    def dir(v: Array[Double]) = v.indexOf(v.map(math.abs).max)
    assert(cent.values.map(dir).toSet === Set(0, 1)) // one centroid per axis
    // and the trained assignment separates the clusters exactly
    val centDf = Similarity.trainCentroids(df, "id", "vec", k = 2, iters = 4)
    val assigned = Similarity.assignBuckets(df, "id", "vec", centDf,
        "bucket", "centroid")
      .select("id", "bucket").as[(Long, Long)].collect()
    val byBucket = assigned.groupBy(_._2).map { case (b, rows) =>
      b -> rows.map(_._1).toSet
    }
    assert(byBucket.values.toSet === Set((0L to 9L).toSet, (10L to 19L).toSet))
  }

  test("k-means with zero iterations returns the k lowest-id seed vectors") {
    val df = Seq((3L, Seq(1f, 2f)), (1L, Seq(3f, 4f)), (2L, Seq(5f, 6f)))
      .toDF("id", "vec")
    val cent = Similarity.trainCentroids(df, "id", "vec", k = 2, iters = 0)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(cent === Map(1L -> Seq(3.0, 4.0), 2L -> Seq(5.0, 6.0)))
  }

  test("k-means keeps the previous centroid for a bucket that attracts nothing") {
    // seeds 0 and 1 are IDENTICAL vectors: every point ties on cosine and
    // the struct-MAX tie-break sends all of them to bucket 1, leaving
    // bucket 0 empty — the Lloyd fallback must retain its seed centroid.
    val df = Seq((0L, Seq(1f, 0f)), (1L, Seq(1f, 0f)), (2L, Seq(0.9f, 0.1f)))
      .toDF("id", "vec")
    val cent = Similarity.trainCentroids(df, "id", "vec", k = 2, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(cent(0L) === Seq(1.0, 0.0)) // untouched seed
    assert(cent(1L)(1) > 0.0)          // mean of all three pulled off-axis
  }

  test("PQ encodes per-sub-space nearest codes and ADC ranks by summed table entries") {
    // dim 4, m = 2 sub-spaces, k = 2 codes; sub-space patterns [1,0] and
    // [0,1] make every distance exact integer math.
    val df = Seq(
      (0L, Seq(1f, 0f, 0f, 1f)),
      (1L, Seq(0f, 1f, 1f, 0f)),
      (2L, Seq(1f, 0f, 1f, 0f)),
      (3L, Seq(0f, 1f, 0f, 1f))).toDF("id", "vec")
    val cb = Similarity.pqTrain(df, "id", "vec", dim = 4, m = 2, k = 2, iters = 1)
    // codebooks reproduce the two sub-space patterns, stable under Lloyd
    val cents = cb.collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getSeq[Double](2)).toMap
    assert(cents === Map(
      (0, 0L) -> Seq(1.0, 0.0), (0, 1L) -> Seq(0.0, 1.0),
      (1, 0L) -> Seq(0.0, 1.0), (1, 1L) -> Seq(1.0, 0.0)))
    val enc = Similarity.pqEncode(df, "id", "vec", cb, dim = 4, m = 2)
    val codes = enc.collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(codes === Map(
      (0L, 0) -> 0L, (0L, 1) -> 0L, (1L, 0) -> 1L, (1L, 1) -> 1L,
      (2L, 0) -> 0L, (2L, 1) -> 1L, (3L, 0) -> 1L, (3L, 1) -> 0L))
    // ADC against v0's own vector: v0 at distance 0, the two
    // half-matching vectors at 2, the opposite one at 4
    val q = df.filter(col("id") === 0).select(col("vec").as("_qv"))
    val hits = Similarity.pqSearch(enc, "id", cb, q, "_qv",
        dim = 4, m = 2, topK = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(hits === Seq((0L, 0.0), (2L, 2.0), (3L, 2.0), (1L, 4.0)))
  }

  test("multi-probe IVF recall dominates single-probe against exact cosine") {
    val emb = Tables.embeddings(spark, sfDir)
    val cent = Similarity.trainCentroids(emb, "vec_id", "embedding", k = 4, iters = 1)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("_qv"))
    val exact = Similarity.cosineTopKAgainst(emb, "vec_id", "embedding",
        q, "_qv", k = 10)
      .select("vec_id").as[Long].collect().toSet
    def hits(nProbe: Int) = Similarity.searchIvfMultiProbe(emb, "vec_id",
        "embedding", cent, "bucket", "centroid", q, "_qv", nProbe, topK = 10)
      .select("vec_id").as[Long].collect().toSet
    val one = (hits(1) & exact).size
    val two = (hits(2) & exact).size
    val all = (hits(4) & exact).size
    assert(one <= two && two <= all) // recall is monotone in probes
    assert(all === 10) // probing every bucket IS the exact search
  }

  test("PQ re-rank recall dominates raw ADC order at the same codebook") {
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("_qv"))
    // exact cosine top-10 — the re-rank must reproduce any of these it
    // shortlists, in exact order
    val exact = graft.operators.Joins.withScalar(emb, q)
      .select(col("vec_id"),
        round(Similarity.cosine(col("embedding"), col("_qv")), 6).as("cs"))
      .orderBy(desc("cs"), asc("vec_id")).limit(10)
      .collect().map(_.getLong(0))
    val cb = Similarity.pqTrain(emb, "vec_id", "embedding", 64, 4, 4, 1)
    val enc = Similarity.pqEncode(emb, "vec_id", "embedding", cb, 64, 4)
    val raw = Similarity.pqSearch(enc, "vec_id", cb, q, "_qv", 64, 4, 10)
      .collect().map(_.getLong(0))
    val refined = Similarity.pqSearchRefined(enc, "vec_id", cb, emb,
        "embedding", q, "_qv", 64, 4, shortlist = 50, topK = 10)
      .collect().map(_.getLong(0))
    val exactSet = exact.toSet
    assert(refined.count(exactSet) >= raw.count(exactSet),
      s"re-rank recall ${refined.count(exactSet)} < raw ${raw.count(exactSet)}")
    // survivors appear in the exact ranking's relative order
    val pos = exact.zipWithIndex.toMap
    val surv = refined.filter(exactSet)
    assert(surv === surv.sortBy(pos), "re-ranked survivors out of exact order")
    // a full-corpus shortlist IS the exact answer
    val full = Similarity.pqSearchRefined(enc, "vec_id", cb, emb,
        "embedding", q, "_qv", 64, 4, shortlist = 500, topK = 10)
      .collect().map(_.getLong(0))
    assert(full.toSeq === exact.toSeq)
  }

  test("PQ recall@10 improves with codebook resolution") {
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("_qv"))
    val exact = graft.operators.Joins.withScalar(
        emb.select(col("vec_id"),
          expr("transform(embedding, v -> CAST(v AS DOUBLE))").as("_v")),
        q.select(expr("transform(_qv, v -> CAST(v AS DOUBLE))").as("_qd")))
      .select(col("vec_id"),
        round(Similarity.dot(col("_v"), col("_v"))
          + Similarity.dot(col("_qd"), col("_qd"))
          - lit(2.0) * Similarity.dot(col("_v"), col("_qd")), 6).as("_d2"))
      .orderBy(asc("_d2"), asc("vec_id")).limit(10).select("vec_id")
    def recall(m: Int, k: Int): Long = {
      val cb = Similarity.pqTrain(emb, "vec_id", "embedding", 64, m, k, 1)
      val enc = Similarity.pqEncode(emb, "vec_id", "embedding", cb, 64, m)
      Similarity.pqSearch(enc, "vec_id", cb, q, "_qv", 64, m, 10)
        .select("vec_id").join(exact, "vec_id").count()
    }
    val coarse = recall(4, 4)
    val fine = recall(16, 64)
    assert(fine > coarse, s"finer codebook should beat coarser: $fine vs $coarse")
    assert(fine >= 3, s"recall@10 with m=16,k=64 unexpectedly low: $fine")
  }

  test("PQ self-retrieval on the corpus: the query's own vector is in the ADC top set") {
    val emb = Tables.embeddings(spark, sfDir)
    val cb = Similarity.pqTrain(emb, "vec_id", "embedding",
      dim = 64, m = 4, k = 4, iters = 1)
    val enc = Similarity.pqEncode(emb, "vec_id", "embedding", cb, dim = 64, m = 4)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("_qv"))
    val top = Similarity.pqSearch(enc, "vec_id", cb, q, "_qv",
        dim = 64, m = 4, topK = 10)
      .select("vec_id").as[Long].collect().toSet
    assert(top.contains(0L))
  }

  test("semantic dedup drops lower-id-dominated near-dups within a cluster only") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f)),        // cluster 0, lowest id — survives
      (1L, Array(0.99f, 0.01f, 0f)),  // ~dup of 0 → dropped
      (2L, Array(0.6f, 0.4f, 0f)),    // cluster 0 but cos(0,2)≈0.83 < 0.9 — survives
      (10L, Array(0f, 1f, 0f)),       // cluster 1, lowest id — survives
      (11L, Array(0.01f, 0.99f, 0f)), // ~dup of 10 → dropped
      (12L, Array(0f, 0.7f, 0.7f)))   // cos(10,12)≈0.71 < 0.9 — survives
      .toDF("id", "vec")
    val cent = Seq((0L, Array(1f, 0f, 0f)), (1L, Array(0f, 1f, 0f)))
      .toDF("b", "cv")
    val out = Similarity.semanticDedup(vecs, "id", "vec", cent, "b", "cv",
        threshold = 0.9)
      .select("id", "bucket").as[(Long, Long)].collect().toMap
    assert(out === Map(0L -> 0L, 2L -> 0L, 10L -> 1L, 12L -> 1L))
  }

  test("bm25 ranks by term frequency and rewards rare terms over common ones") {
    val df = Seq(
      (1L, "x x x pad pad"),            // tf(x)=3
      (2L, "x pad pad pad pad"),        // tf(x)=1, same length
      (3L, "rare common pad pad pad"),  // the only 'rare' doc
      (4L, "common common pad pad pad") // 'common' is everywhere
      ).toDF("doc_id", "text")
    val byTf = TextAnalysis.bm25(df, "doc_id", "text", Seq("x"), topK = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(byTf(1L) > byTf(2L))
    val common = df.withColumn("text", concat(col("text"), lit(" common")))
    val byIdf = TextAnalysis.bm25(common, "doc_id", "text",
        Seq("rare", "common"), topK = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // doc 3 holds the only 'rare': its idf outweighs doc 4's extra 'common's
    assert(byIdf(3L) > byIdf(4L))
  }

  test("bpeTrain learns the classic merge sequence with deterministic tie-breaks") {
    // Sennrich et al.'s canonical corpus shape: low×5 lower×2 newest×6
    // widest×3. Hand computation: es=9 ties st=9 → 'es' wins on left
    // tie-break; then (es,t)=9; then lo=7 ties ow=7 → 'lo'.
    val docs = Seq(
      (1L, ("low " * 5).trim),
      (2L, ("lower " * 2).trim),
      (3L, ("newest " * 6).trim),
      (4L, ("widest " * 3).trim)).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeTrain(docs, "text", numMerges = 3)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3),
        r.getLong(4)))
      .sortBy(_._1).toSeq
    assert(merges === Seq(
      (1, "e", "s", "es", 9L),
      (2, "es", "t", "est", 9L),
      (3, "l", "o", "lo", 7L)))
  }

  test("encodeBpe applies merges in rank order via the vocab dictionary") {
    val train = Seq(
      (1L, ("low " * 5).trim), (2L, ("lower " * 2).trim),
      (3L, ("newest " * 6).trim), (4L, ("widest " * 3).trim))
      .toDF("doc_id", "text")
    val merges = TextAnalysis.bpeTrain(train, "text", numMerges = 3)
    // merges: (e,s) (es,t) (l,o) — encode a doc containing all 4 words
    val doc = Seq((42L, "low lower newest widest")).toDF("doc_id", "text")
    val enc = TextAnalysis.encodeBpe(doc, "doc_id", "text", merges, numMerges = 3)
      .collect().head.getSeq[String](1)
    assert(enc === Seq("lo", "w", "lo", "w", "e", "r",
      "n", "e", "w", "est", "w", "i", "d", "est"))
  }

  test("bpeTrain merge rewrite is greedy left-to-right on overlapping runs") {
    // 'aaaa' under (a,a): one pass yields (aa)(aa), so the second merge
    // is (aa,aa) — the non-overlapping greedy walk, not a cascade.
    val docs = Seq((1L, "aaaa aaaa")).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeTrain(docs, "text", numMerges = 2)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(4)))
      .sortBy(_._1).toSeq
    assert(merges === Seq((1, "a", "a", 6L), (2, "aa", "aa", 2L)))
  }

  test("clusterSafeSplit keeps near-duplicate chains on one side of the boundary") {
    // A~B~C chain (A≁C directly) + two unrelated singletons
    val df = Seq(
      (10L, "a b c d e f g h i j"),
      (11L, "a b c d e f g h i x"),   // ~dup of 10
      (12L, "a b c d e f g x i x"),   // ~dup of 11, not of 10 at 0.5
      (20L, "q r s t u v w x y z"),
      (21L, "m n o p q1 r1 s1 t1 u1 v1")).toDF("doc_id", "text")
    val out = Curation.clusterSafeSplit(df, "doc_id", "text",
        shingleN = 3, threshold = 0.3, testPct = 50)
      .select("doc_id", "split_key", "split")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    // the whole chain shares the min-id key and therefore one side
    assert(out(10L)._1 === 10L && out(11L)._1 === 10L && out(12L)._1 === 10L)
    assert(Set(out(10L)._2, out(11L)._2, out(12L)._2).size === 1)
    // singletons key on themselves
    assert(out(20L)._1 === 20L && out(21L)._1 === 21L)
  }

  test("poly window hashes equal the whole-string poly hash of each window") {
    val t = "the quick brown fox jumps over the lazy dog"
    val w = 7
    val windows = t.sliding(w).toSeq
    val viaWindow = Seq(t).toDF("t")
      .select(explode(graft.functions.HashFunctions.polyWindowHash(col("t"), w)).as("h"))
      .as[Long].collect().toSeq
    val viaWhole = windows.toDF("s")
      .select(graft.functions.HashFunctions.polyHash(col("s")).as("h"))
      .as[Long].collect().toSeq
    assert(viaWindow === viaWhole)
    // strings shorter than the window hash to an empty array, not null
    val short = Seq("ab").toDF("t")
      .select(size(graft.functions.HashFunctions.polyWindowHash(col("t"), 7)))
      .as[Int].collect().head
    assert(short === 0)
  }

  test("repeatedSpans finds shared boilerplate, merges overlaps, skips unique docs") {
    val boiler = "subscribe to our newsletter today for updates" // 45 chars
    val df = Seq(
      (1L, s"unique alpha content one. $boiler"),
      (2L, s"$boiler totally different tail text here two."),
      (3L, "completely unrelated document body with no repeats at all here."))
      .toDF("doc_id", "text")
    val spans = Dedup.repeatedSpans(df, "doc_id", "text", width = 30)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // doc 3 has no repeated windows at all
    assert(spans.map(_._1).toSet === Set(1L, 2L))
    // the shared region is recovered exactly: doc 2 hosts it as a prefix,
    // doc 1 at offset 26 ("unique alpha content one. ".length)
    assert(spans.contains((2L, 0L, boiler.length.toLong)))
    assert(spans.contains((1L, 26L, boiler.length.toLong)))
  }

  test("topBoilerplate surfaces the shared fragment with occurrence counts") {
    val boiler = "subscribe to our newsletter today please" // 40 chars
    val df = Seq(
      (1L, s"first unique body text. $boiler"),
      (2L, s"$boiler second unique tail."),
      (3L, s"third also carries it: $boiler"),
      (4L, "nothing shared in this one at all, purely unique words."))
      .toDF("doc_id", "text")
    val top = Dedup.topBoilerplate(df, "doc_id", "text", width = 30, topK = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // every window inside the 40-char boilerplate occurs in 3 docs;
    // the top fragment is one of them, with representative text intact
    assert(top.head._2 === 3L && top.head._3 === 3L)
    assert(boiler.contains(top.head._1) || top.head._1.length == 30)
    assert(boiler.sliding(30).contains(top.head._1))
  }

  test("repeatedSpans counts within-document repeats toward the occurrence bound") {
    val chunk = "this exact sentence repeats twice inside one document"
    val df = Seq(
      (1L, s"$chunk and then later on $chunk"),
      (2L, "some other entirely unrelated filler body text here."))
      .toDF("doc_id", "text")
    val spans = Dedup.repeatedSpans(df, "doc_id", "text", width = 30)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(spans.nonEmpty && spans.forall(_._1 == 1L))
    // both occurrences of the chunk are covered by spans
    assert(spans.exists(_._2 == 0L))
    assert(spans.map(s => s._2 + s._3).max >= chunk.length * 2 + " and then later on ".length)
  }

  test("gramMatrix is symmetric, layout-invariant, and equals the hand sum") {
    val df = Seq(
      (1L, Seq(1.0f, 2.0f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 3.0f)),
      (3L, Seq(2.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    def asMap(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val g = asMap(Similarity.gramMatrix(df, "embedding"))
    // hand-computed Σ v·vᵀ
    assert(g((0, 0)) === 5.0 && g((1, 1)) === 5.0 && g((2, 2)) === 10.0)
    assert(g((0, 1)) === 2.0 && g((1, 2)) === 3.0 && g((0, 2)) === 2.0)
    assert(g.forall { case ((i, j), s) => g((j, i)) === s }) // symmetric
    assert(asMap(Similarity.gramMatrix(df.repartition(7), "embedding")) === g)
  }

  test("PCA recovers the dominant axis and whitening equalizes variance") {
    // 80 points along direction (3,4)/5 in 3-d with a small orthogonal
    // wobble: top component must align with the line, eigenvalues
    // ordered, projections onto axis 1 carry ~all the variance.
    val pts = (1 to 80).map { i =>
      val t = (i % 17 - 8).toDouble          // spread along the line
      val w = (i % 5 - 2).toDouble * 0.01    // tiny orthogonal wobble
      (i.toLong, Seq((0.6 * t - 0.8 * w).toFloat, (0.8 * t + 0.6 * w).toFloat, 0.0f))
    }.toDF("vec_id", "embedding")
    val (mu, comps) = Similarity.principalComponents(pts, "embedding", k = 2)
    assert(mu.length === 3)
    val (l1, e1) = comps(0)
    val (l2, e2) = comps(1)
    assert(l1 > l2 && l2 >= -1e-9)
    // dominant axis ≈ ±(0.6, 0.8, 0): |cos| with the true direction ≈ 1
    val align = math.abs(e1(0) * 0.6 + e1(1) * 0.8)
    assert(align > 0.999, s"axis alignment $align; e1=${e1.toSeq}")
    // orthonormal components
    def dot(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    assert(math.abs(dot(e1, e1) - 1.0) < 1e-9)
    assert(math.abs(dot(e1, e2)) < 1e-9)
    // whitened projections: per-axis variance ≈ 1
    val proj = Similarity.pcaProject(pts, "vec_id", "embedding", k = 2,
        whiten = true)
      .select(col("proj")(0).as("p1"), col("proj")(1).as("p2"))
      .as[(Double, Double)].collect()
    def variance(xs: Seq[Double]) = {
      val m = xs.sum / xs.size; xs.map(x => (x - m) * (x - m)).sum / xs.size
    }
    assert(math.abs(variance(proj.map(_._1).toSeq) - 1.0) < 0.05)
    assert(math.abs(variance(proj.map(_._2).toSeq) - 1.0) < 0.05)
  }

  test("approximate aggregates stay within tolerance of exact (100 TB fast path)") {
    val o = Tables.orders(spark, sfDir)
    val exact = o.agg(countDistinct(col("o_custkey"))).collect().head.getLong(0)
    val approx = o.agg(approx_count_distinct(col("o_custkey"))).collect().head.getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.05)

    val ep = o.agg(expr("percentile(o_totalprice, 0.5D)")).collect().head.getDouble(0)
    val ap = o.agg(expr("approx_percentile(o_totalprice, 0.5D, 1000)"))
      .collect().head.getDouble(0)
    assert(math.abs(ap - ep) / ep < 0.02)
  }
}
