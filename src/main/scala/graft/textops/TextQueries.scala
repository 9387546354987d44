package graft.textops

import graft.core.{QueryPack, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.StableMath.gridSnap

/** Driver-checkable queries for the training-data-pipeline operators
  * (dedup, similarity search, text analysis) over `documents` and
  * `embeddings`. MinHash-LSH / SimHash / LSH-bucketed ANN are
  * approximate-by-construction, so they ship without SQL oracles
  * (rows-only driver check) and are instead verified against their
  * exact counterparts in ScalaTest specs.
  */
object TextQueries extends QueryPack {

  override def queries: Map[String, Q] = Map(
    // Exact dedup summary: content-hash distinct counts.
    "q_t_exact_dedup" -> ((s, dir) => {
      Tables.documents(s, dir).agg(
        count(lit(1)).as("n_docs"),
        countDistinct(TextFunctions.fingerprint(col("text"))).as("n_distinct_texts"),
        (count(lit(1)) - countDistinct(TextFunctions.fingerprint(col("text"))))
          .as("n_dup_rows"))
    }),

    // Per-document md5 fingerprint (the dedup key itself).
    "q_t_fingerprint" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")),

    // Polynomial rolling-hash fingerprint (order-sensitive variant).
    "q_t_rolling_hash" -> ((s, dir) =>
      Tables.documents(s, dir)
        .withColumn("norm_text", TextFunctions.normalized(col("text")))
        .select(col("doc_id"), TextAnalysis.rollingHash("norm_text").as("rhash"))
        .orderBy("doc_id")),

    // Corpus-wide repeated-substring spans (Lee et al. 2022 style):
    // maximal char regions whose 30-code-point windows recur anywhere
    // in the corpus — the spans a substring-dedup pass would cut.
    // Rabin–Karp window hashes (codegen), hash-join against repeated
    // hashes, per-document gaps-and-islands.
    "q_t_repsub" -> ((s, dir) =>
      Dedup.repeatedSpans(Tables.documents(s, dir), "doc_id", "text",
          width = 30)
        .orderBy("doc_id", "span_start")),

    // Boilerplate extraction: the most-frequent repeated 30-char
    // windows with a deterministic representative text — the
    // interpretability companion of q_t_repsub and the candidate list
    // for template-stripping rules.
    "q_t_boilerplate" -> ((s, dir) =>
      Dedup.topBoilerplate(Tables.documents(s, dir), "doc_id", "text",
          width = 30, topK = 10)
        .orderBy(desc("n_occurrences"), asc("fragment"))),

    // Exact 3-shingle Jaccard near-duplicate pairs (threshold 0.4):
    // shingle-join candidate pruning, then exact set similarity.
    "q_t_jaccard_pairs" -> ((s, dir) =>
      Dedup.jaccardPairs(Tables.documents(s, dir), "doc_id", "text",
          n = 3, threshold = 0.4)
        .orderBy("doc_a", "doc_b")),

    // Same semantics via prefix filtering (AllPairs): the candidate
    // join runs on per-doc shingle prefixes only — identical results
    // (same oracle SQL as q_t_jaccard_pairs), quadratically fewer
    // candidate comparisons. The scale path for the exact tier.
    "q_t_jaccard_prefix" -> ((s, dir) =>
      Dedup.jaccardPairsPrefix(Tables.documents(s, dir), "doc_id", "text",
          n = 3, threshold = 0.4)
        .orderBy("doc_a", "doc_b")),

    // TF-IDF keyword extraction: top-3 terms per document (first 10
    // docs) with global document frequencies.
    // Vocabulary drift between the English and German slices —
    // bounded symmetric divergence; KL would be ∞ on any
    // one-side-only token.
    "q_t_jsd" -> ((s, dir) =>
      TextAnalysis.jensenShannon(Tables.documents(s, dir), "lang", "text",
        "en", "de")),

    // Keyword extraction over the WHOLE corpus — the no-window scale
    // path for the q_t_tfidf shape: per-doc sort is bounded by the
    // doc's own vocabulary, nothing partitions a corpus-wide window.
    "q_t_keywords" -> ((s, dir) =>
      TextAnalysis.topKeywords(Tables.documents(s, dir), "doc_id", "text",
          k = 3)
        .orderBy("doc_id", "rank")),

    "q_t_tfidf" -> ((s, dir) => {
      val scored = TextAnalysis.tfidf(Tables.documents(s, dir), "doc_id", "text")
      val w = Window.partitionBy("doc_id").orderBy(desc("tfidf"), asc("term"))
      scored.filter(col("doc_id") < 10)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("term"), col("tfidf"), col("rk"))
        .orderBy("doc_id", "rk")
    }),

    // Transitive dedup clusters: exact Jaccard pairs → connected
    // components (iterative min-label propagation) → per-cluster
    // membership counts. Hash-checked against a recursive-CTE oracle.
    "q_t_dedup_clusters" -> ((s, dir) => {
      val pairs = Dedup.jaccardPairs(Tables.documents(s, dir), "doc_id", "text",
        n = 3, threshold = 0.4)
      Dedup.connectedComponents(pairs, "doc_a", "doc_b")
        .groupBy(col("label").as("cluster_id"))
        .agg(count(lit(1)).as("n_members"))
        .orderBy("cluster_id")
    }),

    // Near-duplicate-aware survivor selection: transitive clusters →
    // keep the min-id member per cluster, summarized per source.
    "q_t_near_dedup" -> ((s, dir) =>
      Curation.dropNearDuplicates(Tables.documents(s, dir), "doc_id", "text",
          shingleN = 3, threshold = 0.4)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), min(col("doc_id")).as("min_kept_id"))
        .orderBy("source")),

    // Quality-aware survivor rule: each near-dup cluster keeps its
    // highest-quality member (ties → smallest id) instead of the
    // smallest id — keep the BEST copy, not the earliest-crawled.
    "q_t_curate_best" -> ((s, dir) => {
      val dec = org.apache.spark.sql.types.DecimalType(28, 12)
      val scored = TextAnalysis.qualityScore(Tables.documents(s, dir), "text")
      Curation.dropNearDuplicatesBy(scored, "doc_id", "text",
          "quality_score", shingleN = 3, threshold = 0.4)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), min(col("doc_id")).as("min_kept_id"),
          gridSnap(sum(col("quality_score").cast(dec)).cast("double"), 6)
            .as("sum_quality"))
        .orderBy("source")
    }),

    // MinHash + LSH near-dup pairs (candidates via the MinhashBandKeys
    // band keys, verified with exact Jaccard). Runs the Md5Portable hash family so
    // the DuckDB oracle replays the ENTIRE sketch pipeline — 64
    // permutation hashes, 16-band keys, candidate join, exact verify —
    // bit-for-bit (xxhash64, the production default, has no SQL
    // counterpart). Recall vs q_t_jaccard_pairs is asserted in
    // TextOpsSpec for both families.
    "q_t_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLshPairs(Tables.documents(s, dir), "doc_id", "text",
          shingleN = 3, numHashes = 64, bands = 16, threshold = 0.4,
          family = HashFamily.Md5Portable)
        .orderBy("doc_a", "doc_b")),

    // Character-level verify tier over the same LSH candidates:
    // normalized Levenshtein similarity ≥ 0.5 (token-set Jaccard is
    // blind to reorderings; edit distance is not). The O(len²) work
    // runs only on banded candidates that also survive the free
    // length-gap prefilter. Md5Portable so the oracle replays the
    // whole tier, sketch included.
    "q_t_edit_verify" -> ((s, dir) =>
      Dedup.editVerifiedPairs(Tables.documents(s, dir), "doc_id", "text",
          shingleN = 3, numHashes = 64, bands = 16, threshold = 0.5,
          family = HashFamily.Md5Portable)
        .orderBy("doc_a", "doc_b")),

    // SimHash near-dups within Hamming distance 3 of the 64-bit sketch —
    // the classic 64-bit simhash dedup operating point (Manku et al.,
    // WWW'07). Larger radii are supported (banding derives chunk count
    // from the radius) but are not meaningful dedup on this corpus:
    // d=12 marks ~8% of ALL doc pairs as "near-dups" (~1M pairs at
    // sf0.1) while generating 30M+ LSH candidates.
    // Md5Portable family (like q_t_minhash_lsh): every token hash, all
    // 64 bit votes, the 4-chunk banding, and the Hamming filter are
    // replayed in the DuckDB oracle.
    "q_t_simhash" -> ((s, dir) =>
      Dedup.simhashNearDups(Tables.documents(s, dir), "doc_id", "text",
          maxHamming = 3, family = HashFamily.Md5Portable)
        .orderBy("doc_a", "doc_b")),

    // Brute-force cosine top-k against the corpus's own first vector,
    // attached as a lazy 1-row broadcast relation (no driver fetch).
    "q_t_cosine_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("_qv"))
      Similarity.cosineTopKAgainst(emb, "vec_id", "embedding", q, "_qv", k = 10)
    }),

    // IVF-style bucketed similarity search: exact top-2 pairs within
    // each label bucket (Σ bucket² work, not n²). The hyperplane-LSH
    // near-dup variant has no high-similarity pairs to find in this
    // corpus (max pairwise cosine ≈ 0.51) and is exercised on synthetic
    // near-dups in SimilaritySpec instead.
    "q_t_cosine_bucketed" -> ((s, dir) =>
      Similarity.bucketedTopPairs(Tables.embeddings(s, dir), "vec_id",
          "embedding", "label", k = 2)
        .orderBy("bucket", "id_a", "id_b")),

    // One Lloyd step of the k-means trainer, exploded to (bucket,
    // dim_pos, c_val) rows: assignment (argmax cosine vs the 4 lowest-id
    // seeds) then the per-bucket element-wise mean. Exact DECIMAL sums
    // and 6-dp rounding make the whole step integer-exact arithmetic
    // DuckDB reproduces bit-for-bit.
    "q_t_kmeans" -> ((s, dir) =>
      Similarity.trainCentroids(Tables.embeddings(s, dir), "vec_id",
          "embedding", k = 4, iters = 1)
        .select(col("bucket"),
          posexplode(col("centroid")).as(Seq("dim_pos", "c_val")))
        .orderBy("bucket", "dim_pos")),

    // IVF coarse quantization: nearest-centroid assignment against
    // TRAINED centroids (one Lloyd step from the 4 lowest-id seeds),
    // summarized per bucket. The struct-MAX argmax is exact and
    // oracle-checkable.
    "q_t_ivf_assign" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cent = Similarity.trainCentroids(emb, "vec_id", "embedding",
        k = 4, iters = 1)
      Similarity.assignBuckets(emb, "vec_id", "embedding", cent, "bucket", "centroid")
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_vecs"), max(col("cos_sim")).as("max_sim"))
        .orderBy("bucket")
    }),

    // SemDeDup-style semantic dedup: IVF-cluster the embeddings (one
    // trained Lloyd step), then inside each cluster drop every vector
    // with a lower-id neighbour at cosine >= 0.35. Survivors with their
    // cluster. Pair work is Σ cluster², bounded by the quantizer.
    "q_t_semantic_dedup" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cent = Similarity.trainCentroids(emb, "vec_id", "embedding",
        k = 4, iters = 1)
      Similarity.semanticDedup(emb, "vec_id", "embedding", cent, "bucket",
          "centroid", threshold = 0.35)
        .select(col("vec_id"), col("bucket"))
        .orderBy("vec_id")
    }),

    // Product-quantization codes: per-sub-space codebooks (4 sub-spaces
    // × 4 codes, one Lloyd step from the 4 lowest-id seeds) and the
    // nearest-code assignment of every vector — m bytes/vector at rest,
    // the memory-bound ANN scale path past IVF.
    "q_t_pq_codes" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cb = Similarity.pqTrain(emb, "vec_id", "embedding",
        dim = 64, m = 4, k = 4, iters = 1)
      Similarity.pqEncode(emb, "vec_id", "embedding", cb, dim = 64, m = 4)
        .orderBy("vec_id", "sub")
    }),

    // ADC top-10 against the corpus's own first vector: the query
    // scores the 16 codebook centroids once; every database vector is
    // then 4 table lookups + a sum — no original vectors touched.
    "q_t_pq_search" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cb = Similarity.pqTrain(emb, "vec_id", "embedding",
        dim = 64, m = 4, k = 4, iters = 1)
      val enc = Similarity.pqEncode(emb, "vec_id", "embedding", cb,
        dim = 64, m = 4)
      val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("_qv"))
      Similarity.pqSearch(enc, "vec_id", cb, q, "_qv",
        dim = 64, m = 4, topK = 10)
    }),

    // Two-stage ANN: the same ADC scan shortlists 50, originals
    // re-rank the survivors with exact cosine — compressed-domain
    // candidate generation, exact-order answers.
    "q_t_pq_rerank" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cb = Similarity.pqTrain(emb, "vec_id", "embedding",
        dim = 64, m = 4, k = 4, iters = 1)
      val enc = Similarity.pqEncode(emb, "vec_id", "embedding", cb,
        dim = 64, m = 4)
      val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("_qv"))
      Similarity.pqSearchRefined(enc, "vec_id", cb, emb, "embedding",
        q, "_qv", dim = 64, m = 4, shortlist = 50, topK = 10)
    }),

    // Multi-probe IVF search: the query scans its 2 nearest trained
    // buckets' inverted lists with exact cosine verification — the
    // standard recall knob (nProbe/k of the corpus per query).
    "q_t_ivf_probe" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cent = Similarity.trainCentroids(emb, "vec_id", "embedding",
        k = 4, iters = 1)
      val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("_qv"))
      Similarity.searchIvfMultiProbe(emb, "vec_id", "embedding", cent,
          "bucket", "centroid", q, "_qv", nProbe = 2, topK = 10)
        .orderBy(desc("cos_sim"), asc("vec_id"))
    }),

    // PQ recall, self-measured: |ADC top-10 ∩ exact-L2 top-10| for the
    // corpus's first vector — the quantization-quality metric an ANN
    // deployment monitors, as a deterministic 1-row relation.
    "q_t_pq_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cb = Similarity.pqTrain(emb, "vec_id", "embedding",
        dim = 64, m = 4, k = 4, iters = 1)
      val enc = Similarity.pqEncode(emb, "vec_id", "embedding", cb,
        dim = 64, m = 4)
      val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("_qv"))
      val adc = Similarity.pqSearch(enc, "vec_id", cb, q, "_qv",
        dim = 64, m = 4, topK = 10).select("vec_id")
      val d2 = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
        gridSnap(Similarity.dot(a, a) + Similarity.dot(b, b)
          - lit(2.0) * Similarity.dot(a, b), 6)
      val exact = graft.operators.Joins.withScalar(
          emb.select(col("vec_id"),
            transform(col("embedding"), v => v.cast("double")).as("_v")),
          q.select(transform(col("_qv"), v => v.cast("double")).as("_qd")))
        .select(col("vec_id"), d2(col("_v"), col("_qd")).as("_d2"))
        .orderBy(asc("_d2"), asc("vec_id"))
        .limit(10)
        .select("vec_id")
      adc.join(exact, "vec_id")
        .agg(count(lit(1)).as("n_overlap"))
        .select(lit(10).as("k"), col("n_overlap"))
    }),

    // Exact O(n²) cosine near-neighbour pairs above a threshold — the
    // correctness baseline the LSH variants prune towards. Feasible
    // here (n=2000 at sf0.1); the scale paths are the bucketed/banded
    // queries below.
    "q_t_cosine_pairs" -> ((s, dir) =>
      Similarity.cosineAllPairs(Tables.embeddings(s, dir), "vec_id",
          "embedding", threshold = 0.3)
        .orderBy("id_a", "id_b")),

    // Embedding gram matrix: the one-pass d×d statistic under
    // covariance/PCA/whitening. Map-side partials bound the shuffle at
    // d² groups per partition; DECIMAL sums make it partition- and
    // engine-exact.
    "q_t_gram" -> ((s, dir) =>
      Similarity.gramMatrix(Tables.embeddings(s, dir), "embedding")
        .orderBy("i", "j")),

    // Language ID vs the labelled lang column: confusion counts.
    "q_t_langid" -> ((s, dir) =>
      TextAnalysis.languageId(Tables.documents(s, dir), "text")
        .groupBy("lang", "predicted_lang")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("lang", "predicted_lang")),

    // Per-document quality score.
    "q_t_quality" -> ((s, dir) =>
      TextAnalysis.qualityScore(Tables.documents(s, dir), "text")
        .select("doc_id", "quality_score")
        .orderBy("doc_id")),

    // Learned quality gate, training side: hashed-token logistic
    // regression fit with two full-batch GD rounds on the "is English"
    // seed label. md5 features, DECIMAL sums, and 9-dp per-iteration
    // rounding make the fit a pure function of the corpus — the oracle
    // replays both rounds in SQL and the weights hash-match. (The
    // synthetic corpus's lang column is METADATA — all 31 vocabulary
    // tokens appear in every language — so these two queries prove the
    // distributed GD loop is engine-exact; that the same loop actually
    // LEARNS is asserted in QualityModelSpec on a fixture whose
    // classes have disjoint vocabularies.)
    "q_t_quality_model" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .withColumn("y", when(col("lang") === "en", 1L).otherwise(0L))
      QualityModel.trainLogistic(docs, "doc_id", "text", "y",
          dim = 64, iters = 2, lr = 0.5)
        .select(col("feat"), gridSnap(col("w"), 6).as("weight"))
        .orderBy("feat")
    }),

    // Learned quality gate, apply side: score every document with the
    // trained weights (broadcast join + per-doc sum), report per-lang
    // mean score.
    "q_t_quality_model_score" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .withColumn("y", when(col("lang") === "en", 1L).otherwise(0L))
      val w = QualityModel.trainLogistic(docs, "doc_id", "text", "y",
          dim = 64, iters = 2, lr = 0.5)
      QualityModel.scoreLogistic(docs, w, "doc_id", "text", dim = 64)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          gridSnap(sum(col("score")
              .cast(org.apache.spark.sql.types.DecimalType(28, 12)))
            .cast("double") / count(lit(1)), 6).as("avg_score"))
        .orderBy("lang")
    }),

    // Learned quality gate, production shape: the documented 100 TB
    // composition made executable — md5-split the corpus, train on the
    // train half only, score EVERYTHING with the broadcast weights,
    // gate at the corpus-mean score, report per-source pass rates.
    // Every stage (split buckets, GD rounds, scores, mean, counts) is
    // engine-exact, so the whole pipeline hash-matches the SQL replay.
    "q_t_quality_gate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .withColumn("y", when(col("lang") === "en", 1L).otherwise(0L))
      val trainDocs = graft.operators.Sampling.withSplit(docs, "doc_id", 50)
        .filter(col("split") === "train")
      val w = QualityModel.trainLogistic(trainDocs, "doc_id", "text", "y",
        dim = 64, iters = 2, lr = 0.5)
      val scored = QualityModel.scoreLogistic(docs, w, "doc_id", "text", 64)
      // corpus-mean threshold as a broadcast 1-row relation (the J6
      // scalar-subquery shape); DECIMAL sum keeps it layout-exact
      val thresh = scored.agg(
        (sum(col("score")
            .cast(org.apache.spark.sql.types.DecimalType(28, 12)))
          .cast("double") / count(lit(1))).as("_mean"))
      scored.join(docs.select("doc_id", "source"), "doc_id")
        .crossJoin(broadcast(thresh))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("score") > col("_mean"), 1)).as("n_pass"))
        .orderBy("source")
    }),

    // Learned quality gate, embedding space: the SAME generic GD core
    // over dense vector components instead of hashed token shares — a
    // semantic gate ("scores like cluster 0") next to the lexical one.
    // Count-normalized steps (signed features make Σx an unsafe
    // divisor); two rounds replayed exactly by the oracle.
    "q_t_embed_classifier" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .withColumn("y", when(col("label") === 0, 1L).otherwise(0L))
      val feats = QualityModel.vectorFeatures(emb, "vec_id", "embedding")
      val w = QualityModel.trainLogisticOn(feats, emb.select("vec_id", "y"),
        "vec_id", "y", iters = 2, lr = 1.0, norm = "count")
      QualityModel.scoreLogisticOn(feats, w, emb.select("vec_id"), "vec_id")
        .join(emb.select("vec_id", "label"), "vec_id")
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          gridSnap(sum(col("score")
              .cast(org.apache.spark.sql.types.DecimalType(28, 12)))
            .cast("double") / count(lit(1)), 6).as("avg_score"))
        .orderBy("label")
    }),

    // Benchmark decontamination: remove corpus docs sharing ≥2 distinct
    // 3-shingles with the "evaluation set" (every 20th doc), summarized
    // per source. The benchmark shingle relation broadcasts at scale.
    "q_t_decontam" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val bench = docs.filter(col("doc_id") % 20 === 0).select(col("text"))
      Dedup.decontaminate(docs, "doc_id", "text", bench, "text",
          n = 3, minShared = 2L)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), min(col("doc_id")).as("min_kept_id"))
        .orderBy("source")
    }),

    // Gopher/C4 repetition heuristics per document: duplicate-token
    // fraction, top-bigram share, mean token length.
    "q_t_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionStats(
          Tables.documents(s, dir).filter(col("doc_id") < 50), "doc_id", "text")
        .orderBy("doc_id")),

    // PII redaction with audit counts. The corpus has no PII, so the
    // query plants deterministic e-mails/phones first — the operator
    // and its counts are then exactly oracle-checkable.
    "q_t_redact" -> ((s, dir) => {
      val d = Tables.documents(s, dir).filter(col("doc_id") < 40)
        .withColumn("text2", concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" contact user"), col("doc_id").cast("string"),
              lit("@mail.example.com")))
            .when(col("doc_id") % 7 === 0, lit(" call 555-123-4567"))
            .otherwise(lit(""))))
      TextAnalysis.redactPii(d, "text2")
        .select(col("doc_id"), col("n_emails"), col("n_phones"),
          col("redacted_text"))
        .orderBy("doc_id")
    }),

    // Flagship curation composition: exact dedup → quality gate →
    // language gate → per-source report. Every stage is an exact
    // operator, so the whole pipeline is oracle-checkable end-to-end.
    "q_t_curate" -> ((s, dir) =>
      Curation.report(
        Curation.curate(Tables.documents(s, dir), "doc_id", "text",
          minQuality = 3.0, keepLangs = Seq("en")),
        "text")),

    // CAPSTONE: the complete modern curation pipeline as ONE
    // hash-checked query — strip markup → NFC → exact dedup →
    // benchmark decontamination → quality gate → language gate →
    // log-prob gate → per-source report. Every stage is an exact
    // operator, so the whole composition is bit-reproducible in SQL.
    // The HTML shell + decomposed tail planted on each doc make the
    // strip and NFC stages real transformations, not fixpoints.
    "q_t_curate_full" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val dirty = concat(lit("<html><body><p>"), col("text"),
        lit(DecomposedTail),
        lit("</p><script>var x = 1;</script></body></html>"))
      val withClean = docs.select(col("doc_id"), col("source"),
        graft.functions.UnicodeFunctions.nfc(
          TextFunctions.stripMarkup(dirty)).as("clean"))
      val deduped = Dedup.dropExactDuplicates(withClean, "doc_id", "clean")
      val bench = withClean.filter(col("doc_id") % 20 === 0).select(col("clean"))
      // decon is consumed by BOTH the log-prob pass and the
      // quality/language gate — materialize it once (r19, guide §2.4):
      // without the checkpoint the whole strip → NFC → window-dedup →
      // decontaminate prefix re-executes per consumer (the strip/NFC
      // string work is the pipeline's dominant map cost). Post-shuffle,
      // so the checkpoint does not pin scan parallelism.
      val decon = Dedup.decontaminate(deduped, "doc_id", "clean",
        bench, "clean", n = 3, minShared = 2L)
        .localCheckpoint()
      val lp = TextAnalysis.unigramLogProb(decon, "doc_id", "clean")
        .select(col("doc_id"), col("avg_logprob"))
      val gated = TextAnalysis.languageId(
          TextAnalysis.qualityScore(decon, "clean"), "clean")
        .filter(col("quality_score") >= 3.0 && col("predicted_lang") === "en")
        .join(lp, "doc_id")
        .filter(col("avg_logprob") >= -7.0)
      gated.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(TextFunctions.tokens(col("clean")))).as("total_tokens"),
          gridSnap(avg(col("quality_score")
            .cast(org.apache.spark.sql.types.DecimalType(18, 6))), 6)
            .cast("double").as("avg_quality"),
          gridSnap(avg(col("avg_logprob")
            .cast(org.apache.spark.sql.types.DecimalType(18, 6))), 6)
            .cast("double").as("avg_lp"),
          min(col("doc_id")).as("min_id"))
        .orderBy("source")
    }),

    // Deterministic hash-based train/test split (10% test): key-stable,
    // layout-independent, reproducible in any engine with md5.
    "q_t_split" -> ((s, dir) =>
      graft.operators.Sampling.withSplit(Tables.documents(s, dir), "doc_id", 10)
        .groupBy("source", "split")
        .agg(count(lit(1)).as("n"))
        .orderBy("source", "split")),

    // Token statistics rolled up per source.
    "q_t_tokens" -> ((s, dir) =>
      TextAnalysis.tokenStats(Tables.documents(s, dir), "text")
        .groupBy("source")
        .agg(
          sum(col("n_ws_tokens")).as("total_ws_tokens"),
          sum(col("n_re_tokens")).as("total_re_tokens"),
          gridSnap(avg(col("n_ws_tokens")), 6).as("avg_ws_tokens"),
          max(col("n_chars_obs")).as("max_chars"))
        .orderBy("source")),

    // Temperature mixing: α=0.5 flattens source shares toward uniform
    // before sampling to a 2000-token total budget; per-source report.
    "q_t_mix_temp" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).withColumn("n_tokens",
        size(TextFunctions.tokens(col("text"))).cast("long"))
      graft.operators.Sampling
        .sampleWithTemperature(docs, "source", "doc_id", "n_tokens",
          totalTokens = 2000L, alpha = 0.5)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_tokens")).as("kept_tokens"),
          gridSnap(min(col("mix_frac")), 6).as("mix_frac"))
        .orderBy("source")
    }),

    // Exact-n stratified sample: exactly 5 docs per language, chosen by
    // each doc's md5 uniform through a bounded per-stratum top-k — no
    // stratum is ever sorted.
    "q_t_strat_sample" -> ((s, dir) =>
      graft.operators.Sampling.stratifiedExactN(
        Tables.documents(s, dir), "lang", "doc_id", n = 5, salt = "s9")
        .select(col("lang"), col("doc_id"))
        .orderBy("lang", "doc_id")),

    // Heavy-hitter tokens: MG-sketch candidates (64 counters) + exact
    // verify — the bounded-state form of a corpus vocabulary head. At
    // this vocab the sketch holds every token (distinct ≤ k), so the
    // result is exactly the top-10 frequency table; at open-vocabulary
    // scale the same plan caps state/shuffle at k per partial.
    "q_t_heavy_tokens" -> ((s, dir) =>
      graft.analytics.HeavyHitters.topHeavy(
        Tables.documents(s, dir)
          .select(explode(split(col("text"), " ")).as("tok"))
          .where(col("tok") =!= ""),
        "tok", counters = 64, topN = 10)),

    // Grouped heavy hitters: top-3 tokens per language — one k-bounded
    // MG sketch per group, exact re-count of candidates, rank window
    // over the groups×k candidate relation only.
    "q_t_heavy_tokens_grouped" -> ((s, dir) =>
      graft.analytics.HeavyHitters.topHeavyPerGroup(
        Tables.documents(s, dir)
          .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
          .where(col("tok") =!= ""),
        "lang", "tok", counters = 64, topN = 3)
        .orderBy("lang", "rank")),

    // Greedy sequence packing: per-source 200-token context windows,
    // summarized per pack. The oracle replays the same greedy walk as a
    // recursive CTE.
    "q_t_pack" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).withColumn("n_tokens",
        size(TextFunctions.tokens(col("text"))).cast("long"))
      graft.operators.Packing.packSummary(
        graft.operators.Packing.packGreedy(docs, "source", "doc_id",
          "n_tokens", budget = 200L),
        "source", "n_tokens")
    }),

    // Corpus mixing: deterministically downsample every source to a
    // 400-token budget (hash-stable membership), per-source report.
    "q_t_mix" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).withColumn("n_tokens",
        size(TextFunctions.tokens(col("text"))).cast("long"))
      graft.operators.Sampling
        .sampleToTokenBudget(docs, "source", "doc_id", "n_tokens",
          targetTokens = 400L)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_tokens")).as("kept_tokens"),
          gridSnap(min(col("keep_frac")), 6).as("keep_frac"))
        .orderBy("source")
    }),

    // Deterministic global training-order shuffle: seeded md5 rank via
    // the two-phase global row number (no single-partition window).
    "q_t_order" -> ((s, dir) =>
      graft.operators.Sampling.shuffleOrder(
          Tables.documents(s, dir).select("doc_id"), "doc_id", seed = "s42")
        .orderBy("doc_id")),

    // BM25 retrieval: top-10 docs for a 3-term query — the ranking
    // scorer substring search can't provide (hard-negative mining /
    // eval construction in a training pipeline).
    "q_t_bm25" -> ((s, dir) =>
      TextAnalysis.bm25(Tables.documents(s, dir), "doc_id", "text",
          Seq("hash", "join", "scan"), topK = 10)
        .orderBy(desc("bm25"), asc("doc_id"))),

    // Per-doc n-gram novelty vs the md5-split "already crawled" half
    // (bucket < 50, the same portable split as the quality gate) —
    // the graded curation signal decontam's binary overlap can't
    // rank by. Md5Portable so the oracle replays the shingle hashes.
    "q_t_novelty" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val ref = docs.where(
        graft.operators.Sampling.hashBucket(col("doc_id")) < 50)
      Dedup.noveltyScores(docs, "doc_id", "text", ref, "text", n = 3,
          family = HashFamily.Md5Portable)
        .orderBy("doc_id")
    }),

    // Hybrid retrieval: reciprocal-rank fusion of the BM25 top-20 and
    // the dense cosine top-20 (same query constant as q_t_bm25, same
    // query vector as q_t_cosine_topk). Rank-only fusion — no score
    // calibration — with DECIMAL-summed 1/(60+rank) contributions.
    "q_t_rrf" -> ((s, dir) => {
      val lex = TextAnalysis.bm25(Tables.documents(s, dir), "doc_id", "text",
          Seq("hash", "join", "scan"), topK = 20)
        .select(col("doc_id"), col("bm25").as("score"))
      val emb = Tables.embeddings(s, dir)
      val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("_qv"))
      val dense = Similarity.cosineTopKAgainst(emb, "vec_id", "embedding",
          qv, "_qv", k = 20)
        .select(col("vec_id").as("doc_id"), col("cos_sim").as("score"))
      Retrieval.rrfFuse(Seq(lex, dense), "doc_id", "score", k = 60)
        .orderBy(desc("rrf_score"), asc("doc_id"))
    }),

    // Hard-negative mining: every 50th vector anchors a training
    // batch; each anchor takes its 5 nearest different-label
    // neighbours — exact per-anchor brute force through the k-bounded
    // top-k aggregator (anchors broadcast; the corpus never shuffles).
    "q_t_hard_negatives" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.hardNegatives(emb, "vec_id", "embedding", "label",
          emb.filter(col("vec_id") % 50 === 0), k = 5)
        .orderBy("anchor_id", "rank")
    }),

    // BPE trainer, iteration-0 statistics: the weighted adjacent-pair
    // relation the first merge argmax runs on (top 10). The corpus's
    // only full scan in a BPE run — everything after is vocab-sized.
    "q_t_bpe_pairs" -> ((s, dir) =>
      TextAnalysis.bpePairCounts(Tables.documents(s, dir), "text")
        .orderBy(desc("pair_count"), asc("left"), asc("right"))
        .limit(10)),

    // One exact BPE merge step: the argmax pair with deterministic
    // tie-break (count DESC, left, right) — the q_t_kmeans convention
    // (oracle one exact iteration; multi-merge behaviour is pinned on
    // the classic corpus in BpeSpec).
    "q_t_bpe" -> ((s, dir) =>
      TextAnalysis.bpeTrain(Tables.documents(s, dir), "text", numMerges = 1)),

    // BPE encode with the learned (1-step) vocabulary: dictionary
    // built once over distinct words, corpus pays a hash join. Oracle
    // closed-form: tokens after one merge = chars − non-overlapping
    // pair occurrences (greedy replace() counting, same in any engine).
    "q_t_bpe_encode" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = TextAnalysis.bpeTrain(docs, "text", numMerges = 1)
      TextAnalysis.encodeBpe(docs, "doc_id", "text", merges, numMerges = 1)
        .select(col("doc_id"), size(col("bpe_toks")).cast("long").as("n_bpe_tokens"))
        .orderBy("doc_id")
    }),

    // Curriculum packing: quartile-bin documents by token length with
    // the two-phase distributed ntile (no single-partition window),
    // then greedily pack WITHIN each length bin — batches of
    // homogeneous length waste less padding and enable length-ordered
    // curricula. Composition of two independently-oracled operators.
    "q_t_curriculum" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .withColumn("n_tok", size(split(trim(col("text")), " ")).cast("long"))
        .select("doc_id", "n_tok")
      val binned = graft.operators.Ranking.globalNtile(
        d, Seq(asc("n_tok"), asc("doc_id")), 4, "len_bin")
      val packed = graft.operators.Packing.packGreedy(
        binned, "len_bin", "doc_id", "n_tok", budget = 2048)
      graft.operators.Packing.packSummary(packed, "len_bin", "n_tok")
    }),

    // Snapshot diff (CDC between corpus versions): old = 90% of docs,
    // new = all-but-10% with every 7th doc's content mutated — the
    // full-outer fingerprint compare labels added/removed/changed/
    // unchanged, summarized per status.
    "q_t_snapshot_diff" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val old = docs.filter(col("doc_id") % 10 =!= 9)
      val nw = docs.filter(col("doc_id") % 10 =!= 4)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" [v2]"))).otherwise(col("text")))
      graft.lake.LakeStorage.snapshotDiff(old, nw, "doc_id", "text")
        .groupBy("status")
        .agg(count(lit(1)).as("n"),
          min(col("doc_id")).as("min_key"), max(col("doc_id")).as("max_key"))
        .orderBy("status")
    }),

    // CDC feed + apply round trip: build a mutated snapshot (removals,
    // content changes, additions), derive the change FEED from the two
    // snapshots, apply it back onto the old one, and aggregate the
    // result. The oracle aggregates the mutated snapshot built
    // DIRECTLY in SQL — hash-matching proves feed+apply reconstructs
    // it exactly, exercising the whole diff→feed→apply loop.
    "q_t_cdc_apply" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val nw = docs.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text", when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .unionByName(docs.filter(col("doc_id") % 11 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000)
          .withColumn("text", concat(lit("new "), col("text"))))
      val feed = graft.lake.LakeStorage.changeFeed(docs, nw, "doc_id", "text")
      graft.lake.LakeStorage.applyChanges(docs, feed, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("sum_len"))
        .orderBy("source")
    }),

    // Incremental aggregate refresh (materialized-view maintenance):
    // per-source stats carried from the old snapshot's stored aggregate
    // except for sources touched by the diff, which re-aggregate from
    // the new snapshot. The oracle is a DIRECT aggregation of the new
    // snapshot — hash-matching proves incremental == full recompute.
    "q_t_incr_agg" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val old = docs.filter(col("doc_id") % 10 =!= 9)
      val nw = docs.filter(col("doc_id") % 10 =!= 4)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" [v2]"))).otherwise(col("text")))
      val aggFn = (d: org.apache.spark.sql.DataFrame) => d.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(TextFunctions.tokens(col("text"))).cast("long"))
            .as("total_tokens"))
      graft.lake.LakeStorage.incrementalAggRefresh(
          old, nw, "doc_id", "text", "source", aggFn(old), aggFn)
        .orderBy("source")
    }),

    // Leakage-safe split: near-duplicate clusters share a split key
    // (the component's min id), so no cluster ever straddles the
    // train/test boundary — the structural fix for near-dup eval
    // contamination.
    "q_t_cluster_split" -> ((s, dir) =>
      Curation.clusterSafeSplit(Tables.documents(s, dir), "doc_id", "text",
          shingleN = 3, threshold = 0.4, testPct = 10)
        .select(col("doc_id"), col("split_key"), col("split"))
        .orderBy("doc_id")),

    // Weighted sample without replacement: 20 docs drawn with
    // probability proportional to token count, deterministically
    // (Efraimidis–Spirakis exponential keys from md5 bits) — one scan
    // + TakeOrdered, no shuffle, no RNG state.
    "q_t_wsample" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .withColumn("n_tok", size(split(trim(col("text")), " ")).cast("long"))
      graft.operators.Sampling.weightedSample(d, "doc_id", col("n_tok"),
          k = 20, salt = "s42")
        .select(col("doc_id"), col("n_tok"), col("es_key"))
        .orderBy("es_key", "doc_id")
    }),

    // Bloom-prefiltered anti join: new docs (id%10>=3) deduped against
    // the "already ingested" corpus (id%10<3) by content fingerprint.
    // Bit-identical to a plain left_anti — fpp only tunes cost.
    "q_t_bloom_anti" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .withColumn("fp", TextFunctions.fingerprint(col("text")))
      val ref = docs.filter(col("doc_id") % 10 < 3).select("fp")
      graft.operators.Joins.antiJoinBloom(
          docs.filter(col("doc_id") % 10 >= 3), ref, "fp",
          expectedItems = 1000000L, fpp = 0.03)
        .groupBy("source")
        .agg(count(lit(1)).as("n_new"))
        .orderBy("source")
    }),

    // Unigram log-prob quality score (KenLM-style filter approximation):
    // mean smoothed token log-probability under the corpus's own
    // distribution. DECIMAL-cast per-term contributions keep the sum
    // order-independent (hash-matchable).
    "q_t_logprob" -> ((s, dir) =>
      TextAnalysis.unigramLogProb(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")),

    // Two-corpus log-prob: odd docs scored against the even docs'
    // distribution — the OOV smoothing floor is exercised for real.
    "q_t_logprob_oov" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.unigramLogProbAgainst(
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
          docs.filter(col("doc_id") % 2 === 0), "text")
        .orderBy("doc_id")
    }),

    // Markup stripping: each doc wrapped in a deterministic HTML shell
    // (tags, a script block, named/numeric entities), then cleaned back
    // to text — regex pipeline identical in both engines.
    "q_t_strip_html" -> ((s, dir) => {
      val html = concat(lit("<html><body><h1>Doc</h1><p>"), col("text"),
        lit("</p><script>var x = 1;</script>" +
          "<p>tail &amp; &lt;end&gt;&nbsp;&#39;q&#39;</p></body></html>"))
      val clean = TextFunctions.stripMarkup(html)
      Tables.documents(s, dir).filter(col("doc_id") < 60)
        .select(col("doc_id"),
          length(clean).as("clean_len"),
          md5(clean).as("clean_fp"))
        .orderBy("doc_id")
    }),

    // Sliding-window chunking: 16-token windows every 8 tokens (final
    // full window always included), fingerprinted per chunk.
    "q_t_chunk" -> ((s, dir) =>
      TextAnalysis.chunkDocuments(
          Tables.documents(s, dir).filter(col("doc_id") < 30),
          "doc_id", "text", chunkTokens = 16, stride = 8)
        .orderBy("doc_id", "start_tok")),

    // Unicode NFC normalization (native codegen expression): appending
    // a decomposed tail makes the composition observable — the length
    // shrinks and the post-NFC fingerprint matches DuckDB's
    // nfc_normalize byte-for-byte.
    "q_t_nfc" -> ((s, dir) => {
      val dirty = concat(col("text"), lit(DecomposedTail))
      val nfc = graft.functions.UnicodeFunctions.nfc(dirty)
      Tables.documents(s, dir).filter(col("doc_id") < 50)
        .select(col("doc_id"),
          length(dirty).as("len_raw"),
          length(nfc).as("len_nfc"),
          md5(nfc).as("fp_nfc"))
        .orderBy("doc_id")
    }),
  )

  private val fpSql =
    "md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))"

  /** Decomposed-form tail for the NFC query: e+U+0301 (é), A+U+030A
    * (Å), o+U+0308 (ö). Shared verbatim by the Spark literal and the
    * oracle SQL literal, so both engines normalize the identical byte
    * sequence (NFC shortens it by exactly 3 code points per row).
    */
  private val DecomposedTail = " cafe\u0301 A\u030Angstro\u0308m"

  /** One-pass DuckDB replay of the engine's 30-char polynomial rolling
    * hash (the codegen'd PolyWindowHash behind q_t_repsub /
    * q_t_boilerplate) — ends in `g(doc_id, pos, gh)` with `d` still in
    * scope for fragment extraction. The original per-window form
    * (`list_reduce` over a regex char split of every `substr(t,i,30)`)
    * also carried the FULL document string on every window row, so its
    * memory traffic was O(len²) per document — 1518 s for the
    * boilerplate oracle alone at sf0.1. This form splits each document
    * into chars ONCE and computes the hash as a 30-term LEAD-weighted
    * sum in one window pass (1.4 s at sf0.1). Algebraically identical:
    * the fold ((0·31+c₀)·31+c₁)… mod p equals Σ cⱼ·31^(w−1−j) mod p —
    * the per-term powers are reduced mod p in Scala (BigInt modPow),
    * each term ≤ ord_max·p < 2^51, and the 30-term sum stays far below
    * BIGINT range, so `% p` at the end lands on the same residue.
    * Verified bit-equal against the fold form at sf0.01 and sf0.1.
    */
  private def polyWindowHashCtes: String = {
    val p = 1000000007L
    val terms = (0 until 30).map { dj =>
      val pw = BigInt(31).modPow(BigInt(29 - dj), BigInt(p)).toLong
      if (dj == 0) s"o * $pw" else s"LEAD(o, $dj) OVER w * $pw"
    }.mkString(" + ")
    """d AS (SELECT doc_id,
      |    lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t FROM documents),
      |ch AS (SELECT doc_id, length(t) AS len,
      |    UNNEST(list_transform(string_split_regex(t, ''),
      |      c -> CAST(ord(c) AS BIGINT))) AS o,
      |    generate_subscripts(string_split_regex(t, ''), 1) AS j
      |  FROM d WHERE length(t) >= 30),""".stripMargin + "\n" +
      s"""g AS (SELECT doc_id, CAST(j - 1 AS BIGINT) AS pos,
        |    ($terms) % $p AS gh
        |  FROM ch
        |  WINDOW w AS (PARTITION BY doc_id ORDER BY j)
        |  QUALIFY j <= len - 29)""".stripMargin
  }

  // DuckDB-side 3-shingle relation (LEAD-based; equivalent to the
  // Spark transform/slice construction).
  private val shingleCte =
    """w AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
      |tok AS (SELECT doc_id, UNNEST(ws) AS word, generate_subscripts(ws, 1) AS pos FROM w),
      |sh AS (SELECT DISTINCT doc_id, word || ' ' || l1 || ' ' || l2 AS s FROM (
      |  SELECT doc_id, word,
      |    LEAD(word, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS l1,
      |    LEAD(word, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS l2 FROM tok)
      |  WHERE l1 IS NOT NULL AND l2 IS NOT NULL),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)""".stripMargin

  /** DuckDB replay of `minhashLshPairs(..., 64, 16, 0.4, Md5Portable)`:
    * base hash = first 15 md5 hex digits of the shingle string (the
    * '0x'-prefix BIGINT cast is DuckDB's conv equivalent), permutation
    * mins with the EXACT coefficients the Spark side draws from its
    * fixed seed, band keys as md5 of the comma-joined 4-slice, then the
    * same candidate-join + exact-Jaccard tail as q_t_jaccard_pairs.
    * All operands stay positive so `%` ≡ pmod on both engines.
    */
  /** The MinHash-LSH candidate CTE chain (Md5Portable family, 64
    * hashes × 16 bands) shared by every oracle that verifies LSH
    * candidates — ends in `cand(doc_a, doc_b)`. Replays the engine's
    * sketch bit-for-bit: permutation mins, band md5 keys, bucket join.
    */
  private[graft] def minhashCandCtes: String = {
    val p = Dedup.MinhashPrime
    val mins = Dedup.minhashCoefficients(64).zipWithIndex.map {
      case ((a, b), i) => s"MIN((h * $a + $b) % $p) AS m$i"
    }.mkString(",\n|    ")
    val bandRows = (0 until 16).map { j =>
      val parts = (j * 4 until j * 4 + 4)
        .map(i => s"CAST(m$i AS VARCHAR)").mkString(" || ',' || ")
      s"SELECT doc_id, $j AS band, CAST(('0x' || substring(md5($parts), 1, 15)) AS BIGINT) AS key FROM sig"
    }.mkString("\n|  UNION ALL ")
    s"""$shingleCte,
       |hb AS (SELECT doc_id,
       |    CAST(('0x' || substring(md5(s), 1, 15)) AS BIGINT) % $p AS h
       |  FROM sh),
       |sig AS (SELECT doc_id,
       |    $mins
       |  FROM hb GROUP BY doc_id),
       |band AS ($bandRows),
       |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM band a JOIN band b ON a.band = b.band AND a.key = b.key
       |    AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)""".stripMargin
  }

  private def minhashLshOracleSql: String = {
    s"""WITH $minhashCandCtes,
       |pairs AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
       |  FROM cand c
       |  JOIN sh sa ON sa.doc_id = c.doc_a
       |  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.s = sa.s
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  FLOOR((CAST(inter AS DOUBLE) / (sa.n + sb.n - inter)) * 1000000 + 0.5) / 1000000 AS jaccard
       |FROM pairs JOIN sizes sa ON doc_a = sa.doc_id
       |           JOIN sizes sb ON doc_b = sb.doc_id
       |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.4
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** DuckDB replay of `simhashNearDups(..., maxHamming = 3,
    * Md5Portable)`: every token OCCURRENCE votes ±1 per bit (no
    * distinct), sketch bits assemble from vote signs, 4 chunks of 16
    * bits band the candidates, and the exact Hamming filter decides.
    * The 60-bit md5 base keeps every sketch positive — identical
    * shift/mask semantics on both engines.
    */
  private def simhashOracleSql: String = {
    val votes = (0 until 64).map(k =>
      s"SUM(CASE WHEN (h >> $k) & 1 = 1 THEN 1 ELSE -1 END) AS v$k")
      .mkString(",\n|    ")
    val bits = (0 until 64).map(k =>
      s"(CASE WHEN v$k > 0 THEN (CAST(1 AS BIGINT) << $k) ELSE CAST(0 AS BIGINT) END)")
      .mkString("\n|    | ")
    val chunks = (0 until 4).map(j =>
      s"SELECT doc_id, simhash, $j AS chunk_i, (simhash >> ${j * 16}) & 65535 AS chunk_v FROM sk")
      .mkString("\n|  UNION ALL ")
    s"""WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
       |tok AS (SELECT doc_id, UNNEST(ws) AS tok FROM w),
       |hb AS (SELECT doc_id,
       |    CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) AS h
       |  FROM tok),
       |votes AS (SELECT doc_id,
       |    $votes
       |  FROM hb GROUP BY doc_id),
       |sk AS (SELECT doc_id,
       |    $bits AS simhash
       |  FROM votes),
       |chunks AS ($chunks),
       |cand AS (SELECT a.doc_id AS doc_a, a.simhash AS sim_a,
       |    b.doc_id AS doc_b, b.simhash AS sim_b
       |  FROM chunks a JOIN chunks b
       |    ON a.chunk_i = b.chunk_i AND a.chunk_v = b.chunk_v
       |    AND a.doc_id < b.doc_id)
       |SELECT DISTINCT doc_a, doc_b,
       |  CAST(bit_count(xor(sim_a, sim_b)) AS INTEGER) AS hamming
       |FROM cand
       |WHERE bit_count(xor(sim_a, sim_b)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // DuckDB-side PQ codebook + encoding (dim 64, m=4 sub-spaces, k=4
  // codes, one Lloyd step from the 4 lowest-id seeds) — mirrors
  // Similarity.pqTrain/pqEncode arithmetic exactly: squared L2 as three
  // inner products rounded at 6 dp, DECIMAL-exact mean update.
  private val pqCte =
    """e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |    FROM embeddings),
      |sub AS (SELECT vec_id, CAST(j AS INTEGER) AS sub,
      |    v[CAST(j*16+1 AS INT):CAST(j*16+16 AS INT)] AS sv
      |  FROM e, (SELECT UNNEST(range(0, 4)) AS j)),
      |c0 AS (SELECT sub,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY sub ORDER BY vec_id) - 1 AS BIGINT) AS code,
      |    sv AS centroid
      |  FROM sub WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 4)),
      |asg0 AS (SELECT s.vec_id, s.sub,
      |    MIN(struct_pack(d2 := FLOOR((list_inner_product(s.sv, s.sv)
      |        + list_inner_product(c.centroid, c.centroid)
      |        - 2 * list_inner_product(s.sv, c.centroid)) * 1000000 + 0.5) / 1000000, code := c.code)) AS m,
      |    ANY_VALUE(s.sv) AS sv
      |  FROM sub s JOIN c0 c ON s.sub = c.sub GROUP BY s.vec_id, s.sub),
      |u0 AS (SELECT sub, m.code AS code, UNNEST(sv) AS x,
      |    CAST(generate_subscripts(sv, 1) - 1 AS INTEGER) AS pos FROM asg0),
      |mean AS (SELECT sub, code, pos,
      |    FLOOR((CAST(SUM(CAST(x AS DECIMAL(38,16))) AS DOUBLE) / COUNT(*)) * 1000000 + 0.5) / 1000000 AS mn
      |  FROM u0 GROUP BY 1, 2, 3),
      |newc AS (SELECT sub, code, list(mn ORDER BY pos) AS centroid
      |  FROM mean GROUP BY 1, 2),
      |cb AS (SELECT c0.sub, c0.code, COALESCE(n.centroid, c0.centroid) AS centroid
      |  FROM c0 LEFT JOIN newc n ON c0.sub = n.sub AND c0.code = n.code),
      |enc0 AS (SELECT s.vec_id, s.sub,
      |    MIN(struct_pack(d2 := FLOOR((list_inner_product(s.sv, s.sv)
      |        + list_inner_product(c.centroid, c.centroid)
      |        - 2 * list_inner_product(s.sv, c.centroid)) * 1000000 + 0.5) / 1000000, code := c.code)) AS m
      |  FROM sub s JOIN cb c ON s.sub = c.sub GROUP BY s.vec_id, s.sub),
      |enc AS (SELECT vec_id, sub, m.code AS code FROM enc0)""".stripMargin

  /** Production-hash twins of the two sketch queries: identical plans
    * to q_t_minhash_lsh / q_t_simhash but under the Xx64 default family
    * (codegen'd xxhash64, ~2× cheaper than the md5-derived portable
    * family the oracles need). Bench-only — xxhash64 has no DuckDB
    * counterpart, so an oracle row would only be rows-only noise; the
    * family-equivalence itself is spec-asserted in TextOpsSpec.
    */
  override def benchOnly: Map[String, Q] = Map(
    "q_t_minhash_lsh_xx64" -> ((s, dir) =>
      Dedup.minhashLshPairs(Tables.documents(s, dir), "doc_id", "text",
          shingleN = 3, numHashes = 64, bands = 16, threshold = 0.4,
          family = HashFamily.Xx64)
        .orderBy("doc_a", "doc_b")),
    "q_t_simhash_xx64" -> ((s, dir) =>
      Dedup.simhashNearDups(Tables.documents(s, dir), "doc_id", "text",
          maxHamming = 3, family = HashFamily.Xx64)
        .orderBy("doc_a", "doc_b")),
  )

  override def oracle: Map[String, String] = Map(
    // Full MinHash-LSH replay under the Md5Portable family: the same
    // 64 fixed-seed permutation coefficients (embedded as literals via
    // Dedup.minhashCoefficients — single source of truth), the same
    // 60-bit md5 base hash, the same 16 band keys, candidate join and
    // exact-Jaccard verification.
    "q_t_minhash_lsh" -> minhashLshOracleSql,

    // Full SimHash replay: per-occurrence token hashes, 64 bit votes,
    // 4×16-bit chunk banding, exact Hamming filter.
    "q_t_simhash" -> simhashOracleSql,

    // Same LSH candidate replay, then the character-level verify:
    // length-gap prefilter, levenshtein over normalized text, keep
    // rounded sim ≥ 0.5 (filter on the ROUNDED value, as the engine
    // does — a boundary pair must decide identically in both engines).
    "q_t_edit_verify" ->
      s"""WITH $minhashCandCtes,
         |d AS (SELECT doc_id,
         |    lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS t
         |  FROM documents),
         |v AS (SELECT c.doc_a, c.doc_b,
         |    CASE WHEN GREATEST(length(da.t), length(db.t)) = 0 THEN 1.0
         |         ELSE FLOOR((1.0 - CAST(levenshtein(da.t, db.t) AS DOUBLE)
         |           / GREATEST(length(da.t), length(db.t))) * 1000000 + 0.5) / 1000000 END AS edit_sim
         |  FROM cand c
         |  JOIN d da ON da.doc_id = c.doc_a
         |  JOIN d db ON db.doc_id = c.doc_b
         |  WHERE ABS(length(da.t) - length(db.t))
         |    <= 0.5 * GREATEST(length(da.t), length(db.t)))
         |SELECT doc_a, doc_b, edit_sim FROM v WHERE edit_sim >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,

    "q_t_exact_dedup" ->
      s"""SELECT COUNT(*) AS n_docs,
         |  COUNT(DISTINCT $fpSql) AS n_distinct_texts,
         |  COUNT(*) - COUNT(DISTINCT $fpSql) AS n_dup_rows
         |FROM documents""".stripMargin,

    "q_t_fingerprint" ->
      s"SELECT doc_id, $fpSql AS fp FROM documents ORDER BY doc_id",

    "q_t_rolling_hash" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(
        |        string_split_regex(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ''),
        |        c -> CAST(ord(c) AS BIGINT))),
        |    (acc, c) -> (acc * 31 + c) % 1000000007) AS rhash
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_t_repsub" ->
      s"""WITH $polyWindowHashCtes,
        |r AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(*) >= 2),
        |h AS (SELECT doc_id, pos FROM g JOIN r USING (gh)),
        |isl AS (SELECT doc_id, pos,
        |    SUM(CASE WHEN prev IS NOT NULL AND pos - prev <= 30 THEN 0 ELSE 1 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |  FROM (SELECT doc_id, pos,
        |      LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM h))
        |SELECT doc_id, MIN(pos) AS span_start,
        |  MAX(pos) - MIN(pos) + 30 AS span_len
        |FROM isl GROUP BY doc_id, island
        |ORDER BY doc_id, span_start""".stripMargin,

    "q_t_boilerplate" ->
      // the representative argmin is MIN over (doc_id·2^32 + pos) — the
      // same lexicographic (id, pos) minimum as MIN(struct_pack(...)),
      // since 0 <= pos < 2^32 — because DuckDB 1.0 executes a DISTINCT
      // aggregate NEXT TO a struct MIN in one GROUP BY catastrophically
      // (322 s at sf0.1 vs 3.5 s packed; either aggregate alone <= 4 s)
      s"""WITH $polyWindowHashCtes,
        |a AS (SELECT gh, COUNT(*) AS n_occurrences,
        |    COUNT(DISTINCT doc_id) AS n_docs,
        |    MIN(doc_id * 4294967296 + pos) AS rp
        |  FROM g GROUP BY gh HAVING COUNT(*) > 1
        |  ORDER BY n_occurrences DESC, gh LIMIT 10)
        |SELECT substr(d.t, CAST(a.rp % 4294967296 + 1 AS INT), 30) AS fragment,
        |  a.n_occurrences, a.n_docs
        |FROM a JOIN d ON d.doc_id = a.rp // 4294967296
        |ORDER BY n_occurrences DESC, fragment""".stripMargin,

    "q_t_jaccard_pairs" ->
      s"""WITH $shingleCte,
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |  FLOOR((CAST(inter AS DOUBLE) / (sa.n + sb.n - inter)) * 1000000 + 0.5) / 1000000 AS jaccard
         |FROM pairs JOIN sizes sa ON doc_a = sa.doc_id
         |           JOIN sizes sb ON doc_b = sb.doc_id
         |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.4
         |ORDER BY doc_a, doc_b""".stripMargin,

    // Recursive CTE reachability: every (node, seed) pair in a
    // component, then MIN(seed) per node = the cluster id.
    "q_t_dedup_clusters" ->
      s"""WITH RECURSIVE $shingleCte,
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
         |jp AS (SELECT doc_a, doc_b
         |  FROM p JOIN sizes sa ON doc_a = sa.doc_id
         |         JOIN sizes sb ON doc_b = sb.doc_id
         |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.4),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM jp
         |  UNION SELECT doc_b, doc_a FROM jp),
         |nodes AS (SELECT DISTINCT src AS node FROM edges),
         |reach(node, lbl) AS (
         |  SELECT node, node FROM nodes
         |  UNION
         |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
         |cc AS (SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node)
         |SELECT cluster_id, COUNT(*) AS n_members FROM cc
         |GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,

    // Same cluster replay as q_t_near_dedup, but the survivor window
    // orders by quality DESC, id — the engine's min(struct(−q, id)).
    "q_t_curate_best" ->
      s"""WITH RECURSIVE $shingleCte,
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
         |jp AS (SELECT doc_a, doc_b
         |  FROM p JOIN sizes sa ON doc_a = sa.doc_id
         |         JOIN sizes sb ON doc_b = sb.doc_id
         |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.4),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM jp
         |  UNION SELECT doc_b, doc_a FROM jp),
         |gnodes AS (SELECT DISTINCT src AS node FROM edges),
         |reach(node, lbl) AS (
         |  SELECT node, node FROM gnodes
         |  UNION
         |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
         |cc AS (SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node),
         |qb AS (SELECT doc_id, source,
         |    len(string_split(trim(text), ' ')) AS n_toks,
         |    LENGTH(text) AS n_chars,
         |    len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))
         |      - len(string_split(trim(text), ' ')) AS n_punct,
         |    len(list_filter(string_split(trim(lower(text)), ' '),
         |      x -> x IN ('the','a','of','and','to','in','is','that'))) AS stop_hits
         |  FROM documents),
         |q AS (SELECT doc_id, source, FLOOR((
         |    LEAST(CAST(n_toks AS DOUBLE) * 0.2, 4.0)
         |  + LEAST(CAST(stop_hits AS DOUBLE) / n_toks * 10.0, 4.0)
         |  + CASE WHEN n_chars > 50 THEN 2.0 ELSE CAST(n_chars AS DOUBLE) / 25.0 END
         |  - LEAST(GREATEST(CAST(n_punct AS DOUBLE), 0.0) * 0.5, 2.0)) * 1000000 + 0.5) / 1000000 AS qs
         |  FROM qb),
         |wn AS (SELECT cc.node, ROW_NUMBER() OVER (PARTITION BY cc.cluster_id
         |    ORDER BY q.qs DESC, cc.node) AS rn
         |  FROM cc JOIN q ON q.doc_id = cc.node),
         |losers AS (SELECT node FROM wn WHERE rn > 1)
         |SELECT source, COUNT(*) AS n_kept, MIN(doc_id) AS min_kept_id,
         |  FLOOR((CAST(SUM(CAST(qs AS DECIMAL(28,12))) AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS sum_quality
         |FROM q WHERE doc_id NOT IN (SELECT node FROM losers)
         |GROUP BY source ORDER BY source""".stripMargin,

    "q_t_near_dedup" ->
      s"""WITH RECURSIVE $shingleCte,
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
         |jp AS (SELECT doc_a, doc_b
         |  FROM p JOIN sizes sa ON doc_a = sa.doc_id
         |         JOIN sizes sb ON doc_b = sb.doc_id
         |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.4),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM jp
         |  UNION SELECT doc_b, doc_a FROM jp),
         |gnodes AS (SELECT DISTINCT src AS node FROM edges),
         |reach(node, lbl) AS (
         |  SELECT node, node FROM gnodes
         |  UNION
         |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
         |cc AS (SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node),
         |losers AS (SELECT node FROM cc WHERE node <> cluster_id)
         |SELECT source, COUNT(*) AS n_kept, MIN(doc_id) AS min_kept_id
         |FROM documents WHERE doc_id NOT IN (SELECT node FROM losers)
         |GROUP BY source ORDER BY source""".stripMargin,

    // Identical semantics to q_t_jaccard_pairs — the prefix filter only
    // prunes candidates, never results — so the oracle is the same SQL.
    "q_t_jaccard_prefix" ->
      s"""WITH $shingleCte,
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |  FLOOR((CAST(inter AS DOUBLE) / (sa.n + sb.n - inter)) * 1000000 + 0.5) / 1000000 AS jaccard
         |FROM pairs JOIN sizes sa ON doc_a = sa.doc_id
         |           JOIN sizes sb ON doc_b = sb.doc_id
         |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.4
         |ORDER BY doc_a, doc_b""".stripMargin,

    // Slice token counts, full-outer alignment, per-token mixture
    // term with the engine's exact expression tree, DECIMAL-summed.
    "q_t_jsd" ->
      """WITH t AS (SELECT lang AS s, UNNEST(string_split(
        |      lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS tok
        |  FROM documents WHERE lang IN ('en', 'de')),
        |c AS (SELECT s, tok, COUNT(*) AS c FROM t WHERE tok <> '' GROUP BY 1, 2),
        |a AS (SELECT tok, c AS ca FROM c WHERE s = 'en'),
        |b AS (SELECT tok, c AS cb FROM c WHERE s = 'de'),
        |nn AS (SELECT SUM(CASE WHEN s = 'en' THEN c END) AS na,
        |    SUM(CASE WHEN s = 'de' THEN c END) AS nb FROM c),
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

    // Window replay of the bounded per-doc top-k (tfidf DESC, term).
    "q_t_keywords" ->
      """WITH toks AS (SELECT doc_id,
        |    UNNEST(string_split(trim(lower(text)), ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |dl AS (SELECT doc_id, COUNT(*) AS n_toks FROM toks GROUP BY 1),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
        |scored AS (SELECT tf.doc_id, tf.term,
        |    FLOOR((CAST(tf AS DOUBLE) / n_toks * LN(CAST(n_docs AS DOUBLE) / df)) * 1000000 + 0.5) / 1000000 AS tfidf
        |  FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (term) CROSS JOIN nd),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, term) AS "rank"
        |  FROM scored)
        |SELECT doc_id, "rank", term, tfidf FROM r WHERE "rank" <= 3
        |ORDER BY doc_id, "rank"""".stripMargin,

    "q_t_tfidf" ->
      """WITH toks AS (SELECT doc_id,
        |    UNNEST(string_split(trim(lower(text)), ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |dl AS (SELECT doc_id, COUNT(*) AS n_toks FROM toks GROUP BY 1),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
        |scored AS (SELECT tf.doc_id, tf.term,
        |    FLOOR((CAST(tf AS DOUBLE) / n_toks * LN(CAST(n_docs AS DOUBLE) / df)) * 1000000 + 0.5) / 1000000 AS tfidf
        |  FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (term) CROSS JOIN nd),
        |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, term) AS INTEGER) AS rk
        |  FROM scored WHERE doc_id < 10)
        |SELECT doc_id, term, tfidf, rk FROM r WHERE rk <= 3
        |ORDER BY doc_id, rk""".stripMargin,

    "q_t_cosine_topk" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |e AS (SELECT vec_id, UNNEST(embedding) AS x,
        |        generate_subscripts(embedding, 1) AS i FROM embeddings),
        |qe AS (SELECT UNNEST(qv) AS qx, generate_subscripts(qv, 1) AS i FROM q),
        |d AS (SELECT vec_id,
        |        SUM(CAST(x AS DOUBLE) * CAST(qx AS DOUBLE)) AS dot,
        |        SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS n2
        |      FROM e JOIN qe USING (i) GROUP BY vec_id),
        |qn AS (SELECT SQRT(SUM(CAST(qx AS DOUBLE) * CAST(qx AS DOUBLE))) AS qnorm FROM qe)
        |SELECT vec_id, FLOOR((dot / (SQRT(n2) * qnorm)) * 1000000 + 0.5) / 1000000 AS cos_sim
        |FROM d, qn ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,

    "q_t_cosine_bucketed" ->
      """WITH e AS (SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |p AS (SELECT a.label AS bucket, a.vec_id AS id_a, b.vec_id AS id_b,
        |    FLOOR((list_cosine_similarity(a.v, b.v)) * 1000000 + 0.5) / 1000000 AS cos_sim
        |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY bucket
        |    ORDER BY cos_sim DESC, id_a, id_b) AS rn FROM p)
        |SELECT bucket, id_a, id_b, cos_sim FROM r WHERE rn <= 2
        |ORDER BY bucket, id_a, id_b""".stripMargin,

    "q_t_decontam" ->
      s"""WITH $shingleCte,
         |bsh AS (SELECT DISTINCT s FROM sh WHERE doc_id % 20 = 0),
         |shared AS (SELECT sh.doc_id, COUNT(*) AS n_shared
         |  FROM sh JOIN bsh ON sh.s = bsh.s GROUP BY 1),
         |bad AS (SELECT doc_id FROM shared WHERE n_shared >= 2)
         |SELECT source, COUNT(*) AS n_kept, MIN(doc_id) AS min_kept_id
         |FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM bad)
         |GROUP BY source ORDER BY source""".stripMargin,

    "q_t_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(trim(lower(text)), ' ') AS toks
        |  FROM documents WHERE doc_id < 50),
        |b AS (SELECT doc_id, toks, CAST(len(toks) AS INTEGER) AS n_toks
        |  FROM t WHERE len(toks) >= 2),
        |bg AS (SELECT doc_id, n_toks, UNNEST(list_transform(
        |    generate_series(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i + 1])) AS bg
        |  FROM b),
        |bc AS (SELECT doc_id, n_toks, bg, COUNT(*) AS c FROM bg GROUP BY 1, 2, 3),
        |mb AS (SELECT doc_id, n_toks, MAX(c) AS max_bg FROM bc GROUP BY 1, 2)
        |SELECT b.doc_id, b.n_toks,
        |  FLOOR((1 - CAST(len(list_distinct(toks)) AS DOUBLE) / b.n_toks) * 1000000 + 0.5) / 1000000 AS dup_token_frac,
        |  FLOOR((CAST(max_bg AS DOUBLE) / (b.n_toks - 1)) * 1000000 + 0.5) / 1000000 AS top_bigram_frac,
        |  FLOOR((CAST(length(array_to_string(toks, '')) AS DOUBLE) / b.n_toks) * 1000000 + 0.5) / 1000000 AS mean_token_len
        |FROM b JOIN mb ON b.doc_id = mb.doc_id AND b.n_toks = mb.n_toks
        |ORDER BY b.doc_id""".stripMargin,

    "q_t_redact" ->
      """WITH d AS (SELECT doc_id, text || CASE
        |    WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
        |    WHEN doc_id % 7 = 0 THEN ' call 555-123-4567'
        |    ELSE '' END AS text2
        |  FROM documents WHERE doc_id < 40)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
        |  CAST(len(regexp_extract_all(text2, '\d{3}[-.]\d{3}[-.]\d{4}')) AS INTEGER) AS n_phones,
        |  regexp_replace(regexp_replace(text2,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\d{3}[-.]\d{3}[-.]\d{4}', '<PHONE>', 'g') AS redacted_text
        |FROM d ORDER BY doc_id""".stripMargin,

    "q_t_kmeans" ->
      """WITH c0 AS (SELECT CAST(vec_id AS BIGINT) AS bucket,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
        |  FROM embeddings ORDER BY vec_id LIMIT 4),
        |e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |s AS (SELECT e.vec_id, e.v, c0.bucket,
        |    FLOOR((list_cosine_similarity(e.v, c0.cv)) * 1000000 + 0.5) / 1000000 AS sim FROM e CROSS JOIN c0),
        |a AS (SELECT vec_id, MAX(struct_pack(sim := sim, bucket := bucket)) AS m,
        |    ANY_VALUE(v) AS v FROM s GROUP BY vec_id),
        |u AS (SELECT m.bucket AS bucket, UNNEST(v) AS x,
        |    CAST(generate_subscripts(v, 1) - 1 AS INTEGER) AS dim_pos FROM a)
        |SELECT bucket, dim_pos,
        |  FLOOR((CAST(SUM(CAST(x AS DECIMAL(38,16))) AS DOUBLE) / COUNT(*)) * 1000000 + 0.5) / 1000000 AS c_val
        |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_t_ivf_assign" ->
      """WITH c0 AS (SELECT CAST(vec_id AS BIGINT) AS bucket,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
        |  FROM embeddings ORDER BY vec_id LIMIT 4),
        |e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |s AS (SELECT e.vec_id, e.v, c0.bucket,
        |    FLOOR((list_cosine_similarity(e.v, c0.cv)) * 1000000 + 0.5) / 1000000 AS sim FROM e CROSS JOIN c0),
        |a AS (SELECT vec_id, MAX(struct_pack(sim := sim, bucket := bucket)) AS m,
        |    ANY_VALUE(v) AS v FROM s GROUP BY vec_id),
        |u AS (SELECT m.bucket AS bucket, UNNEST(v) AS x,
        |    generate_subscripts(v, 1) AS dim_pos FROM a),
        |mn AS (SELECT bucket, dim_pos,
        |    FLOOR((CAST(SUM(CAST(x AS DECIMAL(38,16))) AS DOUBLE) / COUNT(*)) * 1000000 + 0.5) / 1000000 AS c_val
        |  FROM u GROUP BY 1, 2),
        |cl AS (SELECT bucket, list(c_val ORDER BY dim_pos) AS cv FROM mn GROUP BY bucket),
        |s2 AS (SELECT e.vec_id, cl.bucket,
        |    FLOOR((list_cosine_similarity(e.v, cl.cv)) * 1000000 + 0.5) / 1000000 AS sim FROM e CROSS JOIN cl),
        |a2 AS (SELECT vec_id,
        |    MAX(struct_pack(sim := sim, bucket := bucket)) AS m FROM s2 GROUP BY vec_id)
        |SELECT m.bucket AS bucket, COUNT(*) AS n_vecs, MAX(m.sim) AS max_sim
        |FROM a2 GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_t_ivf_probe" ->
      """WITH c0 AS (SELECT CAST(vec_id AS BIGINT) AS bucket,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
        |  FROM embeddings ORDER BY vec_id LIMIT 4),
        |e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |s AS (SELECT e.vec_id, e.v, c0.bucket,
        |    FLOOR((list_cosine_similarity(e.v, c0.cv)) * 1000000 + 0.5) / 1000000 AS sim FROM e CROSS JOIN c0),
        |a AS (SELECT vec_id, MAX(struct_pack(sim := sim, bucket := bucket)) AS m,
        |    ANY_VALUE(v) AS v FROM s GROUP BY vec_id),
        |u AS (SELECT m.bucket AS bucket, UNNEST(v) AS x,
        |    generate_subscripts(v, 1) AS dim_pos FROM a),
        |mn AS (SELECT bucket, dim_pos,
        |    FLOOR((CAST(SUM(CAST(x AS DECIMAL(38,16))) AS DOUBLE) / COUNT(*)) * 1000000 + 0.5) / 1000000 AS c_val
        |  FROM u GROUP BY 1, 2),
        |cl AS (SELECT bucket, list(c_val ORDER BY dim_pos) AS cv FROM mn GROUP BY bucket),
        |s2 AS (SELECT e.vec_id, e.v, cl.bucket,
        |    FLOOR((list_cosine_similarity(e.v, cl.cv)) * 1000000 + 0.5) / 1000000 AS sim FROM e CROSS JOIN cl),
        |dba AS (SELECT vec_id,
        |    (MAX(struct_pack(sim := sim, bucket := bucket))).bucket AS bucket,
        |    ANY_VALUE(v) AS v FROM s2 GROUP BY vec_id),
        |q AS (SELECT v FROM e WHERE vec_id = 0),
        |qp AS (SELECT cl.bucket,
        |    ROW_NUMBER() OVER (ORDER BY
        |      FLOOR((list_cosine_similarity((SELECT v FROM q), cl.cv)) * 1000000 + 0.5) / 1000000 DESC,
        |      cl.bucket) AS pr
        |  FROM cl),
        |cand AS (SELECT dba.vec_id, dba.v FROM dba
        |  JOIN qp ON dba.bucket = qp.bucket AND qp.pr <= 2)
        |SELECT cand.vec_id,
        |  FLOOR((list_cosine_similarity(cand.v, (SELECT v FROM q))) * 1000000 + 0.5) / 1000000 AS cos_sim
        |FROM cand ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,

    "q_t_semantic_dedup" ->
      """WITH c0 AS (SELECT CAST(vec_id AS BIGINT) AS bucket,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
        |  FROM embeddings ORDER BY vec_id LIMIT 4),
        |e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |s AS (SELECT e.vec_id, e.v, c0.bucket,
        |    FLOOR((list_cosine_similarity(e.v, c0.cv)) * 1000000 + 0.5) / 1000000 AS sim FROM e CROSS JOIN c0),
        |a AS (SELECT vec_id, MAX(struct_pack(sim := sim, bucket := bucket)) AS m,
        |    ANY_VALUE(v) AS v FROM s GROUP BY vec_id),
        |u AS (SELECT m.bucket AS bucket, UNNEST(v) AS x,
        |    generate_subscripts(v, 1) AS dim_pos FROM a),
        |mn AS (SELECT bucket, dim_pos,
        |    FLOOR((CAST(SUM(CAST(x AS DECIMAL(38,16))) AS DOUBLE) / COUNT(*)) * 1000000 + 0.5) / 1000000 AS c_val
        |  FROM u GROUP BY 1, 2),
        |cl AS (SELECT bucket, list(c_val ORDER BY dim_pos) AS cv FROM mn GROUP BY bucket),
        |s2 AS (SELECT e.vec_id, e.v, cl.bucket,
        |    FLOOR((list_cosine_similarity(e.v, cl.cv)) * 1000000 + 0.5) / 1000000 AS sim FROM e CROSS JOIN cl),
        |a2 AS (SELECT vec_id, MAX(struct_pack(sim := sim, bucket := bucket)) AS m,
        |    ANY_VALUE(v) AS v FROM s2 GROUP BY vec_id),
        |asg AS (SELECT vec_id, m.bucket AS bucket, v FROM a2),
        |losers AS (SELECT DISTINCT b.vec_id FROM asg a JOIN asg b
        |  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        |  WHERE FLOOR((list_cosine_similarity(a.v, b.v)) * 1000000 + 0.5) / 1000000 >= 0.35)
        |SELECT vec_id, bucket FROM asg
        |WHERE vec_id NOT IN (SELECT vec_id FROM losers)
        |ORDER BY vec_id""".stripMargin,

    "q_t_pq_codes" ->
      s"""WITH $pqCte
         |SELECT vec_id, sub, code FROM enc ORDER BY vec_id, sub""".stripMargin,

    // ADC shortlist-50 replay, then exact cosine over the survivors
    // (list_inner_product form, as q_t_cosine_bucketed).
    "q_t_pq_rerank" ->
      s"""WITH $pqCte,
         |q AS (SELECT v FROM e WHERE vec_id = 0),
         |qsub AS (SELECT CAST(j AS INTEGER) AS sub,
         |    (SELECT v FROM q)[CAST(j*16+1 AS INT):CAST(j*16+16 AS INT)] AS qv
         |  FROM (SELECT UNNEST(range(0, 4)) AS j)),
         |lut AS (SELECT cb.sub, cb.code,
         |    FLOOR((list_inner_product(qs.qv, qs.qv)
         |      + list_inner_product(cb.centroid, cb.centroid)
         |      - 2 * list_inner_product(qs.qv, cb.centroid)) * 1000000 + 0.5) / 1000000 AS qd2
         |  FROM cb JOIN qsub qs ON cb.sub = qs.sub),
         |cand AS (SELECT enc.vec_id, FLOOR((SUM(l.qd2)) * 1000000 + 0.5) / 1000000 AS adc_dist
         |  FROM enc JOIN lut l ON enc.sub = l.sub AND enc.code = l.code
         |  GROUP BY 1 ORDER BY adc_dist, vec_id LIMIT 50)
         |SELECT e.vec_id,
         |  FLOOR((list_cosine_similarity(e.v, (SELECT v FROM q))) * 1000000 + 0.5) / 1000000 AS cos_sim
         |FROM e JOIN cand c ON e.vec_id = c.vec_id
         |ORDER BY cos_sim DESC, e.vec_id LIMIT 10""".stripMargin,

    "q_t_pq_search" ->
      s"""WITH $pqCte,
         |q AS (SELECT v FROM e WHERE vec_id = 0),
         |qsub AS (SELECT CAST(j AS INTEGER) AS sub,
         |    (SELECT v FROM q)[CAST(j*16+1 AS INT):CAST(j*16+16 AS INT)] AS qv
         |  FROM (SELECT UNNEST(range(0, 4)) AS j)),
         |lut AS (SELECT cb.sub, cb.code,
         |    FLOOR((list_inner_product(qs.qv, qs.qv)
         |      + list_inner_product(cb.centroid, cb.centroid)
         |      - 2 * list_inner_product(qs.qv, cb.centroid)) * 1000000 + 0.5) / 1000000 AS qd2
         |  FROM cb JOIN qsub qs ON cb.sub = qs.sub)
         |SELECT enc.vec_id, FLOOR((SUM(l.qd2)) * 1000000 + 0.5) / 1000000 AS adc_dist
         |FROM enc JOIN lut l ON enc.sub = l.sub AND enc.code = l.code
         |GROUP BY 1 ORDER BY adc_dist, vec_id LIMIT 10""".stripMargin,

    "q_t_pq_recall" ->
      s"""WITH $pqCte,
         |q AS (SELECT v FROM e WHERE vec_id = 0),
         |qsub AS (SELECT CAST(j AS INTEGER) AS sub,
         |    (SELECT v FROM q)[CAST(j*16+1 AS INT):CAST(j*16+16 AS INT)] AS qv
         |  FROM (SELECT UNNEST(range(0, 4)) AS j)),
         |lut AS (SELECT cb.sub, cb.code,
         |    FLOOR((list_inner_product(qs.qv, qs.qv)
         |      + list_inner_product(cb.centroid, cb.centroid)
         |      - 2 * list_inner_product(qs.qv, cb.centroid)) * 1000000 + 0.5) / 1000000 AS qd2
         |  FROM cb JOIN qsub qs ON cb.sub = qs.sub),
         |adc AS (SELECT enc.vec_id, FLOOR((SUM(l.qd2)) * 1000000 + 0.5) / 1000000 AS adc_dist
         |  FROM enc JOIN lut l ON enc.sub = l.sub AND enc.code = l.code
         |  GROUP BY 1 ORDER BY adc_dist, vec_id LIMIT 10),
         |exact AS (SELECT e.vec_id,
         |    FLOOR((list_inner_product(e.v, e.v)
         |      + list_inner_product(q.v, q.v)
         |      - 2 * list_inner_product(e.v, q.v)) * 1000000 + 0.5) / 1000000 AS d2
         |  FROM e CROSS JOIN q ORDER BY d2, vec_id LIMIT 10)
         |SELECT CAST(10 AS INT) AS k, COUNT(*) AS n_overlap
         |FROM adc JOIN exact USING (vec_id)""".stripMargin,

    "q_t_gram" ->
      """WITH e AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |ex AS (SELECT v, UNNEST(v) AS xi,
        |    CAST(generate_subscripts(v, 1) - 1 AS INTEGER) AS i FROM e),
        |pair AS (SELECT i, xi, UNNEST(v) AS xj,
        |    CAST(generate_subscripts(v, 1) - 1 AS INTEGER) AS j FROM ex)
        |SELECT i, j,
        |  FLOOR((CAST(SUM(CAST(xi * xj AS DECIMAL(38,16))) AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS s
        |FROM pair GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_t_cosine_pairs" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  FLOOR((list_cosine_similarity(a.v, b.v)) * 1000000 + 0.5) / 1000000 AS cos_sim
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE FLOOR((list_cosine_similarity(a.v, b.v)) * 1000000 + 0.5) / 1000000 >= 0.3
        |ORDER BY id_a, id_b""".stripMargin,

    "q_t_langid" ->
      """WITH t AS (SELECT lang,
        |    string_split(trim(lower(text)), ' ') AS toks FROM documents),
        |h AS (SELECT lang,
        |    len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','that'))) AS h_en,
        |    len(list_filter(toks, x -> x IN ('el','la','de','y','en','los','que','un'))) AS h_es,
        |    len(list_filter(toks, x -> x IN ('der','die','das','und','von','mit','ist','ein'))) AS h_de,
        |    len(list_filter(toks, x -> x IN ('le','la','de','et','les','des','est','un'))) AS h_fr,
        |    len(toks) AS n FROM t),
        |p AS (SELECT lang, CASE
        |    WHEN h_en = GREATEST(h_en, h_es, h_de, h_fr) AND CAST(h_en AS DOUBLE) / n >= 0.05 THEN 'en'
        |    WHEN h_es = GREATEST(h_en, h_es, h_de, h_fr) AND CAST(h_es AS DOUBLE) / n >= 0.05 THEN 'es'
        |    WHEN h_de = GREATEST(h_en, h_es, h_de, h_fr) AND CAST(h_de AS DOUBLE) / n >= 0.05 THEN 'de'
        |    WHEN h_fr = GREATEST(h_en, h_es, h_de, h_fr) AND CAST(h_fr AS DOUBLE) / n >= 0.05 THEN 'fr'
        |    ELSE 'unknown' END AS predicted_lang FROM h)
        |SELECT lang, predicted_lang, COUNT(*) AS cnt FROM p
        |GROUP BY lang, predicted_lang ORDER BY lang, predicted_lang""".stripMargin,

    "q_t_quality" ->
      """WITH b AS (SELECT doc_id, text,
        |    len(string_split(trim(text), ' ')) AS n_toks,
        |    LENGTH(text) AS n_chars,
        |    len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))
        |      - len(string_split(trim(text), ' ')) AS n_punct,
        |    len(list_filter(string_split(trim(lower(text)), ' '),
        |      x -> x IN ('the','a','of','and','to','in','is','that'))) AS stop_hits
        |  FROM documents)
        |SELECT doc_id, FLOOR((
        |    LEAST(CAST(n_toks AS DOUBLE) * 0.2, 4.0)
        |  + LEAST(CAST(stop_hits AS DOUBLE) / n_toks * 10.0, 4.0)
        |  + CASE WHEN n_chars > 50 THEN 2.0 ELSE CAST(n_chars AS DOUBLE) / 25.0 END
        |  - LEAST(GREATEST(CAST(n_punct AS DOUBLE), 0.0) * 0.5, 2.0)) * 1000000 + 0.5) / 1000000 AS quality_score
        |FROM b ORDER BY doc_id""".stripMargin,

    // Replays both GD rounds: round 1 from w=0 collapses to residual
    // (0.5 − y); round 2 uses the exact-DECIMAL margins of the 9-dp
    // w1 against the 9-dp normalized token shares.
    "q_t_quality_model" ->
      """WITH t AS (SELECT doc_id,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
        |    UNNEST(string_split(trim(lower(text)), ' ')) AS tok
        |  FROM documents),
        |f0 AS (SELECT doc_id, y,
        |    CAST(('0x' || substring(md5(tok), 1, 8)) AS BIGINT) % 64 AS feat,
        |    COUNT(*) AS cnt
        |  FROM t WHERE tok <> '' GROUP BY doc_id, y, feat),
        |f AS (SELECT doc_id, y, feat,
        |    CAST(FLOOR((CAST(cnt AS DOUBLE)
        |      / SUM(cnt) OVER (PARTITION BY doc_id)) * 1000000000 + 0.5) / 1000000000 AS DECIMAL(10,9)) AS x
        |  FROM f0),
        |g1 AS (SELECT feat,
        |    SUM(CAST(0.5 - y AS DECIMAL(10,9)) * x) AS gs,
        |    SUM(x) AS mass
        |  FROM f GROUP BY feat),
        |w1 AS (SELECT feat,
        |    GREATEST(-9.999999999, LEAST(9.999999999,
        |      FLOOR((0.0 - 0.5 * (CAST(gs AS DOUBLE) / CAST(mass AS DOUBLE))) * 1000000000 + 0.5) / 1000000000)) AS w
        |  FROM g1),
        |m2 AS (SELECT f.doc_id, f.y,
        |    SUM(CAST(w1.w AS DECIMAL(10,9)) * f.x) AS m
        |  FROM f JOIN w1 USING (feat) GROUP BY f.doc_id, f.y),
        |r2 AS (SELECT doc_id,
        |    FLOOR((1.0 / (1.0 + exp(-CAST(m AS DOUBLE)))) * 1000000000 + 0.5) / 1000000000 - y AS r FROM m2),
        |g2 AS (SELECT f.feat,
        |    SUM(CAST(r2.r AS DECIMAL(10,9)) * f.x) AS gs,
        |    SUM(f.x) AS mass
        |  FROM f JOIN r2 USING (doc_id) GROUP BY f.feat),
        |w2 AS (SELECT w1.feat,
        |    GREATEST(-9.999999999, LEAST(9.999999999,
        |      FLOOR((w1.w - 0.5 * (CAST(g2.gs AS DOUBLE) / CAST(g2.mass AS DOUBLE))) * 1000000000 + 0.5) / 1000000000)) AS w
        |  FROM w1 JOIN g2 ON w1.feat = g2.feat)
        |SELECT feat, FLOOR((w) * 1000000 + 0.5) / 1000000 AS weight FROM w2 ORDER BY feat""".stripMargin,

    // Same two training rounds, then the scoring pass: per-doc margin
    // against w2, σ rounded to 9 dp (token-less docs score 0.5 via the
    // left join), per-lang DECIMAL-summed mean.
    "q_t_quality_model_score" ->
      """WITH t AS (SELECT doc_id,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
        |    UNNEST(string_split(trim(lower(text)), ' ')) AS tok
        |  FROM documents),
        |f0 AS (SELECT doc_id, y,
        |    CAST(('0x' || substring(md5(tok), 1, 8)) AS BIGINT) % 64 AS feat,
        |    COUNT(*) AS cnt
        |  FROM t WHERE tok <> '' GROUP BY doc_id, y, feat),
        |f AS (SELECT doc_id, y, feat,
        |    CAST(FLOOR((CAST(cnt AS DOUBLE)
        |      / SUM(cnt) OVER (PARTITION BY doc_id)) * 1000000000 + 0.5) / 1000000000 AS DECIMAL(10,9)) AS x
        |  FROM f0),
        |g1 AS (SELECT feat,
        |    SUM(CAST(0.5 - y AS DECIMAL(10,9)) * x) AS gs,
        |    SUM(x) AS mass
        |  FROM f GROUP BY feat),
        |w1 AS (SELECT feat,
        |    GREATEST(-9.999999999, LEAST(9.999999999,
        |      FLOOR((0.0 - 0.5 * (CAST(gs AS DOUBLE) / CAST(mass AS DOUBLE))) * 1000000000 + 0.5) / 1000000000)) AS w
        |  FROM g1),
        |m2 AS (SELECT f.doc_id, f.y,
        |    SUM(CAST(w1.w AS DECIMAL(10,9)) * f.x) AS m
        |  FROM f JOIN w1 USING (feat) GROUP BY f.doc_id, f.y),
        |r2 AS (SELECT doc_id,
        |    FLOOR((1.0 / (1.0 + exp(-CAST(m AS DOUBLE)))) * 1000000000 + 0.5) / 1000000000 - y AS r FROM m2),
        |g2 AS (SELECT f.feat,
        |    SUM(CAST(r2.r AS DECIMAL(10,9)) * f.x) AS gs,
        |    SUM(f.x) AS mass
        |  FROM f JOIN r2 USING (doc_id) GROUP BY f.feat),
        |w2 AS (SELECT w1.feat,
        |    GREATEST(-9.999999999, LEAST(9.999999999,
        |      FLOOR((w1.w - 0.5 * (CAST(g2.gs AS DOUBLE) / CAST(g2.mass AS DOUBLE))) * 1000000000 + 0.5) / 1000000000)) AS w
        |  FROM w1 JOIN g2 ON w1.feat = g2.feat),
        |mm AS (SELECT f.doc_id,
        |    SUM(CAST(w2.w AS DECIMAL(10,9)) * f.x) AS m
        |  FROM f JOIN w2 USING (feat) GROUP BY f.doc_id),
        |sc AS (SELECT d.doc_id, d.lang,
        |    FLOOR((1.0 / (1.0 + exp(-CAST(COALESCE(mm.m, 0) AS DOUBLE)))) * 1000000000 + 0.5) / 1000000000 AS score
        |  FROM documents d LEFT JOIN mm ON d.doc_id = mm.doc_id)
        |SELECT lang, COUNT(*) AS n_docs,
        |  FLOOR((CAST(SUM(CAST(score AS DECIMAL(28,12))) AS DOUBLE)
        |    / COUNT(*)) * 1000000 + 0.5) / 1000000 AS avg_score
        |FROM sc GROUP BY lang ORDER BY lang""".stripMargin,

    // Production composition: features over ALL docs once (shares are
    // per-doc, so subset vs full computes the same x), train rounds
    // over the md5-split train half (bucket ≥ 50), scoring left-joins
    // the train-only weights with COALESCE 0 for unseen features, gate
    // at the DECIMAL-exact corpus mean.
    "q_t_quality_gate" ->
      """WITH t AS (SELECT doc_id,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
        |    UNNEST(string_split(trim(lower(text)), ' ')) AS tok
        |  FROM documents),
        |f0 AS (SELECT doc_id, y,
        |    CAST(('0x' || substring(md5(tok), 1, 8)) AS BIGINT) % 64 AS feat,
        |    COUNT(*) AS cnt
        |  FROM t WHERE tok <> '' GROUP BY doc_id, y, feat),
        |f AS (SELECT doc_id, y, feat,
        |    CAST(FLOOR((CAST(cnt AS DOUBLE)
        |      / SUM(cnt) OVER (PARTITION BY doc_id)) * 1000000000 + 0.5) / 1000000000 AS DECIMAL(10,9)) AS x
        |  FROM f0),
        |ft AS (SELECT * FROM f
        |  WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |    AS BIGINT) % 100 >= 50),
        |g1 AS (SELECT feat,
        |    SUM(CAST(0.5 - y AS DECIMAL(10,9)) * x) AS gs,
        |    SUM(x) AS mass
        |  FROM ft GROUP BY feat),
        |w1 AS (SELECT feat,
        |    GREATEST(-9.999999999, LEAST(9.999999999,
        |      FLOOR((0.0 - 0.5 * (CAST(gs AS DOUBLE) / CAST(mass AS DOUBLE))) * 1000000000 + 0.5) / 1000000000)) AS w
        |  FROM g1),
        |m2 AS (SELECT ft.doc_id, ft.y,
        |    SUM(CAST(w1.w AS DECIMAL(10,9)) * ft.x) AS m
        |  FROM ft JOIN w1 USING (feat) GROUP BY ft.doc_id, ft.y),
        |r2 AS (SELECT doc_id,
        |    FLOOR((1.0 / (1.0 + exp(-CAST(m AS DOUBLE)))) * 1000000000 + 0.5) / 1000000000 - y AS r FROM m2),
        |g2 AS (SELECT ft.feat,
        |    SUM(CAST(r2.r AS DECIMAL(10,9)) * ft.x) AS gs,
        |    SUM(ft.x) AS mass
        |  FROM ft JOIN r2 USING (doc_id) GROUP BY ft.feat),
        |w2 AS (SELECT w1.feat,
        |    GREATEST(-9.999999999, LEAST(9.999999999,
        |      FLOOR((w1.w - 0.5 * (CAST(g2.gs AS DOUBLE) / CAST(g2.mass AS DOUBLE))) * 1000000000 + 0.5) / 1000000000)) AS w
        |  FROM w1 JOIN g2 ON w1.feat = g2.feat),
        |mm AS (SELECT f.doc_id,
        |    SUM(CAST(COALESCE(w2.w, 0) AS DECIMAL(10,9)) * f.x) AS m
        |  FROM f LEFT JOIN w2 USING (feat) GROUP BY f.doc_id),
        |sc AS (SELECT d.doc_id, d.source,
        |    FLOOR((1.0 / (1.0 + exp(-CAST(COALESCE(mm.m, 0) AS DOUBLE)))) * 1000000000 + 0.5) / 1000000000 AS score
        |  FROM documents d LEFT JOIN mm ON d.doc_id = mm.doc_id),
        |mn AS (SELECT CAST(SUM(CAST(score AS DECIMAL(28,12))) AS DOUBLE)
        |    / COUNT(*) AS m FROM sc)
        |SELECT source, COUNT(*) AS n_docs,
        |  COUNT(CASE WHEN score > (SELECT m FROM mn) THEN 1 END) AS n_pass
        |FROM sc GROUP BY source ORDER BY source""".stripMargin,

    // Dense-feature twin of q_t_quality_model: vector components via
    // UNNEST + generate_subscripts, count-normalized GD steps.
    "q_t_embed_classifier" ->
      """WITH v AS (SELECT vec_id,
        |    CASE WHEN label = 0 THEN 1 ELSE 0 END AS y,
        |    i - 1 AS feat,
        |    CAST(FLOOR((CAST(x0 AS DOUBLE)) * 1000000000 + 0.5) / 1000000000 AS DECIMAL(10,9)) AS x
        |  FROM (SELECT vec_id, label, UNNEST(embedding) AS x0,
        |        generate_subscripts(embedding, 1) AS i FROM embeddings)),
        |g1 AS (SELECT feat,
        |    SUM(CAST(0.5 - y AS DECIMAL(10,9)) * x) AS gs,
        |    COUNT(*) AS mass
        |  FROM v GROUP BY feat),
        |w1 AS (SELECT feat,
        |    GREATEST(-9.999999999, LEAST(9.999999999,
        |      FLOOR((0.0 - 1.0 * (CAST(gs AS DOUBLE) / CAST(mass AS DOUBLE))) * 1000000000 + 0.5) / 1000000000)) AS w
        |  FROM g1),
        |m2 AS (SELECT v.vec_id, v.y,
        |    SUM(CAST(w1.w AS DECIMAL(10,9)) * v.x) AS m
        |  FROM v JOIN w1 USING (feat) GROUP BY v.vec_id, v.y),
        |r2 AS (SELECT vec_id,
        |    FLOOR((1.0 / (1.0 + exp(-CAST(m AS DOUBLE)))) * 1000000000 + 0.5) / 1000000000 - y AS r FROM m2),
        |g2 AS (SELECT v.feat,
        |    SUM(CAST(r2.r AS DECIMAL(10,9)) * v.x) AS gs,
        |    COUNT(*) AS mass
        |  FROM v JOIN r2 USING (vec_id) GROUP BY v.feat),
        |w2 AS (SELECT w1.feat,
        |    GREATEST(-9.999999999, LEAST(9.999999999,
        |      FLOOR((w1.w - 1.0 * (CAST(g2.gs AS DOUBLE) / CAST(g2.mass AS DOUBLE))) * 1000000000 + 0.5) / 1000000000)) AS w
        |  FROM w1 JOIN g2 ON w1.feat = g2.feat),
        |mm AS (SELECT v.vec_id,
        |    SUM(CAST(COALESCE(w2.w, 0) AS DECIMAL(10,9)) * v.x) AS m
        |  FROM v LEFT JOIN w2 USING (feat) GROUP BY v.vec_id),
        |sc AS (SELECT e.vec_id, e.label,
        |    FLOOR((1.0 / (1.0 + exp(-CAST(COALESCE(mm.m, 0) AS DOUBLE)))) * 1000000000 + 0.5) / 1000000000 AS score
        |  FROM embeddings e LEFT JOIN mm ON e.vec_id = mm.vec_id)
        |SELECT label, COUNT(*) AS n_vecs,
        |  FLOOR((CAST(SUM(CAST(score AS DECIMAL(28,12))) AS DOUBLE)
        |    / COUNT(*)) * 1000000 + 0.5) / 1000000 AS avg_score
        |FROM sc GROUP BY label ORDER BY label""".stripMargin,

    // Mirrors curate(): dedup by min doc_id per fingerprint, then the
    // q_t_quality score and q_t_langid prediction formulas, then the
    // per-source rollup.
    "q_t_curate" ->
      s"""WITH ranked AS (SELECT doc_id, source, text,
         |    ROW_NUMBER() OVER (PARTITION BY $fpSql ORDER BY doc_id) AS rn
         |  FROM documents),
         |kept AS (SELECT doc_id, source, text FROM ranked WHERE rn = 1),
         |b AS (SELECT doc_id, source, text,
         |    string_split(trim(text), ' ') AS ws,
         |    string_split(trim(lower(text)), ' ') AS toks,
         |    LENGTH(text) AS n_chars,
         |    len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))
         |      - len(string_split(trim(text), ' ')) AS n_punct
         |  FROM kept),
         |scored AS (SELECT doc_id, source, len(ws) AS n_toks,
         |    FLOOR((
         |      LEAST(CAST(len(ws) AS DOUBLE) * 0.2, 4.0)
         |    + LEAST(CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','that'))) AS DOUBLE) / len(ws) * 10.0, 4.0)
         |    + CASE WHEN n_chars > 50 THEN 2.0 ELSE CAST(n_chars AS DOUBLE) / 25.0 END
         |    - LEAST(GREATEST(CAST(n_punct AS DOUBLE), 0.0) * 0.5, 2.0)) * 1000000 + 0.5) / 1000000 AS quality_score,
         |    len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','that'))) AS h_en,
         |    len(list_filter(toks, x -> x IN ('el','la','de','y','en','los','que','un'))) AS h_es,
         |    len(list_filter(toks, x -> x IN ('der','die','das','und','von','mit','ist','ein'))) AS h_de,
         |    len(list_filter(toks, x -> x IN ('le','la','de','et','les','des','est','un'))) AS h_fr,
         |    len(toks) AS n FROM b),
         |lang AS (SELECT *, CASE
         |    WHEN h_en = GREATEST(h_en, h_es, h_de, h_fr) AND CAST(h_en AS DOUBLE) / n >= 0.05 THEN 'en'
         |    WHEN h_es = GREATEST(h_en, h_es, h_de, h_fr) AND CAST(h_es AS DOUBLE) / n >= 0.05 THEN 'es'
         |    WHEN h_de = GREATEST(h_en, h_es, h_de, h_fr) AND CAST(h_de AS DOUBLE) / n >= 0.05 THEN 'de'
         |    WHEN h_fr = GREATEST(h_en, h_es, h_de, h_fr) AND CAST(h_fr AS DOUBLE) / n >= 0.05 THEN 'fr'
         |    ELSE 'unknown' END AS predicted_lang FROM scored)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
         |  CAST(FLOOR((AVG(CAST(quality_score AS DECIMAL(18,6)))) * 1000000 + 0.5) / 1000000 AS DOUBLE) AS avg_quality
         |FROM lang WHERE quality_score >= 3.0 AND predicted_lang = 'en'
         |GROUP BY source ORDER BY source""".stripMargin,

    "q_t_split" ->
      """SELECT source,
        |  CASE WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 10
        |       THEN 'test' ELSE 'train' END AS split,
        |  COUNT(*) AS n
        |FROM documents GROUP BY source, split ORDER BY source, split""".stripMargin,

    "q_t_tokens" ->
      """SELECT source,
        |  CAST(SUM(len(string_split(trim(text), ' '))) AS BIGINT) AS total_ws_tokens,
        |  CAST(SUM(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))) AS BIGINT) AS total_re_tokens,
        |  FLOOR((AVG(len(string_split(trim(text), ' ')))) * 1000000 + 0.5) / 1000000 AS avg_ws_tokens,
        |  CAST(MAX(LENGTH(text)) AS INTEGER) AS max_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // Same α-power/DECIMAL-sum/9-dp-round pipeline, replayed.
    "q_t_mix_temp" ->
      """WITH d AS (SELECT doc_id, source,
        |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |t AS (SELECT source, SUM(n_tokens) AS tt,
        |    FLOOR((POW(CAST(SUM(n_tokens) AS DOUBLE), 0.5)) * 1000000000 + 0.5) / 1000000000 AS w
        |  FROM d GROUP BY source),
        |ws AS (SELECT CAST(SUM(CAST(w AS DECIMAL(38,9))) AS DOUBLE) AS s FROM t),
        |f AS (SELECT t.source,
        |    FLOOR((LEAST(1.0, 2000.0 * t.w / ws.s / CAST(t.tt AS DOUBLE))) * 1000000000 + 0.5) / 1000000000
        |      AS mix_frac
        |  FROM t, ws),
        |k AS (SELECT d.*, f.mix_frac FROM d JOIN f USING (source)
        |  WHERE CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) AS DOUBLE)
        |      < f.mix_frac * 16777216.0)
        |SELECT source, COUNT(*) AS n_kept,
        |  CAST(SUM(n_tokens) AS BIGINT) AS kept_tokens,
        |  FLOOR((MIN(mix_frac)) * 1000000 + 0.5) / 1000000 AS mix_frac
        |FROM k GROUP BY source ORDER BY source""".stripMargin,

    // Window replay of the bounded top-k: same md5 uniform, same
    // (u DESC, id ASC) order.
    "q_t_strat_sample" ->
      """WITH u AS (SELECT lang, doc_id,
        |    (CAST(('0x' || substring(
        |        md5('s9' || chr(0) || CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT)
        |      + 1.0) / 4503599627370497.0 AS u
        |  FROM documents),
        |r AS (SELECT lang, doc_id, ROW_NUMBER() OVER (
        |    PARTITION BY lang ORDER BY u DESC, doc_id) AS rn FROM u)
        |SELECT lang, doc_id FROM r WHERE rn <= 5 ORDER BY lang, doc_id""".stripMargin,

    // The MG+verify composition is exact here (distinct tokens ≤ 64
    // counters), so the oracle is the plain exact top-10.
    "q_t_heavy_tokens" ->
      """SELECT tok AS key, COUNT(*) AS cnt FROM (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
        |WHERE tok <> '' GROUP BY tok ORDER BY cnt DESC, key LIMIT 10""".stripMargin,

    "q_t_heavy_tokens_grouped" ->
      """WITH t AS (SELECT lang, unnest(string_split(text, ' ')) AS key
        |  FROM documents),
        |c AS (SELECT lang, key, COUNT(*) AS cnt FROM t
        |  WHERE key <> '' GROUP BY 1, 2),
        |r AS (SELECT lang, key, cnt, CAST(ROW_NUMBER() OVER (
        |    PARTITION BY lang ORDER BY cnt DESC, key) AS INTEGER) AS rank
        |  FROM c)
        |SELECT lang, key, cnt, rank FROM r WHERE rank <= 3
        |ORDER BY lang, rank""".stripMargin,

    // Recursive CTE replays the same greedy walk: seed each source's
    // first doc with pack 0, then step in id order.
    "q_t_pack" ->
      """WITH RECURSIVE d AS (
        |  SELECT source, doc_id,
        |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents),
        |packed AS (
        |  SELECT source, doc_id, n_tokens, rn, n_tokens AS acc,
        |    CAST(0 AS BIGINT) AS pack_seq
        |  FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT d.source, d.doc_id, d.n_tokens, d.rn,
        |    CASE WHEN packed.acc + d.n_tokens > 200 THEN d.n_tokens
        |         ELSE packed.acc + d.n_tokens END,
        |    CASE WHEN packed.acc + d.n_tokens > 200 THEN packed.pack_seq + 1
        |         ELSE packed.pack_seq END
        |  FROM packed JOIN d ON d.source = packed.source AND d.rn = packed.rn + 1)
        |SELECT source, pack_seq, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
        |FROM packed GROUP BY source, pack_seq ORDER BY source, pack_seq""".stripMargin,

    "q_t_mix" ->
      """WITH d AS (SELECT doc_id, source,
        |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |t AS (SELECT source, CAST(SUM(n_tokens) AS DOUBLE) AS st
        |  FROM d GROUP BY source),
        |k AS (SELECT d.*, LEAST(1.0, 400.0 / t.st) AS keep_frac
        |  FROM d JOIN t USING (source)
        |  WHERE CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) AS DOUBLE)
        |      < LEAST(1.0, 400.0 / t.st) * 16777216.0)
        |SELECT source, COUNT(*) AS n_kept,
        |  CAST(SUM(n_tokens) AS BIGINT) AS kept_tokens,
        |  FLOOR((MIN(keep_frac)) * 1000000 + 0.5) / 1000000 AS keep_frac
        |FROM k GROUP BY source ORDER BY source""".stripMargin,

    // chr(0): the NUL seed/key separator shuffleOrder uses.
    "q_t_order" ->
      """SELECT doc_id,
        |  CAST(row_number() OVER (
        |    ORDER BY md5('s42' || chr(0) || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS ord
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_t_bm25" ->
      """WITH toks AS (SELECT doc_id, UNNEST(string_split(
        |      lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS term
        |  FROM documents),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
        |scal AS (SELECT COUNT(*) AS n,
        |    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
        |  WHERE term IN ('hash', 'join', 'scan') GROUP BY 1, 2),
        |dft AS (SELECT term, COUNT(*) AS df_t FROM tf GROUP BY 1),
        |s AS (SELECT tf.doc_id,
        |    ln(CAST(1.0 AS DOUBLE) + (scal.n - dft.df_t + CAST(0.5 AS DOUBLE))
        |        / (dft.df_t + CAST(0.5 AS DOUBLE)))
        |      * (tf.tf * CAST(2.2 AS DOUBLE))
        |      / (tf.tf + CAST(1.2 AS DOUBLE)
        |        * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl.dl / scal.avgdl))
        |      AS s
        |  FROM tf JOIN dft USING (term) JOIN dl USING (doc_id) CROSS JOIN scal)
        |SELECT doc_id,
        |  FLOOR((CAST(SUM(CAST(s AS DECIMAL(38,16))) AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS bm25
        |FROM s GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin,

    // Shingle-hash replay (same md5 15-hex form as the sketch
    // oracles), reference = bucket<50 docs' distinct hashes, LEFT
    // JOIN membership, per-doc distinct counts, 6 dp ratio.
    "q_t_novelty" ->
      s"""WITH $shingleCte,
         |h AS (SELECT doc_id,
         |    CAST(('0x' || substring(md5(s), 1, 15)) AS BIGINT) AS hs
         |  FROM sh),
         |ref AS (SELECT DISTINCT hs FROM h
         |  WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
         |    AS BIGINT) % 100 < 50),
         |sn AS (SELECT h.doc_id, COUNT(DISTINCT h.hs) AS n_shingles,
         |    COUNT(DISTINCT CASE WHEN r.hs IS NOT NULL THEN h.hs END) AS n_seen
         |  FROM h LEFT JOIN ref r ON h.hs = r.hs
         |  GROUP BY h.doc_id)
         |SELECT doc_id, n_shingles, n_shingles - n_seen AS n_novel,
         |  FLOOR((CAST(n_shingles - n_seen AS DOUBLE) / n_shingles) * 1000000 + 0.5) / 1000000 AS novelty
         |FROM sn ORDER BY doc_id""".stripMargin,

    // BM25 top-20 and cosine top-20 replayed, then rank-fused:
    // contributions 1/(60+rank) under the same (score DESC, id ASC)
    // rank order as the engine, DECIMAL-summed, 6 dp.
    "q_t_rrf" ->
      """WITH toks AS (SELECT doc_id, UNNEST(string_split(
        |      lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS term
        |  FROM documents),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
        |scal AS (SELECT COUNT(*) AS n,
        |    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
        |  WHERE term IN ('hash', 'join', 'scan') GROUP BY 1, 2),
        |dft AS (SELECT term, COUNT(*) AS df_t FROM tf GROUP BY 1),
        |sc AS (SELECT tf.doc_id,
        |    ln(CAST(1.0 AS DOUBLE) + (scal.n - dft.df_t + CAST(0.5 AS DOUBLE))
        |        / (dft.df_t + CAST(0.5 AS DOUBLE)))
        |      * (tf.tf * CAST(2.2 AS DOUBLE))
        |      / (tf.tf + CAST(1.2 AS DOUBLE)
        |        * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl.dl / scal.avgdl))
        |      AS s
        |  FROM tf JOIN dft USING (term) JOIN dl USING (doc_id) CROSS JOIN scal),
        |bm AS (SELECT doc_id,
        |    FLOOR((CAST(SUM(CAST(s AS DECIMAL(38,16))) AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS bm25
        |  FROM sc GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 20),
        |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |e AS (SELECT vec_id, UNNEST(embedding) AS x,
        |    generate_subscripts(embedding, 1) AS i FROM embeddings),
        |qe AS (SELECT UNNEST(qv) AS qx, generate_subscripts(qv, 1) AS i FROM q),
        |d AS (SELECT vec_id,
        |    SUM(CAST(x AS DOUBLE) * CAST(qx AS DOUBLE)) AS dot,
        |    SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS n2
        |  FROM e JOIN qe USING (i) GROUP BY vec_id),
        |qn AS (SELECT SQRT(SUM(CAST(qx AS DOUBLE) * CAST(qx AS DOUBLE))) AS qnorm FROM qe),
        |co AS (SELECT vec_id AS doc_id, FLOOR((dot / (SQRT(n2) * qnorm)) * 1000000 + 0.5) / 1000000 AS cs
        |  FROM d, qn ORDER BY cs DESC, doc_id LIMIT 20),
        |rb AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS r FROM bm),
        |rc AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cs DESC, doc_id) AS r FROM co),
        |u AS (SELECT doc_id, CAST(1.0 / (60 + r) AS DECIMAL(38,18)) AS c FROM rb
        |  UNION ALL
        |  SELECT doc_id, CAST(1.0 / (60 + r) AS DECIMAL(38,18)) AS c FROM rc)
        |SELECT doc_id, FLOOR((CAST(SUM(c) AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS rrf_score,
        |  COUNT(*) AS n_lists
        |FROM u GROUP BY doc_id ORDER BY rrf_score DESC, doc_id""".stripMargin,

    // Brute-force different-label top-5 per anchor — the exact
    // semantics the bounded-aggregator engine path must reproduce.
    "q_t_hard_negatives" ->
      """WITH e AS (SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |a AS (SELECT vec_id AS aid, label AS albl, v AS av FROM e
        |  WHERE vec_id % 50 = 0),
        |c AS (SELECT a.aid, e.vec_id AS nid,
        |    FLOOR((list_cosine_similarity(e.v, a.av)) * 1000000 + 0.5) / 1000000 AS cs
        |  FROM e JOIN a ON e.vec_id <> a.aid
        |    AND (e.label IS NULL OR a.albl IS NULL OR e.label <> a.albl)),
        |r AS (SELECT aid, nid, cs,
        |    ROW_NUMBER() OVER (PARTITION BY aid ORDER BY cs DESC, nid) AS rn FROM c)
        |SELECT aid AS anchor_id, rn AS "rank", nid AS negative_id, cs AS cos_sim
        |FROM r WHERE rn <= 5 ORDER BY anchor_id, "rank"""".stripMargin,

    "q_t_bpe_pairs" ->
      """WITH w AS (SELECT word, COUNT(*) AS n FROM (
        |    SELECT UNNEST(string_split(
        |        lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS word
        |    FROM documents) WHERE length(word) > 0 GROUP BY word),
        |c AS (SELECT n, string_split_regex(word, '') AS cs FROM w WHERE length(word) >= 2),
        |i AS (SELECT n, cs, UNNEST(range(1, len(cs))) AS i FROM c),
        |p AS (SELECT cs[CAST(i AS INT)] AS "left", cs[CAST(i AS INT) + 1] AS "right",
        |    CAST(SUM(n) AS BIGINT) AS pair_count
        |  FROM i GROUP BY 1, 2)
        |SELECT "left", "right", pair_count FROM p
        |ORDER BY pair_count DESC, "left", "right" LIMIT 10""".stripMargin,

    "q_t_bpe" ->
      """WITH w AS (SELECT word, COUNT(*) AS n FROM (
        |    SELECT UNNEST(string_split(
        |        lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS word
        |    FROM documents) WHERE length(word) > 0 GROUP BY word),
        |c AS (SELECT n, string_split_regex(word, '') AS cs FROM w WHERE length(word) >= 2),
        |i AS (SELECT n, cs, UNNEST(range(1, len(cs))) AS i FROM c),
        |p AS (SELECT cs[CAST(i AS INT)] AS "left", cs[CAST(i AS INT) + 1] AS "right",
        |    CAST(SUM(n) AS BIGINT) AS pair_count
        |  FROM i GROUP BY 1, 2)
        |SELECT CAST(1 AS INT) AS merge_rank, "left", "right",
        |  "left" || "right" AS merged, pair_count
        |FROM p ORDER BY pair_count DESC, "left", "right" LIMIT 1""".stripMargin,

    "q_t_bpe_encode" ->
      """WITH w AS (SELECT word, COUNT(*) AS n FROM (
        |    SELECT UNNEST(string_split(
        |        lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS word
        |    FROM documents) WHERE length(word) > 0 GROUP BY word),
        |c AS (SELECT n, string_split_regex(word, '') AS cs FROM w WHERE length(word) >= 2),
        |i AS (SELECT n, cs, UNNEST(range(1, len(cs))) AS i FROM c),
        |p AS (SELECT cs[CAST(i AS INT)] AS l, cs[CAST(i AS INT) + 1] AS r,
        |    SUM(n) AS pair_count FROM i GROUP BY 1, 2),
        |best AS (SELECT l, r FROM p
        |  ORDER BY pair_count DESC, l, r LIMIT 1),
        |dw AS (SELECT doc_id, UNNEST(string_split(
        |      lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS word
        |  FROM documents),
        |enc AS (SELECT dw.doc_id,
        |    length(dw.word) -
        |      (length(dw.word) - length(replace(dw.word, b.l || b.r, ''))) // 2
        |      AS n_tok
        |  FROM dw CROSS JOIN best b WHERE length(dw.word) > 0)
        |SELECT doc_id, CAST(SUM(n_tok) AS BIGINT) AS n_bpe_tokens
        |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_t_curriculum" ->
      """WITH RECURSIVE d0 AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, n_tok,
        |    CAST(NTILE(4) OVER (ORDER BY n_tok, doc_id) AS INTEGER) AS len_bin
        |  FROM d0),
        |r AS (
        |  SELECT doc_id, n_tok, len_bin,
        |    row_number() OVER (PARTITION BY len_bin ORDER BY doc_id) AS rn
        |  FROM d),
        |packed AS (
        |  SELECT len_bin, doc_id, n_tok, rn, n_tok AS acc,
        |    CAST(0 AS BIGINT) AS pack_seq
        |  FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r.len_bin, r.doc_id, r.n_tok, r.rn,
        |    CASE WHEN packed.acc + r.n_tok > 2048 THEN r.n_tok
        |         ELSE packed.acc + r.n_tok END,
        |    CASE WHEN packed.acc + r.n_tok > 2048 THEN packed.pack_seq + 1
        |         ELSE packed.pack_seq END
        |  FROM packed JOIN r ON r.len_bin = packed.len_bin AND r.rn = packed.rn + 1)
        |SELECT len_bin, pack_seq, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS pack_tokens
        |FROM packed GROUP BY len_bin, pack_seq ORDER BY len_bin, pack_seq""".stripMargin,

    "q_t_snapshot_diff" ->
      s"""WITH o AS (SELECT doc_id, $fpSql AS old_fp FROM documents
         |  WHERE doc_id % 10 <> 9),
         |nsrc AS (SELECT doc_id,
         |    CASE WHEN doc_id % 7 = 0 THEN text || ' [v2]' ELSE text END AS text
         |  FROM documents WHERE doc_id % 10 <> 4),
         |n AS (SELECT doc_id, $fpSql AS new_fp FROM nsrc),
         |d AS (SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
         |    CASE WHEN o.old_fp IS NULL THEN 'added'
         |         WHEN n.new_fp IS NULL THEN 'removed'
         |         WHEN o.old_fp = n.new_fp THEN 'unchanged'
         |         ELSE 'changed' END AS status
         |  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
         |SELECT status, COUNT(*) AS n,
         |  MIN(doc_id) AS min_key, MAX(doc_id) AS max_key
         |FROM d GROUP BY status ORDER BY status""".stripMargin,

    // The mutated snapshot built directly — feed+apply must
    // reconstruct it bit-for-bit.
    "q_t_cdc_apply" ->
      """WITH newsnap AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text,
        |    source
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, 'new ' || text, source
        |  FROM documents WHERE doc_id % 11 = 0)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_len
        |FROM newsnap GROUP BY source ORDER BY source""".stripMargin,

    // Direct aggregation of the new snapshot — the incremental refresh
    // must reproduce this bit-for-bit.
    "q_t_incr_agg" ->
      """WITH nsrc AS (SELECT doc_id, source,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' [v2]' ELSE text END AS text
        |  FROM documents WHERE doc_id % 10 <> 4)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(len(string_split(trim(text), ' '))) AS BIGINT) AS total_tokens
        |FROM nsrc GROUP BY source ORDER BY source""".stripMargin,

    "q_t_cluster_split" ->
      s"""WITH RECURSIVE $shingleCte,
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
         |jp AS (SELECT doc_a, doc_b
         |  FROM p JOIN sizes sa ON doc_a = sa.doc_id
         |         JOIN sizes sb ON doc_b = sb.doc_id
         |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.4),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM jp
         |  UNION SELECT doc_b, doc_a FROM jp),
         |nodes AS (SELECT DISTINCT src AS node FROM edges),
         |reach(node, lbl) AS (
         |  SELECT node, node FROM nodes
         |  UNION
         |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
         |cc AS (SELECT node, MIN(lbl) AS label FROM reach GROUP BY node),
         |keyed AS (SELECT d.doc_id, COALESCE(cc.label, d.doc_id) AS split_key
         |  FROM documents d LEFT JOIN cc ON d.doc_id = cc.node)
         |SELECT doc_id, split_key,
         |  CASE WHEN CAST(('0x' || substring(md5(CAST(split_key AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 10
         |       THEN 'test' ELSE 'train' END AS split
         |FROM keyed ORDER BY doc_id""".stripMargin,

    "q_t_wsample" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |k AS (SELECT doc_id, n_tok,
        |    FLOOR((-ln((CAST(('0x' || substring(
        |        md5('s42' || chr(0) || CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT)
        |        + 1.0) / 4503599627370497.0) / n_tok) * 1000000 + 0.5) / 1000000 AS es_key
        |  FROM d WHERE n_tok > 0)
        |SELECT doc_id, n_tok, es_key FROM k
        |ORDER BY es_key, doc_id LIMIT 20""".stripMargin,

    // NOT EXISTS (not NOT IN): matches left_anti's null-keeping
    // semantics if a fingerprint is ever null.
    "q_t_bloom_anti" ->
      s"""WITH f AS (SELECT doc_id, source, $fpSql AS fp FROM documents),
         |ref AS (SELECT DISTINCT fp FROM f WHERE doc_id % 10 < 3)
         |SELECT source, COUNT(*) AS n_new
         |FROM f WHERE doc_id % 10 >= 3
         |  AND NOT EXISTS (SELECT 1 FROM ref WHERE ref.fp = f.fp)
         |GROUP BY source ORDER BY source""".stripMargin,

    // The capstone mirror: every stage of q_t_curate_full replayed as
    // CTEs over a `clean` base (strip+NFC), with the fingerprint,
    // shingle, quality, langid, and logprob formulations reused from
    // their standalone oracles.
    "q_t_curate_full" ->
      s"""WITH base AS (SELECT doc_id, source,
         |    nfc_normalize(trim(regexp_replace(
         |      replace(replace(replace(replace(replace(replace(
         |        regexp_replace(regexp_replace(
         |          '<html><body><p>' || text || '$DecomposedTail</p><script>var x = 1;</script></body></html>',
         |          '(?is)<(script|style)(>|[ \\t\\n\\r/][^>]*>).*?</(script|style)[ \\t\\n\\r]*>', ' ', 'g'),
         |          '<[^>]+>', ' ', 'g'),
         |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
         |      '&#39;', CHR(39)), '&nbsp;', ' '), '&amp;', '&'),
         |      '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))) AS clean
         |  FROM documents),
         |dd AS (SELECT doc_id, source, clean FROM (
         |    SELECT *, ROW_NUMBER() OVER (
         |      PARTITION BY md5(lower(regexp_replace(trim(clean), '\\s+', ' ', 'g')))
         |      ORDER BY doc_id) AS rn FROM base) WHERE rn = 1),
         |w AS (SELECT doc_id, string_split(trim(clean), ' ') AS ws FROM dd),
         |tok AS (SELECT doc_id, UNNEST(ws) AS word, generate_subscripts(ws, 1) AS pos FROM w),
         |sh AS (SELECT DISTINCT doc_id, word || ' ' || l1 || ' ' || l2 AS s FROM (
         |  SELECT doc_id, word,
         |    LEAD(word, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS l1,
         |    LEAD(word, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS l2 FROM tok)
         |  WHERE l1 IS NOT NULL AND l2 IS NOT NULL),
         |bw AS (SELECT doc_id, string_split(trim(clean), ' ') AS ws
         |  FROM base WHERE doc_id % 20 = 0),
         |btok AS (SELECT doc_id, UNNEST(ws) AS word, generate_subscripts(ws, 1) AS pos FROM bw),
         |bsh AS (SELECT DISTINCT word || ' ' || l1 || ' ' || l2 AS s FROM (
         |  SELECT doc_id, word,
         |    LEAD(word, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS l1,
         |    LEAD(word, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS l2 FROM btok)
         |  WHERE l1 IS NOT NULL AND l2 IS NOT NULL),
         |bad AS (SELECT sh.doc_id FROM sh JOIN bsh ON sh.s = bsh.s
         |  GROUP BY 1 HAVING COUNT(*) >= 2),
         |decon AS (SELECT * FROM dd
         |  WHERE NOT EXISTS (SELECT 1 FROM bad WHERE bad.doc_id = dd.doc_id)),
         |t2 AS (SELECT doc_id, UNNEST(string_split(trim(lower(clean)), ' ')) AS term FROM decon),
         |tf2 AS (SELECT doc_id, term, COUNT(*) AS tf FROM t2 GROUP BY 1, 2),
         |fr2 AS (SELECT term, COUNT(*) AS c FROM t2 GROUP BY 1),
         |tot2 AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total, COUNT(*) AS v_size FROM fr2),
         |lp AS (SELECT doc_id,
         |    FLOOR((CAST(SUM(CAST(tf * ln(CAST(c + 1 AS DOUBLE)
         |        / CAST(n_total + v_size AS DOUBLE)) AS DECIMAL(28,12))) AS DOUBLE)
         |      / SUM(tf)) * 1000000 + 0.5) / 1000000 AS avg_logprob
         |  FROM tf2 JOIN fr2 USING (term) CROSS JOIN tot2 GROUP BY doc_id),
         |b AS (SELECT doc_id, source,
         |    string_split(trim(clean), ' ') AS ws,
         |    string_split(trim(lower(clean)), ' ') AS toks,
         |    LENGTH(clean) AS n_chars,
         |    len(regexp_extract_all(clean, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))
         |      - len(string_split(trim(clean), ' ')) AS n_punct
         |  FROM decon),
         |scored AS (SELECT doc_id, source, len(ws) AS n_toks,
         |    FLOOR((
         |      LEAST(CAST(len(ws) AS DOUBLE) * 0.2, 4.0)
         |    + LEAST(CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','that'))) AS DOUBLE) / len(ws) * 10.0, 4.0)
         |    + CASE WHEN n_chars > 50 THEN 2.0 ELSE CAST(n_chars AS DOUBLE) / 25.0 END
         |    - LEAST(GREATEST(CAST(n_punct AS DOUBLE), 0.0) * 0.5, 2.0)) * 1000000 + 0.5) / 1000000 AS quality_score,
         |    len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','that'))) AS h_en,
         |    len(list_filter(toks, x -> x IN ('el','la','de','y','en','los','que','un'))) AS h_es,
         |    len(list_filter(toks, x -> x IN ('der','die','das','und','von','mit','ist','ein'))) AS h_de,
         |    len(list_filter(toks, x -> x IN ('le','la','de','et','les','des','est','un'))) AS h_fr,
         |    len(toks) AS n FROM b),
         |lang AS (SELECT *, CASE
         |    WHEN h_en = GREATEST(h_en, h_es, h_de, h_fr) AND CAST(h_en AS DOUBLE) / n >= 0.05 THEN 'en'
         |    WHEN h_es = GREATEST(h_en, h_es, h_de, h_fr) AND CAST(h_es AS DOUBLE) / n >= 0.05 THEN 'es'
         |    WHEN h_de = GREATEST(h_en, h_es, h_de, h_fr) AND CAST(h_de AS DOUBLE) / n >= 0.05 THEN 'de'
         |    WHEN h_fr = GREATEST(h_en, h_es, h_de, h_fr) AND CAST(h_fr AS DOUBLE) / n >= 0.05 THEN 'fr'
         |    ELSE 'unknown' END AS predicted_lang FROM scored)
         |SELECT lang.source, COUNT(*) AS n_docs,
         |  CAST(SUM(lang.n_toks) AS BIGINT) AS total_tokens,
         |  CAST(FLOOR((AVG(CAST(lang.quality_score AS DECIMAL(18,6)))) * 1000000 + 0.5) / 1000000 AS DOUBLE) AS avg_quality,
         |  CAST(FLOOR((AVG(CAST(lp.avg_logprob AS DECIMAL(18,6)))) * 1000000 + 0.5) / 1000000 AS DOUBLE) AS avg_lp,
         |  MIN(lang.doc_id) AS min_id
         |FROM lang JOIN lp ON lang.doc_id = lp.doc_id
         |WHERE lang.quality_score >= 3.0 AND lang.predicted_lang = 'en'
         |  AND lp.avg_logprob >= -7.0
         |GROUP BY lang.source ORDER BY lang.source""".stripMargin,

    "q_t_logprob" ->
      """WITH t AS (SELECT doc_id,
        |    UNNEST(string_split(trim(lower(text)), ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
        |fr AS (SELECT term, COUNT(*) AS c FROM t GROUP BY 1),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total,
        |    COUNT(*) AS v_size FROM fr)
        |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_toks,
        |  FLOOR((CAST(SUM(CAST(tf * ln(CAST(c + 1 AS DOUBLE)
        |        / CAST(n_total + v_size AS DOUBLE)) AS DECIMAL(28,12))) AS DOUBLE)
        |      / SUM(tf)) * 1000000 + 0.5) / 1000000 AS avg_logprob
        |FROM tf JOIN fr USING (term) CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_t_logprob_oov" ->
      """WITH sc AS (SELECT doc_id,
        |    UNNEST(string_split(trim(lower(text)), ' ')) AS term
        |  FROM documents WHERE doc_id % 2 = 1),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM sc GROUP BY 1, 2),
        |rt AS (SELECT UNNEST(string_split(trim(lower(text)), ' ')) AS term
        |  FROM documents WHERE doc_id % 2 = 0),
        |fr AS (SELECT term, COUNT(*) AS c FROM rt GROUP BY 1),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total,
        |    COUNT(*) AS v_size FROM fr)
        |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_toks,
        |  FLOOR((CAST(SUM(CAST(tf * ln(CAST(COALESCE(c, 0) + 1 AS DOUBLE)
        |        / CAST(n_total + v_size AS DOUBLE)) AS DECIMAL(28,12))) AS DOUBLE)
        |      / SUM(tf)) * 1000000 + 0.5) / 1000000 AS avg_logprob
        |FROM tf LEFT JOIN fr USING (term) CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_t_strip_html" ->
      """WITH d AS (SELECT doc_id,
        |    '<html><body><h1>Doc</h1><p>' || text ||
        |    '</p><script>var x = 1;</script><p>tail &amp; &lt;end&gt;&nbsp;&#39;q&#39;</p></body></html>' AS h
        |  FROM documents WHERE doc_id < 60),
        |c AS (SELECT doc_id, trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(regexp_replace(h,
        |        '(?is)<(script|style)(>|[ \t\n\r/][^>]*>).*?</(script|style)[ \t\n\r]*>', ' ', 'g'),
        |        '<[^>]+>', ' ', 'g'),
        |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |    '&#39;', CHR(39)), '&nbsp;', ' '), '&amp;', '&'),
        |    '[ \t\n\x0B\f\r]+', ' ', 'g')) AS clean
        |  FROM d)
        |SELECT doc_id, CAST(length(clean) AS INTEGER) AS clean_len,
        |  md5(clean) AS clean_fp
        |FROM c ORDER BY doc_id""".stripMargin,

    // list_distinct reorders in DuckDB — harmless, the output is sorted
    // by start_tok. Slices clamp at the list end in both engines.
    "q_t_chunk" ->
      """WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
        |  FROM documents WHERE doc_id < 30),
        |b AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 1),
        |s AS (SELECT doc_id, toks, n,
        |    UNNEST(list_distinct(list_append(
        |      generate_series(1, greatest(1, n - 16 + 1), 8),
        |      greatest(1, n - 16 + 1)))) AS start_tok
        |  FROM b)
        |SELECT doc_id, CAST(start_tok AS BIGINT) AS start_tok,
        |  CAST(len(toks[start_tok : start_tok + 15]) AS INTEGER) AS n_chunk_tokens,
        |  md5(array_to_string(toks[start_tok : start_tok + 15], ' ')) AS chunk_fp
        |FROM s ORDER BY doc_id, start_tok""".stripMargin,

    "q_t_nfc" ->
      s"""SELECT doc_id,
         |  CAST(length(text || '$DecomposedTail') AS INTEGER) AS len_raw,
         |  CAST(length(nfc_normalize(text || '$DecomposedTail')) AS INTEGER) AS len_nfc,
         |  md5(nfc_normalize(text || '$DecomposedTail')) AS fp_nfc
         |FROM documents WHERE doc_id < 50 ORDER BY doc_id""".stripMargin,
  )
}
