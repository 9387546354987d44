package graft

import graft.functions.UnicodeFunctions
import graft.operators.{Joins, Packing, Sampling}
import org.apache.spark.sql.functions._

/** Specs for the round-5 training-prep operators: greedy sequence
  * packing, token-budget corpus mixing, deterministic training-order
  * shuffle, Bloom-prefiltered anti join, Unicode NFC normalization.
  */
class TrainPrepSpec extends SparkSpec {
  import spark.implicits._

  // ---- Packing -----------------------------------------------------

  private def packs(rows: Seq[(String, Long, Long)], budget: Long) =
    Packing.packGreedy(rows.toDF("shard", "id", "n_tokens"),
        "shard", "id", "n_tokens", budget)
      .select("shard", "id", "pack_seq")
      .as[(String, Long, Long)].collect().sortBy(r => (r._1, r._2))

  test("packGreedy walks each shard greedily in id order") {
    val got = packs(Seq(
      ("a", 1L, 60L), ("a", 2L, 50L), ("a", 3L, 10L), ("a", 4L, 90L),
      ("b", 1L, 100L), ("b", 2L, 1L)), budget = 100L)
    // shard a: 60 | +50 would exceed -> new pack (50+10=60) | +90 exceeds -> pack 2
    // shard b: 100 fills pack 0 exactly | 1 opens pack 1
    assert(got.toSeq == Seq(
      ("a", 1L, 0L), ("a", 2L, 1L), ("a", 3L, 1L), ("a", 4L, 2L),
      ("b", 1L, 0L), ("b", 2L, 1L)))
  }

  test("packGreedy gives an oversized document its own pack") {
    val got = packs(Seq(
      ("a", 1L, 10L), ("a", 2L, 500L), ("a", 3L, 10L)), budget = 100L)
    assert(got.toSeq == Seq(("a", 1L, 0L), ("a", 2L, 1L), ("a", 3L, 2L)))
  }

  test("packGreedy keeps native id types — fingerprint keys walk lexicographically") {
    val got = Packing.packGreedy(
        Seq(("a", "ff", 60L), ("a", "aa", 50L), ("a", "cc", 60L))
          .toDF("shard", "id", "n_tokens"),
        "shard", "id", "n_tokens", budget = 100L)
      .select("id", "pack_seq").as[(String, Long)].collect().sortBy(_._1)
    // lexicographic walk aa(50) -> cc(60) overflows -> ff(60) overflows
    assert(got.toSeq == Seq(("aa", 0L), ("cc", 1L), ("ff", 2L)))
  }

  test("packGreedy is invariant to input partitioning") {
    val rows = (1L to 200L).map(i => (s"s${i % 7}", i, 5L + i % 40L))
    val one = packs(rows, 120L)
    val other = Packing.packGreedy(
        rows.toDF("shard", "id", "n_tokens").repartition(13, col("id")),
        "shard", "id", "n_tokens", 120L)
      .select("shard", "id", "pack_seq")
      .as[(String, Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(one.toSeq == other.toSeq)
    // every pack except possibly a shard's last is within budget unless
    // a single oversized doc forced it — here no doc exceeds 120
    val sums = Packing.packGreedy(rows.toDF("shard", "id", "n_tokens"),
        "shard", "id", "n_tokens", 120L)
      .groupBy("shard", "pack_seq").agg(sum("n_tokens").as("t"))
      .as[(String, Long, Long)].collect()
    assert(sums.forall(_._3 <= 120L))
  }

  // ---- Mixing ------------------------------------------------------

  test("sampleToTokenBudget keeps small sources whole, shrinks big ones deterministically") {
    val rows = (1L to 50L).map(i => ("big", i, 100L)) ++
      (1L to 3L).map(i => ("small", 1000L + i, 10L))
    val df = rows.toDF("source", "doc_id", "n_tokens")
    val kept = Sampling.sampleToTokenBudget(df, "source", "doc_id",
      "n_tokens", targetTokens = 1000L)
    val bySource = kept.groupBy("source")
      .agg(count(lit(1)).as("n"), sum("n_tokens").as("t"))
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // small: under target -> every row survives
    assert(kept.filter($"source" === "small").count() == 3L)
    // big: frac = 0.2 -> expected ~10 of 50; hash-deterministic, so just
    // assert a real reduction and repeatability
    val n1 = kept.filter($"source" === "big").count()
    assert(n1 > 0L && n1 < 50L)
    val n2 = Sampling.sampleToTokenBudget(df.repartition(7), "source",
      "doc_id", "n_tokens", 1000L).filter($"source" === "big").count()
    assert(n1 == n2)
    assert(bySource.contains("big") && bySource.contains("small"))
  }

  // ---- Deterministic shuffle order --------------------------------

  test("shuffleOrder is a permutation, seed-stable, and seed-sensitive") {
    val df = (1L to 500L).toDF("id")
    val a = Sampling.shuffleOrder(df, "id", "seed1")
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(a.map(_._2).sorted.toSeq == (1L to 500L).toSeq) // a permutation
    val b = Sampling.shuffleOrder(df.repartition(11), "id", "seed1")
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(a.toSeq == b.toSeq) // layout-independent
    val c = Sampling.shuffleOrder(df, "id", "seed2")
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(a.toSeq != c.toSeq) // a different seed reorders
  }

  // ---- Bloom anti join --------------------------------------------

  test("antiJoinBloom equals a plain left_anti at any fpp") {
    val left = (1 to 400).map(i => (s"k$i", i)).toDF("key", "v")
    val right = (200 to 600).map(i => s"k$i").toDF("key")
    val expected = left.join(right, Seq("key"), "left_anti")
      .as[(String, Int)].collect().sortBy(_._2)
    for (fpp <- Seq(0.5, 0.03)) { // high fpp stresses the confirm join
      val got = Joins.antiJoinBloom(left, right, "key",
          expectedItems = 1000L, fpp = fpp)
        .as[(String, Int)].collect().sortBy(_._2)
      assert(got.toSeq == expected.toSeq, s"fpp=$fpp")
    }
  }

  test("antiJoinBloom keeps null-keyed rows like left_anti does") {
    val left = Seq((Option("a"), 1), (Option.empty[String], 2)).toDF("key", "v")
    val right = Seq("a", "b").toDF("key")
    val got = Joins.antiJoinBloom(left, right, "key", 10L, 0.03)
      .select("v").as[Int].collect().sorted
    assert(got.toSeq == Seq(2))
  }

  // ---- Chunking ----------------------------------------------------

  test("chunkDocuments covers every token with overlapping windows plus the tail") {
    val text10 = (1 to 10).map(i => s"w$i").mkString(" ") // 10 tokens
    val df = Seq((1L, text10), (2L, "only three tokens"), (3L, "solo"))
      .toDF("doc_id", "text")
    val got = graft.textops.TextAnalysis
      .chunkDocuments(df, "doc_id", "text", chunkTokens = 4, stride = 3)
      .select("doc_id", "start_tok", "n_chunk_tokens")
      .as[(Long, Long, Int)].collect().sortBy(r => (r._1, r._2))
    // doc 1 (n=10): starts sequence(1,7,3)=[1,4,7] and the final full
    // window start 7 is already present; all full windows of 4
    assert(got.filter(_._1 == 1L).toSeq ==
      Seq((1L, 1L, 4), (1L, 4L, 4), (1L, 7L, 4)))
    // doc 2 (n=3 < chunk): one window at 1 with all 3 tokens
    assert(got.filter(_._1 == 2L).toSeq == Seq((2L, 1L, 3)))
    assert(got.filter(_._1 == 3L).toSeq == Seq((3L, 1L, 1)))
    // every token of doc 1 is inside some window
    val covered = got.filter(_._1 == 1L)
      .flatMap(r => r._2 until (r._2 + r._3)).toSet
    assert(covered == (1L to 10L).toSet)
  }

  // ---- Unigram log-prob quality ------------------------------------

  test("unigramLogProb ranks typical text above rare-token soup, invariant to layout") {
    val common = (1 to 20).map(_ => "the cat sat on the mat")
    val docs = (common.zipWithIndex.map { case (t, i) => (i.toLong, t) } :+
      (99L, "zxqv wkjh pqrst mnbvc xyzzy qwert")).toDF("doc_id", "text")
    val scored = graft.textops.TextAnalysis
      .unigramLogProb(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(scored(99L) < scored(0L)) // gibberish is less probable
    // exact same scores under a different partitioning (decimal sums)
    val re = graft.textops.TextAnalysis
      .unigramLogProb(docs.repartition(7), "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(re === scored)
  }

  test("unigramLogProbAgainst floors OOV tokens; self-scoring equals the one-corpus form") {
    val ref = Seq((1L, "the cat sat"), (2L, "the dog sat")).toDF("doc_id", "text")
    val newDocs = Seq((10L, "the cat sat"), (11L, "zxqv wkjh mnbvc"))
      .toDF("doc_id", "text")
    val scored = graft.textops.TextAnalysis
      .unigramLogProbAgainst(newDocs, "doc_id", "text", ref, "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    // all-OOV doc gets exactly the smoothing floor ln(1/(N+V)):
    // ref has N=6 tokens over V=4 distinct terms -> ln(1/10)
    assert(math.abs(scored(11L) - math.log(1.0 / 10.0)) < 1e-6)
    assert(scored(10L) > scored(11L))
    // delegation: self-scoring is the two-corpus form against itself
    val a = graft.textops.TextAnalysis.unigramLogProb(ref, "doc_id", "text")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    val b = graft.textops.TextAnalysis
      .unigramLogProbAgainst(ref, "doc_id", "text", ref, "text")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(a.toSeq == b.toSeq)
  }

  // ---- Markup stripping --------------------------------------------

  test("stripMarkup removes blocks and tags, decodes entities, collapses space") {
    val html = """<html><body ><h1>Title</h1>
      |<script type="x">var a = "<p>not text</p>";</script>
      |<STYLE>p { color: red }</STYLE>
      |<p>Hello &amp; welcome to &quot;graft&quot;&nbsp;&#39;v5&#39; &lt;now&gt;</p>
      |</body></html>""".stripMargin
    val got = Seq(html).toDF("t")
      .select(graft.textops.TextFunctions.stripMarkup($"t").as("c"))
      .as[String].head()
    assert(got == "Title Hello & welcome to \"graft\" 'v5' <now>")
    // plain text is a fixpoint
    val plain = Seq("no markup at all").toDF("t")
      .select(graft.textops.TextFunctions.stripMarkup($"t")).as[String].head()
    assert(plain == "no markup at all")
    // double-escaped entities decode exactly once (&amp; decodes last)
    val dbl = Seq("write &amp;lt;b&amp;gt; for bold").toDF("t")
      .select(graft.textops.TextFunctions.stripMarkup($"t")).as[String].head()
    assert(dbl == "write &lt;b&gt; for bold")
    // tag-name prefixes are NOT blocks: <style-guide> strips as a tag,
    // its content survives
    val pfx = Seq("<style-guide>Intro</style-guide><style>p{}</style>done")
      .toDF("t")
      .select(graft.textops.TextFunctions.stripMarkup($"t")).as[String].head()
    assert(pfx == "Intro done")
  }

  // ---- Unicode normalization --------------------------------------

  test("NFC composes decomposed sequences; eval and codegen agree") {
    val decomposed = "cafe\u0301 A\u030Angstro\u0308m"
    val composed = "caf\u00e9 \u00C5ngstr\u00F6m"
    val df = Seq(decomposed, composed, "plain", null.asInstanceOf[String])
      .toDF("t")
    val got = df.select(UnicodeFunctions.nfc($"t").as("n"),
        length($"t").as("lr"), length(UnicodeFunctions.nfc($"t")).as("ln"))
      .collect()
    assert(got(0).getString(0) == composed && got(0).getInt(1) == 16 &&
      got(0).getInt(2) == 13)
    assert(got(1).getString(0) == composed) // already-NFC is a fixpoint
    assert(got(2).getString(0) == "plain")
    assert(got(3).isNullAt(0))
    // NFD round-trips back
    val nfd = df.limit(1)
      .select(UnicodeFunctions.normalize(
        UnicodeFunctions.nfc($"t"), "NFD").as("d"))
      .as[String].head()
    assert(nfd == decomposed)
  }

  test("nfc_normalize is callable from SQL via GraftExtensions") {
    val out = spark.sql("SELECT nfc_normalize('cafe\u0301') AS n")
      .as[String].head()
    assert(out == "caf\u00e9")
  }
}
