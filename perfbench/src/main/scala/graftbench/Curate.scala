package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.types._

import graft.lake.VersionedTable
import graft.operators.Packing
import graft.textops.{Curation, TextAnalysis}

/** Text curation, batch then incremental. The batch half is the README's
  * curation chain over a boilerplate-heavy template corpus: quality score
  * → quality-aware near-dedup → curate → cluster-safe split → token
  * stats → greedy packing → versioned publish, from the corpus file to a
  * published table. The incremental half is the README's streaming
  * swap-in, `Streaming.nearDedupWriter`, over micro-batches ([[Stream]]).
  */
object Curate extends Workload {
  type Inputs = (File, IndexedSeq[Gen.Doc], Long, Stream.Inputs)
  val name = "curate"

  val Templates = 100
  val Variants = 4
  val Tokens = 60
  val Budget = 4096L
  /** Near-dedup keeps every template (its threshold is the engine's
    * default, 0.5); the split links documents from this Jaccard up, which
    * joins each template family into one cluster (see [[Gen.FamilySize]]).
    */
  val DedupThreshold = 0.5
  val SplitThreshold = 0.15

  private val schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType)))

  def prepare(dir: File, seed: Long): Inputs = {
    val docs = Gen.corpus(seed, Templates, Variants, Tokens)
    val f = new File(dir, "corpus.jsonl")
    dir.mkdirs()
    val body = docs.map(d => s"""{"doc_id":${d.id},"text":${Json.quote(d.text)}}""")
      .mkString("", "\n", "\n")
    Files.write(f.toPath, body.getBytes(StandardCharsets.UTF_8))
    (f, docs, f.length, Stream.prepare(new File(dir, "stream"), seed))
  }

  def inputSize(in: Inputs): (Long, Long) = {
    val (rows, bytes) = Stream.inputSize(in._4)
    (in._2.size + rows, in._3 + bytes)
  }

  private def chain(ctx: Ctx, corpus: File, root: String): String = {
    val t = ctx.tracer
    val docs = ctx.spark.read.schema(schema).json(corpus.getPath)
    val scored = t.span("TextAnalysis.qualityScore", "textops") {
      TextAnalysis.qualityScore(docs, "text")
    }
    val nd = t.span("Curation.dropNearDuplicatesBy", "textops") {
      Curation.dropNearDuplicatesBy(scored, "doc_id", "text", priorityCol = "quality_score",
        threshold = DedupThreshold)
    }
    val curated = t.span("Curation.curate", "textops") {
      Curation.curate(nd, "doc_id", "text", minQuality = 0.5, keepLangs = Seq("en"))
    }
    val split = t.span("Curation.clusterSafeSplit", "textops") {
      Curation.clusterSafeSplit(curated, "doc_id", "text", threshold = SplitThreshold,
        testPct = 10)
    }
    val withTokens = t.span("TextAnalysis.tokenStats", "textops") {
      TextAnalysis.tokenStats(split, "text")
    }
    val packed = t.span("Packing.packGreedy", "operators") {
      Packing.packGreedy(withTokens, "split", "doc_id", "n_ws_tokens", Budget)
    }
    t.span("VersionedTable.publish", "lake") {
      VersionedTable.publish(split.join(packed.select("doc_id", "pack_seq"),
        Seq("doc_id")), root)
    }
    root
  }

  def run(ctx: Ctx, in: Inputs): Outcome = {
    val (corpus, docs, _, streamIn) = in
    val out = new Outcome
    val w0 = System.currentTimeMillis()
    val root = new File(ctx.work, "curated").getPath
    val published = out.attempts.run(
      ctx.tracer.span("curate.chain", "bench")(chain(ctx, corpus, root)))
    val inc = Stream.run(ctx.copy(work = new File(ctx.work, "stream")), streamIn)
    out.window = (w0, inc.window._2)

    out.attempts.latenciesMs.headOption.foreach { ms =>
      out.endToEnd += "main_s" -> (ms / 1e3, "s")
      out.named ++= Seq("curate_s" -> (ms / 1e3, "s"),
        "curate_docs_per_s" -> (docs.size / (ms / 1e3), "1/s"))
    }
    out.endToEnd ++= inc.endToEnd
    out.named ++= inc.named
    out.info ++= inc.info
    out.checks ++= inc.checks
    out.layerExtras ++= inc.layerExtras
    out.attempts.record(inc.attempts.attempted, inc.attempts.failed,
      inc.attempts.errors.headOption)
    published match {
      case None => out.check("curation chain completes", ok = false,
        out.attempts.errors.mkString("; "))
      case Some(r) => checkPublished(ctx, r, docs, out)
    }
    out
  }

  /** Checks on the last published version against the generator's
    * truth: every English template (the language gate drops the rest)
    * keeps exactly one document after near-dedup and the gates, and every
    * template family lands on one side of the split.
    */
  private def checkPublished(ctx: Ctx, root: String, docs: IndexedSeq[Gen.Doc],
                             out: Outcome): Unit = {
    val byId = docs.map(d => d.id -> d).toMap
    val published = VersionedTable.readCurrent(ctx.spark, root)
      .select("doc_id", "text", "split", "pack_seq").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    out.check("survivors are a subset of the input",
      published.forall { case (id, text, _, _) => byId.get(id).exists(_.text == text) })
    val gated = docs.map(_.template).distinct.filter(Gen.isEnglishTemplate)
    val perTemplate = published.groupBy(p => byId.get(p._1).map(_.template))
    val wrong = gated.filterNot(t => perTemplate.get(Some(t)).exists(_.length == 1))
    out.check("every template that passes the gates keeps exactly one doc", wrong.isEmpty,
      s"${wrong.size} templates kept 0 or several docs, e.g. ${wrong.take(5)}")
    out.check("published row count equals the split's (one row per gated template)",
      published.length == gated.size, s"published ${published.length}, expected ${gated.size}")
    val sh = published.map(p => (p._1, Gen.shingles(p._2), p._3))
    val pairs = for (i <- sh.indices; j <- i + 1 until sh.size)
      yield (sh(i), sh(j), Gen.jaccard(sh(i)._2, sh(j)._2))
    val dups = pairs.filter(_._3 >= DedupThreshold)
    out.check(s"no two survivors reach Jaccard $DedupThreshold", dups.isEmpty,
      s"${dups.size} close pairs, e.g. ${dups.take(3).map(x => (x._1._1, x._2._1))}")
    val straddle = pairs.filter(x => x._3 >= SplitThreshold && x._1._3 != x._2._3)
    out.check(s"no survivor pair at Jaccard $SplitThreshold straddles the split",
      straddle.isEmpty, s"${straddle.size} pairs, e.g. ${straddle.take(3).map(x =>
        (x._1._1, x._2._1))}")
    val families = published.groupBy(p => Gen.family(byId(p._1).template))
    val split = families.filter(_._2.map(_._3).distinct.length > 1).keys
    out.check("each template family falls on one side of the split", split.isEmpty,
      s"${split.size} families straddle the split, e.g. ${split.take(5)}")
    out.info ++= Seq("families" -> families.size,
      "families_in_test" -> families.count(_._2.head._3 == "test"),
      "linked_pairs" -> pairs.count(_._3 >= SplitThreshold))
    val over = published.groupBy(p => (p._3, p._4))
      .filter(_._2.map(p => p._2.trim.split(" ").length.toLong).sum > Budget)
    out.check("every pack's token sum is within budget", over.isEmpty,
      s"${over.size} packs over $Budget tokens")
    out.layerExtras += "textops.kept_frac" -> published.length.toDouble / docs.size
    out.layerExtras("lake.files_written") = out.layerExtras.getOrElse("lake.files_written", 0.0) +
      Workload.diskUsage(new File(root))._2

  }
}
