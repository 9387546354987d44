package graftbench

import java.io.{BufferedWriter, File}
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** Seeded input generators, written in plain Scala so the engine only
  * ever sees the finished files. Each generator also returns the ground
  * truth its output implies, which the output checks compare against.
  */
object Gen {

  // ---- business owners (FIXTURES.md §1) -----------------------------

  val NaSentinels: Seq[String] = Seq("", " ", "N/A", "NULL", "null")
  /** The warehouse's seeded role titles; any other title maps to OTHER. */
  val SeedTitles: Seq[String] = Seq("CEO", "PRESIDENT", "MANAGING MEMBER",
    "MANAGER", "DIRECTOR", "OWNER", "SHAREHOLDER", "PARTNER", "MEMBER", "OTHER")
  private val ExtraTitles = Seq("SECRETARY", "TREASURER", "VICE PRESIDENT")
  private val EntityTokens = Seq("LLC", "INC", "CORP", "LTD", "CO", "")
  private val Suffixes = Seq("JR", "SR", "II", "III")

  /** What the owners CSV implies once the engine normalizes it: NA
    * sentinels become null, strings are trimmed and upper-cased.
    */
  final case class OwnersTruth(rows: Int, bytes: Long,
                               accountRows: Map[Long, Int],
                               titleCounts: Map[String, Long],
                               roleBusinesses: Map[String, Int],
                               legalNames: Array[String],
                               accounts: Array[Long],
                               nameWords: IndexedSeq[String]) {
    def uniqueBusinesses: Int = accountRows.size
    private val sortedAccounts = accounts.sorted
    private val searchMemo = mutable.Map.empty[String, Int]

    /** Rows whose cleaned legal name contains `term` (case-insensitive). */
    def searchCount(term: String): Int = searchMemo.getOrElseUpdate(term, {
      val t = term.toUpperCase
      legalNames.count(n => n != null && n.contains(t))
    })

    /** Rows with an account number strictly above `k`. */
    def rowsAbove(k: Long): Int = {
      val i = java.util.Arrays.binarySearch(sortedAccounts, k + 1)
      val at = if (i >= 0) {
        var j = i; while (j > 0 && sortedAccounts(j - 1) == k + 1) j -= 1; j
      } else -i - 1
      sortedAccounts.length - at
    }
  }

  private def pad(r: Random, s: String): String = {
    val cased = r.nextInt(4) match {
      case 0 => s.toLowerCase
      case 1 => s.split(" ").map(w => w.take(1) + w.drop(1).toLowerCase).mkString(" ")
      case _ => s
    }
    val l = if (r.nextInt(6) == 0) " " * (1 + r.nextInt(2)) else ""
    val t = if (r.nextInt(6) == 0) " " * (1 + r.nextInt(2)) else ""
    l + cased + t
  }

  private def na(r: Random): String = NaSentinels(r.nextInt(NaSentinels.size))

  private def pseudoWord(r: Random, minLen: Int): String = {
    val cons = "bcdfgklmnprstvz"
    val vows = "aeiou"
    val len = minLen + r.nextInt(4)
    (0 until len).map(i =>
      if (i % 2 == 0) cons(r.nextInt(cons.length)) else vows(r.nextInt(vows.length))
    ).mkString
  }

  private def csvField(s: String): String = "\"" + s.replace("\"", "\"\"") + "\""

  /** Write `rows` business-owner rows to `path` (header + 8 columns).
    * Accounts repeat over their owners; about 8% of owners are
    * corporate, with null name parts.
    */
  def owners(seed: Long, rows: Int, path: File): OwnersTruth = {
    val r = new Random(seed)
    val words = (0 until 400).map(_ => pseudoWord(r, 4).toUpperCase).distinct
    val firstNames = (0 until 300).map(_ => pseudoWord(r, 3).toUpperCase).distinct
    val accountRows = mutable.LinkedHashMap.empty[Long, Int]
    val titleCounts = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val roleAccounts = mutable.Map.empty[String, mutable.Set[Long]]
    val legal = new Array[String](rows)
    val accts = new Array[Long](rows)
    path.getParentFile.mkdirs()
    val out: BufferedWriter = Files.newBufferedWriter(path.toPath, StandardCharsets.UTF_8)
    var bytes = 0L
    def line(s: String): Unit = { out.write(s); out.write('\n'); bytes += s.length + 1 }
    line(Seq("Account Number", "Legal Name", "Owner First Name",
      "Owner Middle Initial", "Owner Last Name", "Suffix",
      "Legal Entity Owner", "Title").map(csvField).mkString(","))
    var written = 0
    var account = 10000L + r.nextInt(1000)
    while (written < rows) {
      account += 1 + r.nextInt(40)
      val owners = math.min(rows - written, r.nextInt(100) match {
        case x if x < 60 => 1
        case x if x < 85 => 2
        case x if x < 95 => 3
        case _ => 4 + r.nextInt(3)
      })
      val w1 = words(r.nextInt(words.size))
      val w2 = words(r.nextInt(words.size))
      val ent = EntityTokens(r.nextInt(EntityTokens.size))
      val legalName = Seq(w1, w2, ent).filter(_.nonEmpty).mkString(" ")
      (0 until owners).foreach { _ =>
        val corporate = r.nextInt(100) < 8
        val (first, mid, last, suffix, entity) =
          if (corporate)
            (na(r), na(r), na(r), na(r),
              pad(r, words(r.nextInt(words.size)) + " HOLDINGS " +
                EntityTokens(r.nextInt(4))))
          else
            (pad(r, firstNames(r.nextInt(firstNames.size))),
              if (r.nextBoolean()) ('A' + r.nextInt(26)).toChar.toString else na(r),
              pad(r, words(r.nextInt(words.size))),
              if (r.nextInt(20) == 0) Suffixes(r.nextInt(Suffixes.size)) else na(r),
              na(r))
        val rawTitle = r.nextInt(100) match {
          case x if x < 4 => na(r)
          case x if x < 10 => pad(r, ExtraTitles(r.nextInt(ExtraTitles.size)))
          case _ => pad(r, SeedTitles(r.nextInt(SeedTitles.size)))
        }
        val title = normalized(rawTitle)
        title.foreach(t => titleCounts(t) += 1)
        val role = title.filter(SeedTitles.contains).getOrElse("OTHER")
        roleAccounts.getOrElseUpdate(role, mutable.Set.empty) += account
        legal(written) = legalName
        accts(written) = account
        line(Seq(account.toString, csvField(pad(r, legalName)), csvField(first),
          csvField(mid), csvField(last), csvField(suffix), csvField(entity),
          csvField(rawTitle)).mkString(","))
        written += 1
      }
      accountRows(account) = owners
    }
    out.close()
    OwnersTruth(rows, bytes, accountRows.toMap, titleCounts.toMap,
      roleAccounts.map { case (k, v) => k -> v.size }.toMap, legal, accts, words)
  }

  /** The engine's NA rule: a value whose trim is a sentinel is null;
    * others are trimmed (spaces only) and upper-cased.
    */
  def normalized(raw: String): Option[String] = {
    val t = raw.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
    if (NaSentinels.contains(t) || t.isEmpty) None else Some(t.toUpperCase)
  }

  // ---- text corpora --------------------------------------------------

  /** English function words the engine's language and quality signals
    * count; content words are pseudo-words that match no stopword list.
    */
  private val English = Seq("the", "of", "and", "to", "a", "in", "is", "that")
  /** Header every corpus document starts with; it holds no stopword. */
  private val Boilerplate = "archived record notice reproduced under license".split(" ").toSeq

  final case class Doc(id: Long, text: String, template: Int)

  /** Templates come in families of three: the base body, the base with
    * its first [[siblingSpan]] words replaced, and the base with its last
    * ones replaced. A sibling shares about 0.38 of its 3-shingles with the
    * base (at least 0.2 between any two of their variants) and under 0.1
    * with the other sibling, so near-dedup at 0.5 keeps all three while a
    * cluster split at 0.15 links the family, the two siblings through the
    * base.
    */
  val FamilySize = 3

  def family(t: Int): Int = t / FamilySize

  /** Body words a sibling template replaces. */
  def siblingSpan(tokens: Int): Int = tokens * 9 / 20

  /** One family in ten carries no English function words. */
  def isEnglishTemplate(t: Int): Boolean = family(t) % 10 != 9

  /** 3-shingle sets as the engine's Jaccard sees them (single-space
    * tokens; the generator never emits other whitespace).
    */
  def shingles(text: String, n: Int = 3): Set[String] = {
    val t = text.trim.split(" ")
    if (t.length < n) Set.empty else t.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 0.0
    else a.intersect(b).size.toDouble / a.union(b).size

  private final class Vocab(r: Random) {
    val words: IndexedSeq[String] = (0 until 6000).map(_ => pseudoWord(r, 5)).distinct
    def body(r: Random, len: Int, english: Boolean): Array[String] =
      Array.fill(len) {
        if (english && r.nextInt(4) == 0) English(r.nextInt(English.size))
        else words(r.nextInt(words.size))
      }
    /** Replace `k` randomly drawn positions. */
    def mutate(r: Random, body: Array[String], k: Int): Array[String] = {
      val out = body.clone()
      (0 until k).foreach(_ => out(r.nextInt(out.length)) = words(r.nextInt(words.size)))
      out
    }
  }

  /** Template corpus for the curation chain: `templates` bodies of
    * `tokens` words behind a shared boilerplate header, in families (see
    * [[FamilySize]]), and `variants` copies of each with about 3% of
    * words replaced (one copy is sometimes exact). Templates failing
    * [[isEnglishTemplate]] carry no English function words, so the
    * language gate drops them. Ids are shuffled.
    */
  def corpus(seed: Long, templates: Int, variants: Int, tokens: Int): IndexedSeq[Doc] = {
    val r = new Random(seed)
    val v = new Vocab(r)
    val span = siblingSpan(tokens)
    val docs = ArrayBuffer.empty[(String, Int)]
    var familyBase = Array.empty[String]
    (0 until templates).foreach { t =>
      val english = isEnglishTemplate(t)
      val base = t % FamilySize match {
        case 0 =>
          familyBase = v.body(r, tokens, english)
          familyBase
        case 1 => v.body(r, span, english) ++ familyBase.drop(span)
        case _ => familyBase.take(tokens - span) ++ v.body(r, span, english)
      }
      (0 until variants).foreach { i =>
        val body = if (i == 0 || (i == 1 && r.nextInt(4) == 0)) base
                   else v.mutate(r, base, math.max(1, math.round(tokens * 0.03).toInt))
        docs += (((Boilerplate ++ body).mkString(" "), t))
      }
    }
    r.shuffle(docs.toIndexedSeq).zipWithIndex.map { case ((text, t), i) =>
      Doc(i.toLong + 1, text, t)
    }
  }

  /** One streaming document, stamped with its event time. */
  final case class StreamDoc(id: Long, text: String, tsSec: Long, batch: Int,
                             template: Int, kind: String)

  /** Micro-batches for the streaming writer. Batch `b` holds event times
    * in [b·spacing, (b+1)·spacing) seconds past 2024-01-01T00:00Z. Kinds:
    * `fresh` (a new template), `recent` (a near-copy of a template from
    * one or two batches back), `old` (a near-copy of a template at least
    * `oldLag` batches back; each template is copied this way at most
    * once) and `copy` (an exact copy of a fresh doc of the same batch,
    * with a larger id). Near-copies differ from their template in one
    * word (3-shingle Jaccard about 0.9), so the writer's MinHash bands
    * miss one with odds below 1e-7.
    */
  def streamBatches(seed: Long, batches: Int, perBatch: Int, tokens: Int,
                    spacingSec: Long, oldLag: Int): IndexedSeq[IndexedSeq[StreamDoc]] = {
    val r = new Random(seed)
    val v = new Vocab(r)
    val bodies = ArrayBuffer.empty[Array[String]]
    val firstBatch = ArrayBuffer.empty[Int]
    val oldUsed = mutable.Set.empty[Int]
    var nextId = 1L
    (0 until batches).map { b =>
      val out = ArrayBuffer.empty[StreamDoc]
      def emit(text: String, t: Int, kind: String): Unit = {
        out += StreamDoc(nextId, text, b * spacingSec + r.nextInt(spacingSec.toInt),
          b, t, kind)
        nextId += 1
      }
      val recentPool = firstBatch.indices.filter(t => b - firstBatch(t) >= 1 && b - firstBatch(t) <= 2)
      val oldPool = ArrayBuffer.from(
        firstBatch.indices.filter(t => b - firstBatch(t) >= oldLag && !oldUsed(t)))
      // fixed shares per batch (where the pools allow) in seeded order;
      // copies come last, so each copies a fresh document with a smaller id
      val kinds = (Seq.fill(perBatch / 10)("recent") ++ Seq.fill(perBatch / 10)("old"))
        .padTo(perBatch - perBatch / 20, "fresh")
      val freshHere = ArrayBuffer.empty[StreamDoc]
      (r.shuffle(kinds) ++ Seq.fill(perBatch / 20)("copy")).foreach { k =>
        if (k == "recent" && recentPool.nonEmpty) {
          val t = recentPool(r.nextInt(recentPool.size))
          emit(v.mutate(r, bodies(t), 1).mkString(" "), t, "recent")
        } else if (k == "old" && oldPool.nonEmpty) {
          val t = oldPool.remove(r.nextInt(oldPool.size))
          oldUsed += t
          emit(v.mutate(r, bodies(t), 1).mkString(" "), t, "old")
        } else if (k == "copy" && freshHere.nonEmpty) {
          val d = freshHere(r.nextInt(freshHere.size))
          emit(d.text, d.template, "copy")
        } else {
          bodies += v.body(r, tokens, english = true)
          firstBatch += b
          emit(bodies.last.mkString(" "), bodies.size - 1, "fresh")
          freshHere += out.last
        }
      }
      out.toIndexedSeq
    }
  }
}
