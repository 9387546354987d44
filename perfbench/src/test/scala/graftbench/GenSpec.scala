package graftbench

import java.io.File
import java.nio.file.Files

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def tmp(): File = Files.createTempDirectory("graftbench-gen").toFile

  test("the owners CSV is seeded and its truth matches its rows") {
    val d = tmp()
    val a = Gen.owners(7, 2000, new File(d, "a.csv"))
    val b = Gen.owners(7, 2000, new File(d, "b.csv"))
    val textA = Source.fromFile(new File(d, "a.csv")).mkString
    assert(textA == Source.fromFile(new File(d, "b.csv")).mkString)
    assert(a.accountRows == b.accountRows)
    val lines = textA.split("\n")
    assert(lines.length == 2001)
    assert(a.accountRows.values.sum == 2000)
    assert(a.accountRows.values.exists(_ > 1), "multi-owner accounts")
    assert(a.bytes == textA.length)
    Seq("\"N/A\"", "\"NULL\"", "\"null\"", "\" \"", "\"\"").foreach(s =>
      assert(textA.contains(s), s))
    Seq(" LLC\"", " INC\"", " CORP\"", " LTD\"").foreach(s =>
      assert(textA.toUpperCase.contains(s), s))
    val corporate = lines.tail.count(_.toUpperCase.contains(" HOLDINGS "))
    assert(corporate > 2000 * 0.04 && corporate < 2000 * 0.12, corporate)
    assert(a.titleCounts.keys.forall(t => t == t.trim.toUpperCase && t.nonEmpty))
    assert(a.titleCounts.values.sum < 2000, "NA titles are not counted")
  }

  test("the NA rule matches the engine's: trim, sentinel to null, upper-case") {
    assert(Gen.normalized("  ceo ").contains("CEO"))
    Seq("", " ", "N/A", " NULL ", "null").foreach(s => assert(Gen.normalized(s).isEmpty, s))
    assert(Gen.normalized("Null").contains("NULL"), "sentinels are case-sensitive")
  }

  test("search and cursor truth follow the generated rows") {
    val t = Gen.owners(3, 500, new File(tmp(), "o.csv"))
    val w = t.nameWords.head
    assert(t.searchCount(w) == t.legalNames.count(_.contains(w)))
    val k = t.accounts.sorted.apply(100)
    assert(t.rowsAbove(k) == t.accounts.count(_ > k))
    assert(t.rowsAbove(Long.MaxValue - 1) == 0)
  }

  test("variants are near-duplicates, family siblings link only at the split threshold") {
    Seq(5L, 6L).foreach { seed =>
      val docs = Gen.corpus(seed, 30, 4, 60)
      assert(docs.size == 120 && docs.map(_.id).distinct.size == 120)
      assert(docs == Gen.corpus(seed, 30, 4, 60))
      val sh = docs.map(d => (d.template, Gen.shingles(d.text)))
      for (i <- sh.indices; j <- i + 1 until sh.size) {
        val ((ta, a), (tb, b)) = (sh(i), sh(j))
        val jac = Gen.jaccard(a, b)
        val siblings = ta != tb && Gen.family(ta) == Gen.family(tb) &&
          (ta % Gen.FamilySize == 0 || tb % Gen.FamilySize == 0)
        if (ta == tb) assert(jac >= Curate.DedupThreshold, (ta, tb, jac))
        else if (siblings) assert(jac >= Curate.SplitThreshold && jac < Curate.DedupThreshold,
          (ta, tb, jac))
        else assert(jac < Curate.SplitThreshold, (ta, tb, jac))
      }
    }
  }

  test("stream batches advance event time and plant in-batch copies") {
    val bs = Gen.streamBatches(9, 12, 100, 60, 600, 5)
    assert(bs.size == 12 && bs.forall(_.size == 100))
    bs.zipWithIndex.foreach { case (b, i) =>
      assert(b.forall(d => d.batch == i && d.tsSec >= i * 600 && d.tsSec < (i + 1) * 600))
      b.filter(_.kind == "copy").foreach { c =>
        assert(b.exists(o => o.kind == "fresh" && o.text == c.text && o.id < c.id))
      }
    }
    val all = bs.flatten
    assert(all.map(_.id).distinct.size == all.size)
    Seq("fresh", "recent", "old", "copy").foreach(k => assert(all.exists(_.kind == k), k))
    val olds = all.filter(_.kind == "old")
    assert(olds.map(_.template).distinct.size == olds.size, "a template is copied old once")
    val fresh = all.filter(_.kind == "fresh").map(d => d.template -> d).toMap
    all.filter(d => d.kind == "recent" || d.kind == "old").foreach { d =>
      val o = fresh(d.template)
      val lag = d.batch - o.batch
      assert(if (d.kind == "recent") lag >= 1 && lag <= 2 else lag >= 5, (d.kind, lag))
      assert(d.text.split(" ").zip(o.text.split(" ")).count(x => x._1 != x._2) <= 1)
    }
  }
}
