package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Source scans (no Spark), with comments stripped:
  *  - in `Streaming.scala` every store publish and every parameter pin
  *    sits in the seam (`retentionStep`, its pin-and-read `readStore`,
  *    its publish rule `commitState`), in the merge-on-read sink step or
  *    in the online logistic step, whose replay guard must skip its
  *    publish. A store step that hand-rolls its own pin or publish
  *    fails here;
  *  - `VersionedTable.scala` lists a root only in `list` (and walks a
  *    layer's files only in `describe`), and `Streaming.scala` calls
  *    none of the listing projections: it works from the seam's one
  *    listing.
  */
class StoreSeamSpec extends AnyFunSuite {

  private def code(file: String*): String = {
    val src = Files.readString(Paths.get(sys.props("user.dir"),
      Seq("src", "main", "scala", "graft") ++ file: _*))
    """(?s)/\*.*?\*/|//[^\n]*""".r.replaceAllIn(src, "")
  }

  test("Streaming.scala pins and publishes stores only in the seam, morUpsertStep and onlineLogisticBatchStep") {
    val code = this.code("stream", "Streaming.scala")
    val defs = """\bdef\s+(\w+)""".r.findAllMatchIn(code)
      .map(m => m.start -> m.group(1)).toSeq
    val calls = """VersionedTable\.publish(On)?\(|requireParams(On)?\(""".r
      .findAllMatchIn(code)
      .map(m => m.matched -> defs.takeWhile(_._1 < m.start).last._2).toSeq
    assert(calls.map(_._1).toSet ===
      Set("VersionedTable.publishOn(", "requireParamsOn("))
    val allowed = Set("retentionStep", "readStore", "commitState",
      "morUpsertStep", "onlineLogisticBatchStep")
    val stray = calls.filterNot(c => allowed(c._2))
    assert(stray.isEmpty, s"store pin or publish outside the seam: $stray")
  }

  test("VersionedTable.scala lists a root only in list; Streaming.scala calls no listing projection") {
    val vt = code("lake", "VersionedTable.scala")
    // the object's own members, not the defs nested in them
    val members = """(?m)^  (?:private(?:\[\w+\])? )?def\s+(\w+)""".r
      .findAllMatchIn(vt).map(m => m.start -> m.group(1)).toSeq
    val listers = """\.listStatus\(""".r.findAllMatchIn(vt)
      .map(m => members.takeWhile(_._1 < m.start).last._2).toSeq
    assert(listers.sorted === Seq("describe", "list"))
    val helpers = """\b(isVersioned|pendingDeltas|currentVersion|listDeltas|listVersions|currentLayers)\b""".r
      .findAllIn(code("stream", "Streaming.scala")).toSet
    assert(helpers.isEmpty, s"Streaming.scala lists a store root itself: $helpers")
  }
}
