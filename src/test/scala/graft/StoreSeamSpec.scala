package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the stream stores' one commit seam by a source scan (no
  * Spark): in `Streaming.scala`, with comments stripped, every store
  * publish and every parameter pin sits in the seam (`retentionStep`,
  * its pin-and-read `readStore`, its publish rule `commitState`), in
  * the merge-on-read sink step or in the online logistic step, whose
  * replay guard must skip its publish. A store step that hand-rolls
  * its own pin or publish fails here.
  */
class StoreSeamSpec extends AnyFunSuite {

  test("Streaming.scala pins and publishes stores only in the seam, morUpsertStep and onlineLogisticBatchStep") {
    val src = Files.readString(Paths.get(sys.props("user.dir"),
      "src", "main", "scala", "graft", "stream", "Streaming.scala"))
    val code = """(?s)/\*.*?\*/|//[^\n]*""".r.replaceAllIn(src, "")
    val defs = """\bdef\s+(\w+)""".r.findAllMatchIn(code)
      .map(m => m.start -> m.group(1)).toSeq
    val calls = """VersionedTable\.publish\(|requireParams\(""".r
      .findAllMatchIn(code)
      .map(m => m.matched -> defs.takeWhile(_._1 < m.start).last._2).toSeq
    assert(calls.map(_._1).toSet ===
      Set("VersionedTable.publish(", "requireParams("))
    val allowed = Set("retentionStep", "readStore", "commitState",
      "morUpsertStep", "onlineLogisticBatchStep")
    val stray = calls.filterNot(c => allowed(c._2))
    assert(stray.isEmpty, s"store pin or publish outside the seam: $stray")
  }
}
