package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Pins the timing mains' shared contract without starting Spark (the
  * mains call `spark.stop()`, so no spec may run one):
  *
  *  - the engine has one session factory — the plan a bench times runs
  *    under the SQL config `Verify` checks against the oracle — and
  *    exactly the five known mains;
  *  - one failure rule for every timed cell: a cell with any failed rep
  *    is failed, never timed, and a fatal error ends the run.
  */
class HarnessSpec extends AnyFunSuite {

  private val mainSources: Seq[(Path, String)] = {
    val root = Paths.get(sys.props("user.dir"), "src", "main", "scala")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => root.relativize(p) -> Files.readString(p))
    finally walk.close()
  }

  test("src/main has one SparkSession builder, in GraftSession, and five mains that use it") {
    val builder = """SparkSession\s*\.\s*builder\s*\(""".r
    val comment = """(?s)/\*.*?\*/|//[^\n]*""".r
    val builders = mainSources.flatMap { case (p, src) =>
      Seq.fill(builder.findAllIn(comment.replaceAllIn(src, "")).size)(p.toString) }
    assert(builders === Seq("graft/core/GraftSession.scala"))
    val mains = mainSources.filter(_._2.contains("def main("))
    assert(mains.map(_._1.getFileName.toString).sorted === Seq(
      "Bench.scala", "PlanDump.scala", "Profile.scala", "ScaleBench.scala", "Verify.scala"))
    mains.foreach { case (p, src) =>
      assert(src.contains("GraftSession.getOrCreate("), s"$p builds its own session")
    }
  }

  test("a cell whose last rep throws is failed, not timed") {
    val times = Harness.timeReps("spec", 2) { rep =>
      if (rep == 1) throw new IllegalStateException("rep 2 of 2")
    }
    assert(times.size === 2 && times.head.isDefined && times(1).isEmpty)
    assert(Harness.best(times) === None)
    assert(Harness.timeMin("spec", 2)(rep => require(rep == 0)) === None)
  }

  test("a fatal error in a rep propagates instead of failing the cell") {
    var reps = 0
    intercept[OutOfMemoryError] {
      Harness.timeMin("spec", 2) { _ => reps += 1; throw new OutOfMemoryError("spec") }
    }
    assert(reps === 1)
  }

  test("a cell whose reps all succeed reads the minimum over its reps") {
    val times = Harness.timeReps("spec", 3)(rep => Thread.sleep(Seq(40L, 5L, 20L)(rep)))
    assert(times.forall(_.isDefined))
    assert(Harness.best(times) === Some(times.flatten.min))
    assert(times(1).get >= 0.005)
    assert(Harness.best(Seq(Some(0.3), Some(0.1), Some(0.2))) === Some(0.1))
  }
}
