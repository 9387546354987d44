package graftbench

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

class LayersSpec extends AnyFunSuite {

  /** The engine's packages, read from its source tree. */
  private val packages: Seq[String] = {
    val dir = new File("../src/main/scala/graft")
    Option(dir.listFiles).toSeq.flatten.filter(_.isDirectory).map(_.getName).sorted
  }

  test("the engine's source tree is where the spec expects it") {
    assert(packages.contains("lake") && packages.contains("serve"))
  }

  test("every graft package maps to its own layer") {
    packages.foreach { p =>
      val frame = s"graft.$p.Some$$.call(Some.scala:12)"
      assert(Layers.frameModule(frame).contains(p), frame)
      assert(Layers.moduleOf(s"graft.$p.inner.Deep$$.f(Deep.scala:3)").contains(p))
    }
  }

  test("every reported layer except the catch-all is a package or the pipeline") {
    val layers = Layers.Reported.filterNot(_ == Layers.Unattributed)
    assert(layers.forall(l => l == "pipeline" || packages.contains(l)), layers)
    assert(packages.filterNot(layers.contains) == Seq("multimodal"),
      "every package but multimodal is reported")
  }

  test("the top-level orchestrator is the pipeline layer") {
    assert(Layers.frameModule("graft.Pipeline$.runFull(Pipeline.scala:68)").contains("pipeline"))
  }

  test("frames outside the engine map to nothing") {
    Seq("graftbench.Lifecycle$.run(Lifecycle.scala:10)",
      "org.apache.spark.sql.Dataset.collect(Dataset.scala:1)",
      "scala.collection.immutable.List.foreach(List.scala:1)",
      "graftx.Foo.bar(Foo.scala:1)", "").foreach { f =>
      assert(Layers.frameModule(f).isEmpty, f)
    }
  }

  test("a class-loader prefix does not hide the engine frame") {
    assert(Layers.frameModule("app//graft.lake.LakeStorage$.write(LakeStorage.scala:29)")
      .contains("lake"))
  }

  test("the innermost engine frame of a call site wins") {
    val site = Seq(
      "org.apache.spark.sql.DataFrameWriter.parquet(DataFrameWriter.scala:1)",
      "graft.lake.LakeStorage$.write(LakeStorage.scala:29)",
      "graft.Pipeline$.$anonfun$runFull$1(Pipeline.scala:68)",
      "graftbench.Lifecycle$.run(Lifecycle.scala:1)").mkString("\n")
    assert(Layers.moduleOf(site).contains("lake"))
    assert(Layers.moduleOf("graftbench.Main$.main(Main.scala:1)").isEmpty)
    assert(Layers.moduleOf(null).isEmpty)
  }

  test("interval unions clip to the window and merge overlaps") {
    assert(Ledger.unionMs(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0, 100) == 25)
    assert(Ledger.unionMs(Seq((0L, 10L), (5L, 15L)), 8, 12) == 4)
    assert(Ledger.unionMs(Seq((10L, 10L), (50L, 40L)), 0, 100) == 0)
    assert(Ledger.unionMs(Nil, 0, 100) == 0)
  }

  test("self time is a span's duration less what its children cover") {
    val spans = Seq(Span(1, "run", "pipeline", 0, 100, -1),
      Span(2, "job 1", "lake", 10, 40, 1), Span(3, "job 2", "lake", 30, 60, 1),
      Span(4, "job 3", "warehouse", 70, 80, 1))
    val self = Ledger.selfTimeS(spans)
    assert(math.abs(self("pipeline") - 0.04) < 1e-9)
    assert(math.abs(self("lake") - 0.06) < 1e-9)
    assert(math.abs(self("warehouse") - 0.01) < 1e-9)
  }
}
