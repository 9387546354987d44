package graftbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json at the repository root names exactly what the harness
  * prints.
  */
class BenchmarkFileSpec extends AnyFunSuite {
  private val root = new ObjectMapper().readTree(new File("../BENCHMARK.json"))

  private def names(key: String): Seq[(String, String)] =
    root.get(key).elements().asScala.toSeq.map(n =>
      n.get("name").asText -> Option(n.get("unit")).map(_.asText).getOrElse(""))

  test("workloads match the harness's") {
    assert(names("workloads").map(_._1) == Workload.all.map(_.name))
  }

  test("end-to-end metrics match the harness's, with units") {
    assert(names("end_to_end") == Metrics.endToEnd)
  }

  test("per-layer metrics match the harness's, with units") {
    assert(names("per_layer") == Metrics.perLayer)
  }
}
