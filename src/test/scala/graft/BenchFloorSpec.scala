package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Pins the committed bench floors to the bench surface (no Spark):
  * `BENCH_QUERIES.json` holds a floor for exactly the cells
  * `SparkEntry.benchQueries` times, and `BENCH_FLOOR_AGE.json` ages no
  * cell outside them — so a deleted cell cannot leave a floor (or its
  * age) behind, and a new cell cannot go unfloored.
  */
class BenchFloorSpec extends AnyFunSuite {

  private def names(file: String, field: String): Set[String] =
    new ObjectMapper().readTree(new java.io.File(sys.props("user.dir"), file))
      .get(field).fieldNames().asScala.toSet

  test("the floor map names exactly the bench cells, and the age file no cell outside them") {
    val cells = SparkEntry.benchQueries.keySet
    val floors = names("BENCH_QUERIES.json", "queries")
    assert((floors -- cells).isEmpty, "floors without a bench cell")
    assert((cells -- floors).isEmpty, "bench cells without a floor")
    assert((names("BENCH_FLOOR_AGE.json", "last_reproduced") -- cells).isEmpty,
      "aged floors without a bench cell")
  }
}
