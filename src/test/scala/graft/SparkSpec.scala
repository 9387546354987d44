package graft

import graft.core.GraftSession
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared Spark session for specs — one JVM-wide session (getOrCreate)
  * from the engine's own factory, so specs run the mains' SQL config,
  * at a small core count for test latency.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("graft-test", 4).getOrCreate()

  val sfDir = "/root/testdata/sf0.001"
}
