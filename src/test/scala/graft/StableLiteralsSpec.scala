package graft

import graft.functions.SlotLiteral
import java.sql.{Date, Timestamp}
import java.time.LocalDateTime
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import scala.util.chaining._

/** Filter literals held in codegen reference slots
  * ([[graft.functions.StableFilterLiterals]]): a plan that differs from
  * an earlier one only in a comparison's literal compiles no new class,
  * evaluates exactly as the interpreted path does, is never merged with
  * another key's plan by exchange reuse, and still pushes the literal
  * into the parquet scan.
  */
class StableLiteralsSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Classes compiled by running `q` at every value after the first,
    * which warms the plan up.
    */
  private def compilesAfterWarmup[T](values: Seq[T])(q: T => DataFrame): Long = {
    q(values.head).collect()
    val c0 = compiles
    values.tail.foreach(v => q(v).collect())
    compiles - c0
  }

  private def slotted(df: DataFrame): Boolean =
    collect(df.queryExecution.executedPlan) { case f: FilterExec => f.condition }
      .exists(_.exists(_.isInstanceOf[SlotLiteral]))

  private lazy val table: DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_slot_lit").toString + "/t"
    val base = LocalDateTime.of(1900, 1, 1, 0, 0)
    (0 until 400).map { i =>
      (i.toLong * 7919L, i * 0.25, Timestamp.valueOf(base.plusDays(i * 97L)),
        Date.valueOf(base.toLocalDate.plusDays(i * 97L)), i % 16)
    }.toDF("id", "x", "ts", "d", "g").write.parquet(dir)
    spark.read.parquet(dir)
  }

  test("a new lookup key, range bound or double threshold compiles no new class") {
    val keys = Seq(0L, 7919L, 15838L, 31676L, 7919L * 399, -1L)
    assert(compilesAfterWarmup(keys)(k => table.filter($"id" === k)) === 0)
    val days = Seq(0, 400, 3000, 9000, 20000, 30000)
      .map(n => Date.valueOf(java.time.LocalDate.of(1900, 1, 1).plusDays(n)))
    assert(compilesAfterWarmup(days.zip(days.tail)) { case (a, b) =>
      table.filter($"d" >= lit(a) && $"d" < lit(b)) } === 0)
    val instants = days.map(d => new Timestamp(d.getTime + 3600000L))
    assert(compilesAfterWarmup(instants.zip(instants.tail)) { case (a, b) =>
      table.filter($"ts" > lit(a) && $"ts" <= lit(b)) } === 0)
    assert(compilesAfterWarmup(Seq(1.5, 10.25, 33.0, -2.0, 99.75))(t =>
      table.filter($"x" < t)) === 0)
    assert(slotted(table.filter($"id" === 7919L).tap(_.collect())))
  }

  test("slotted comparisons equal the interpreted path at the edges of every type") {
    val dir = java.nio.file.Files.createTempDirectory("graft_slot_edge").toString + "/t"
    val pre = Timestamp.valueOf("1969-12-31 23:59:59.999999")
    val old = Timestamp.valueOf("1600-06-15 12:00:00")
    val rows = Seq[(Option[Long], Option[Double], Option[Timestamp], Option[Date], Option[Float],
        Option[Int], Option[Short], Option[Byte])](
      (Some(Long.MinValue), Some(Double.NaN), Some(pre), Some(Date.valueOf("1969-12-31")),
        Some(Float.NaN), Some(Int.MinValue), Some(Short.MinValue), Some(Byte.MinValue)),
      (Some(Long.MaxValue), Some(-0.0), Some(old), Some(Date.valueOf("1600-06-15")),
        Some(-0.0f), Some(Int.MaxValue), Some(Short.MaxValue), Some(Byte.MaxValue)),
      (Some(0L), Some(0.0), Some(new Timestamp(0L)), Some(Date.valueOf("1970-01-01")),
        Some(0.0f), Some(0), Some(0.toShort), Some(0.toByte)),
      (Some(-1L), Some(Double.NegativeInfinity), Some(Timestamp.valueOf("2024-02-29 00:00:00")),
        Some(Date.valueOf("2024-02-29")), Some(Float.PositiveInfinity), Some(-1), Some(-1.toShort),
        Some(-1.toByte)),
      (None, None, None, None, None, None, None, None))
    rows.zipWithIndex.map { case (r, i) => (i, r._1, r._2, r._3, r._4, r._5, r._6, r._7, r._8) }
      .toDF("i", "l", "x", "ts", "d", "f", "n", "s", "b")
      .withColumn("ts_ntz", $"ts".cast("timestamp_ntz"))
      .write.parquet(dir)
    val t = spark.read.parquet(dir)
    val probes: Seq[(String, Column)] = Seq(
      "l" -> lit(Long.MinValue), "l" -> lit(Long.MaxValue), "l" -> lit(0L),
      "x" -> lit(Double.NaN), "x" -> lit(-0.0), "x" -> lit(0.0),
      "x" -> lit(Double.NegativeInfinity),
      "ts" -> lit(pre), "ts" -> lit(old), "ts_ntz" -> lit(pre.toLocalDateTime),
      "d" -> lit(Date.valueOf("1969-12-31")), "d" -> lit(Date.valueOf("1600-06-15")),
      "f" -> lit(Float.NaN), "f" -> lit(-0.0f), "n" -> lit(Int.MinValue),
      "s" -> lit(Short.MaxValue), "b" -> lit(Byte.MinValue))
    val ops: Seq[(Column, Column) => Column] =
      Seq(_ === _, _ <=> _, _ < _, _ <= _, _ > _, _ >= _, (c, v) => v < c)
    def answers(): Seq[Seq[Int]] = for ((c, v) <- probes; op <- ops)
      yield t.filter(op(col(c), v)).select("i").as[Int].collect().sorted.toSeq
    def under(confs: (String, String)*)(body: => Seq[Seq[Int]]): Seq[Seq[Int]] = {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally confs.foreach { case (k, _) => spark.conf.unset(k) }
    }
    val codegen = answers()
    assert(slotted(t.filter(col("l") === Long.MinValue).tap(_.collect())))
    // a generated predicate outside whole-stage codegen, then no codegen
    val predicate = under("spark.sql.codegen.wholeStage" -> "false")(answers())
    val interpreted = under("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(answers())
    val labels = for ((c, v) <- probes; k <- ops.indices) yield s"$c op$k $v"
    for ((l, i) <- labels.zipWithIndex) {
      assert(codegen(i) === interpreted(i), l)
      assert(predicate(i) === interpreted(i), s"$l (generated predicate)")
    }
    // the NaN and -0.0 probes follow Spark's comparison semantics
    val nanEq = probes.indexWhere(p => p._1 == "x" && p._2.toString.contains("NaN"))
    assert(codegen(nanEq * ops.size) === Seq(0))
    val zeroEq = probes.indexWhere(p => p._1 == "x" && p._2.toString == "-0.0")
    assert(codegen(zeroEq * ops.size) === Seq(1, 2))
  }

  test("exchange reuse never merges two keys' plans") {
    // the parquet scan keeps each key in its own data filters; a range
    // source holds none, so there only the filter tells the two apart
    val sources = Seq("parquet" -> table, "range" -> spark.range(0, 400).select(
      ($"id" * 7919L).as("id")))
    for ((name, src) <- sources; aqe <- Seq("true", "false")) {
      def side(k: Long) = src.filter($"id" === k).groupBy($"id").agg(count(lit(1)).as("n"))
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      try {
        val u = side(7919L).union(side(15838L))
        assert(u.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ===
          Seq((7919L, 1L), (15838L, 1L)), s"$name aqe=$aqe")
        assert(slotted(u), s"$name aqe=$aqe: the filters were not slotted")
      } finally spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("a lookup's scan still pushes the key literal") {
    val df = table.filter($"id" === 7919L)
    df.collect()
    val scan = collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
    assert(scan.size === 1)
    assert(scan.head.metadata("PushedFilters").contains("EqualTo(id,7919)"),
      scan.head.metadata("PushedFilters"))
    assert(scan.head.dataFilters.forall(!_.exists(_.isInstanceOf[SlotLiteral])))
    assert(slotted(df))
  }
}
