package graft

import graft.functions.GraftExtensions
import org.apache.spark.sql.SparkSessionExtensions

/** The custom expressions exposed as SQL functions, in every session
  * `GraftSession` builds.
  */
class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("registered SQL functions evaluate the native expressions") {
    val dot = spark.sql(
      "SELECT float_vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d")
      .as[Double].collect().head
    assert(dot === 11.0)
    val h = spark.sql("SELECT string_poly_hash('ab') AS h").as[Long].collect().head
    // Horner: ('a'=97)*31 + ('b'=98) = 3105
    assert(h === (97L * 31 + 98))
    assert(spark.sql("SELECT string_poly_hash(NULL)").collect().head.isNullAt(0))
    // window hashes: each element equals the whole-string hash of its window
    val wh = spark.sql("SELECT poly_window_hash('abc', 2) AS a")
      .selectExpr("a[0]", "a[1]").as[(Long, Long)].collect().head
    assert(wh === ((97L * 31 + 98, 98L * 31 + 99)))
    // any FOLDABLE width expression works (evaluated at resolution);
    // a column-dependent width is rejected by the builder's guard
    val folded = spark.sql("SELECT poly_window_hash('abc', length('xy')) AS a")
      .selectExpr("a[0]").as[Long].collect().head
    assert(folded === 97L * 31 + 98)
  }

  test("grid_snap SQL form: ties, non-finite passthrough, numeric implicit cast") {
    // the canonical 6-dp tie (see StableMathSpec): binary value sits
    // BELOW its rendered tie, so the snap rounds down where round()
    // rounds up
    val tie = spark.sql("SELECT grid_snap(4264.78D / 64, 6) AS v")
      .as[Double].collect().head
    assert(tie === 66.637187)
    // non-finite inputs pass through
    assert(spark.sql("SELECT grid_snap(CAST('NaN' AS DOUBLE), 6) AS v")
      .as[Double].collect().head.isNaN)
    assert(spark.sql("SELECT grid_snap(CAST('Infinity' AS DOUBLE), 6) AS v")
      .as[Double].collect().head.isPosInfinity)
    // an INT input implicit-casts to double like the Column wrapper
    assert(spark.sql("SELECT grid_snap(7, 2) AS v")
      .as[Double].collect().head === 7.0)
    // SQL form == Column API form
    val df = Seq(4264.78 / 64, 0.1234565, -0.1234565).toDF("x")
    df.createOrReplaceTempView("_ext_g")
    val viaSql = spark.sql("SELECT grid_snap(x, 6) AS v FROM _ext_g")
      .as[Double].collect().toSeq
    val viaApi = df.select(
        graft.functions.StableMath.gridSnap($"x", 6).as("v"))
      .as[Double].collect().toSeq
    assert(viaSql === viaApi)
  }

  test("GraftExtensions injects every function into a session-extensions hook") {
    // Builder-path smoke test: applying the extension class to a fresh
    // SparkSessionExtensions must register without error (a brand-new
    // session would pick these up via spark.sql.extensions).
    new GraftExtensions().apply(new SparkSessionExtensions)
  }

  test("SQL form matches the Column API form on real data") {
    val df = Seq("hello world", "Hello  World", "").toDF("t")
    df.createOrReplaceTempView("_ext_t")
    val viaSql = spark.sql("SELECT string_poly_hash(t) AS h FROM _ext_t")
      .as[Long].collect().toSeq
    val viaApi = df.select(
        graft.functions.HashFunctions.polyHash($"t").as("h"))
      .as[Long].collect().toSeq
    assert(viaSql === viaApi)
  }
}
