package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The engine's native Catalyst expressions as SQL functions.
  *
  * `float_vec_dot(array<float>, array<float>)` and
  * `string_poly_hash(string)` become callable from `spark.sql(...)` —
  * the standard extension seam for custom expressions (SURVEY §2
  * preference order (b)): declare the plan in SQL, keep the hot loop
  * codegen'd.
  */
object GraftSqlFunctions {
  type Builder = Seq[Expression] => Expression

  private def arity(name: String, n: Int)(b: Seq[Expression] => Expression): Builder =
    args => {
      // a clear arity error instead of an opaque IndexOutOfBounds from
      // inside function resolution
      require(args.length == n, s"$name expects $n argument(s), got ${args.length}")
      b(args)
    }

  val all: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    (FunctionIdentifier("float_vec_dot"),
      new ExpressionInfo(classOf[FloatVecDot].getName, "float_vec_dot"),
      arity("float_vec_dot", 2)(args => FloatVecDot(args(0), args(1)))),
    (FunctionIdentifier("string_poly_hash"),
      new ExpressionInfo(classOf[StringPolyHash].getName, "string_poly_hash"),
      arity("string_poly_hash", 1)(args => StringPolyHash(args.head))),
    (FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NormalizeUnicode].getName, "nfc_normalize"),
      arity("nfc_normalize", 1)(args => NormalizeUnicode(args.head, "NFC"))),
    (FunctionIdentifier("poly_window_hash"),
      new ExpressionInfo(classOf[PolyWindowHash].getName, "poly_window_hash"),
      arity("poly_window_hash", 2)(args => PolyWindowHash(args.head, {
        // width must be a literal int — it is baked into the codegen
        require(args(1).foldable, "poly_window_hash width must be a literal")
        args(1).eval().asInstanceOf[Number].intValue()
      }))),
    (FunctionIdentifier("grid_snap"),
      new ExpressionInfo(classOf[GridSnapExpr].getName, "grid_snap"),
      arity("grid_snap", 2)(args => GridSnapExpr(args.head, {
        // scale must be a literal int — it is baked into the codegen
        require(args(1).foldable, "grid_snap scale must be a literal")
        val k = args(1).eval().asInstanceOf[Number].intValue()
        require(k >= 0 && k <= 12, s"grid_snap scale $k outside [0,12]")
        k
      }))))
}

/** `SparkSessionExtensions` hook: the engine's SQL functions and the
  * [[StableFilterLiterals]] physical rule. `GraftSession.builder`
  * installs it; other sessions build with
  * `.withExtensions(new GraftExtensions)` or set
  * `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftSqlFunctions.all.foreach(ext.injectFunction)
    ext.injectColumnar(_ => StableFilterLiteralsRule)
  }
}
