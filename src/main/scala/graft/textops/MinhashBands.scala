package graft.textops

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, NullType, StringType}

/** JVM kernel of [[MinhashBandKeys]]: a document's LSH band keys from
  * its token array in one pass, with no shingle relation and no
  * shuffle. It replays the DataFrame MinHash formula bit for bit (the
  * specs keep that formula in the test tree's `graft.Reference` and
  * compare the two for both hash families):
  *
  *  - shingle i is the family hash of tokens i..i+n−1 (Xx64: Spark's
  *    `xxhash64` of the token slice, seed 42 chained over the
  *    elements; Md5Portable: the top 60 bits of the md5 of the
  *    space-joined slice);
  *  - signature entry k is min over shingles of
  *    pmod(pmod(shingle, p)·a_k + b_k, p), with the
  *    [[Dedup.minhashCoefficients]] constants — a minimum ignores
  *    repeated shingles, so the formula's `distinct` is not needed;
  *  - band j's key is the family hash of signature entries
  *    j·r..j·r+r−1 (Xx64: `xxhash64` of the long slice; Md5Portable:
  *    md5 of the comma-joined decimals).
  *
  * Null elements are skipped the way `xxhash64` and `array_join` skip
  * them. A document with fewer than n tokens has no band keys: null.
  */
object MinhashBands {

  /** Band keys of `toks` under the interleaved (a, b) coefficients
    * `coef`, or null when `toks` has fewer than `n` elements.
    */
  def keys(toks: ArrayData, n: Int, coef: Array[Long], bands: Int,
           portable: Boolean): ArrayData = {
    val len = toks.numElements()
    if (len < n) return null
    val p = Dedup.MinhashPrime
    val k = coef.length / 2
    val mins = Array.fill(k)(Long.MaxValue)
    val md5 = if (portable) MessageDigest.getInstance("MD5") else null
    var i = 0
    while (i <= len - n) {
      val sh = if (portable) md5Top60(md5, joined(toks, i, n)) else xxSlice(toks, i, n)
      val h = java.lang.Math.floorMod(sh, p)
      var j = 0
      while (j < k) {
        // h, a < 2^31 and b < 2^31: h·a + b < 2^62, no overflow
        val v = (h * coef(2 * j) + coef(2 * j + 1)) % p
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    val r = k / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      out(b) =
        if (portable) {
          val sb = new java.lang.StringBuilder
          var e = 0
          while (e < r) {
            if (e > 0) sb.append(',')
            sb.append(mins(b * r + e))
            e += 1
          }
          md5Top60(md5, sb.toString.getBytes(StandardCharsets.UTF_8))
        } else {
          var seed = 42L
          var e = 0
          while (e < r) { seed = XXH64.hashLong(mins(b * r + e), seed); e += 1 }
          seed
        }
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** `xxhash64(slice(toks, i + 1, n))`: seed 42, chained over the
    * non-null elements' UTF-8 bytes.
    */
  private def xxSlice(toks: ArrayData, i: Int, n: Int): Long = {
    var seed = 42L
    var t = i
    while (t < i + n) {
      if (!toks.isNullAt(t)) {
        val s = toks.getUTF8String(t)
        seed = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, seed)
      }
      t += 1
    }
    seed
  }

  /** UTF-8 bytes of `array_join(slice(toks, i + 1, n), ' ')`. */
  private def joined(toks: ArrayData, i: Int, n: Int): Array[Byte] = {
    val buf = new java.io.ByteArrayOutputStream
    var first = true
    var t = i
    while (t < i + n) {
      if (!toks.isNullAt(t)) {
        if (!first) buf.write(' ')
        buf.write(toks.getUTF8String(t).getBytes)
        first = false
      }
      t += 1
    }
    buf.toByteArray
  }

  /** `CAST(conv(substring(md5(x), 1, 15), 16, 10) AS BIGINT)`: the
    * first 15 hex digits of the digest are its top 60 bits.
    */
  private def md5Top60(md5: MessageDigest, bytes: Array[Byte]): Long = {
    val d = md5.digest(bytes)
    var hi = 0L
    var b = 0
    while (b < 8) { hi = (hi << 8) | (d(b) & 0xffL); b += 1 }
    hi >>> 4
  }
}

/** Native Catalyst expression for a document's MinHash LSH band keys
  * (array<bigint> of `bands` keys) from its token array — one codegen'd
  * call per row into [[MinhashBands.keys]] (the [[graft.functions.StringPolyHash]]
  * pattern). The DataFrame formula needs an exploded shingle relation,
  * a `distinct` and a `groupBy(id)` shuffle to get the same keys. The
  * batch MinHash tiers ([[Dedup.minhashLshPairs]],
  * [[Dedup.editVerifiedPairs]]) and the stream near-dedup step all band
  * through it.
  */
case class MinhashBandKeys(child: Expression, shingleN: Int, numHashes: Int,
                           bands: Int, portable: Boolean) extends UnaryExpression {

  /** [[Dedup.minhashCoefficients]] interleaved as a_0, b_0, a_1, … */
  @transient private lazy val coef: Array[Long] =
    Dedup.minhashCoefficients(numHashes).flatMap { case (a, b) => Seq(a, b) }.toArray

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // null for a document shorter than one shingle, whatever the input
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_band_keys"

  override def checkInputDataTypes(): TypeCheckResult =
    if (shingleN <= 0 || bands <= 0 || numHashes % bands != 0)
      TypeCheckResult.TypeCheckFailure(s"$prettyName needs shingleN > 0 and bands " +
        s"dividing numHashes, got shingleN=$shingleN numHashes=$numHashes bands=$bands")
    else child.dataType match {
      case ArrayType(_: StringType, _) | NullType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an array<string> argument, got ${other.sql}")
    }

  override def nullSafeEval(input: Any): Any =
    MinhashBands.keys(input.asInstanceOf[ArrayData], shingleN, coef, bands, portable)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val coefRef = ctx.addReferenceObj("minhashCoef", coef, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.textops.MinhashBands.keys($c, $shingleN, $coefRef, $bands, $portable);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinhashBandKeys {
  /** Band keys of the whitespace tokens of `text` (the
    * [[TextFunctions.tokens]] the formula splits with).
    */
  def column(text: Column, shingleN: Int, numHashes: Int, bands: Int,
             family: HashFamily): Column =
    ColumnBridge.column(MinhashBandKeys(ColumnBridge.expression(TextFunctions.tokens(text)),
      shingleN, numHashes, bands, family == HashFamily.Md5Portable))
}
