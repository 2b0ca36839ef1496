package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Jaro–Winkler similarity in EXACT floor micro-units — the
  * edit-distance alternative for SHORT KEY fields (names, codes,
  * cities) where character transpositions and shared prefixes carry
  * signal that plain Levenshtein (the E146/E236 scorer) prices wrong.
  * Returned as `floor(10⁶·JW)` computed in exact integer arithmetic —
  * Jaro is a rational (matches, transpositions and lengths are
  * integers: J = [m/|a| + m/|b| + (m−t)/m]/3) and the Winkler prefix
  * boost keeps it one (JW = J + l·(1−J)/10, prefix l ≤ 4) — so the
  * score is bit-identical across engines and partitionings, the
  * repo-wide no-floats-near-a-threshold discipline. Definition
  * stated: the boost applies UNCONDITIONALLY (the jellyfish/Lucene
  * convention; Winkler's original and DuckDB gate it on J > 0.7 —
  * one more reason this surface is spec-pinned, not double-oracled).
  * Both-empty compares equal (10⁶); empty-vs-nonempty scores 0.
  *
  * Execution: a native `BinaryExpression` with `doGenCode` — one
  * static call per row inside whole-stage codegen (the E105
  * UnicodeNormalize pattern), no boxing, no UDF serialization. The
  * scaled numerator 10⁷·Jn fits a Long for strings up to ~4000
  * codepoints (6·10⁷·L³ bound); longer inputs take a BigInteger
  * slow path rather than silently overflowing. Matching scan is the
  * standard windowed greedy (window = max(|a|,|b|)/2 − 1), O(|a|·w)
  * worst case — key fields, not documents (stated). */
object JaroWinklerUtil {

  private val LongSafeLen = 4000

  def e6(a: UTF8String, b: UTF8String): Long = {
    val s = a.toString
    val t = b.toString
    val la = s.codePointCount(0, s.length)
    val lb = t.codePointCount(0, t.length)
    if (la == 0 && lb == 0) return 1000000L
    if (la == 0 || lb == 0) return 0L
    val sa = s.codePoints().toArray
    val sb = t.codePoints().toArray
    val window = math.max(0, math.max(la, lb) / 2 - 1)
    val matchedA = new Array[Boolean](la)
    val matchedB = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - window)
      val hi = math.min(lb - 1, i + window)
      var j = lo
      var found = false
      while (!found && j <= hi) {
        if (!matchedB(j) && sa(i) == sb(j)) {
          matchedA(i) = true; matchedB(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0L
    // raw transposition count t2 (classic t = t2/2, kept doubled so
    // everything stays integral)
    var t2 = 0
    var j = 0
    i = 0
    while (i < la) {
      if (matchedA(i)) {
        while (!matchedB(j)) j += 1
        if (sa(i) != sb(j)) t2 += 1
        j += 1
      }
      i += 1
    }
    var l = 0
    while (l < math.min(4, math.min(la, lb)) && sa(l) == sb(l)) l += 1
    // J = Jn/Jd exactly; JW = (10*Jn + l*(Jd - Jn)) / (10*Jd)
    if (math.max(la, lb) <= LongSafeLen) {
      val laL = la.toLong; val lbL = lb.toLong; val mL = m.toLong
      val jd = 6L * laL * lbL * mL
      val jn = 2L * mL * mL * (laL + lbL) + laL * lbL * (2L * mL - t2)
      (1000000L * (10L * jn + l * (jd - jn))) / (10L * jd)
    } else {
      val laB = BigInt(la); val lbB = BigInt(lb); val mB = BigInt(m)
      val jd = laB * lbB * mB * 6
      val jn = mB * mB * (laB + lbB) * 2 + laB * lbB * (mB * 2 - t2)
      ((BigInt(1000000) * (jn * 10 + (jd - jn) * l)) / (jd * 10)).toLong
    }
  }
}

case class JaroWinklerE6(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (_: StringType, _: StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two string arguments, got " +
          s"${l.simpleString}, ${r.simpleString}")
    }

  override def dataType: DataType = LongType

  override def prettyName: String = "jaro_winkler_e6"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    JaroWinklerUtil.e6(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.JaroWinklerUtil.e6($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinklerE6 =
    copy(left = newLeft, right = newRight)
}

object JaroWinklerFunctions {

  def jaroWinklerE6(a: Column, b: Column): Column = NativeFunctions.jaroWinklerE6(a, b)
}
