package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._

/** Product-quantization kernels (Jégou, Douze & Schmid, *Product
  * Quantization for Nearest Neighbor Search*, TPAMI 2011) — the
  * third member of the ANN compression family next to SQ8
  * ([[FloatVectorDot]] over int codes) and IVF partitioning: the
  * vector splits into `m` subvectors, each encoded as the index of
  * its nearest codebook entry, so a D-dim float vector becomes `m`
  * small ints (64-dim float32 → 8 bytes at m=8: 32× smaller than the
  * float corpus, 4× smaller than SQ8) and search reads codes + a
  * per-query lookup table instead of vectors.
  *
  * Exactness contract (the repo's oracle discipline): PQ here runs
  * over the SQ8-QUANTIZED domain — inputs are int-valued float
  * arrays ([[graft.similarity.Similarity.quantize]]), so every
  * distance is an exact BIGINT sum of squared int differences,
  * argmin ties break to the LOWEST codebook index, and the ADC score
  * is an exact BIGINT — order-free, bit-identical on any engine (the
  * knnQuantized precedent; float PQ would make the DuckDB twin an
  * epsilon compare).
  *
  * All three kernels are codegen'd static calls inside the scan
  * projection (the [[PngPixelUtil]] pattern): vectors never shuffle —
  * only codes (corpus side) and LUTs (query side) leave. The
  * codebook rides the expression as a flat int array
  * (`(j·ksub + c)·ds + i`), passed through the registry as an array
  * literal. */
object PqUtil {

  def encode(vec: ArrayData, cb: Array[Int], m: Int, ksub: Int,
             ds: Int): ArrayData = {
    val codes = new Array[Int](m)
    var j = 0
    while (j < m) {
      var best = 0
      var bestD = Long.MaxValue
      var c = 0
      while (c < ksub) {
        val base = (j * ksub + c) * ds
        var d = 0L
        var i = 0
        while (i < ds) {
          val x = vec.getFloat(j * ds + i).toLong - cb(base + i)
          d += x * x
          i += 1
        }
        if (d < bestD) { bestD = d; best = c } // strict <: tie -> lowest c
        c += 1
      }
      codes(j) = best
      j += 1
    }
    new GenericArrayData(codes)
  }

  def lut(vec: ArrayData, cb: Array[Int], m: Int, ksub: Int,
          ds: Int): ArrayData = {
    val out = new Array[Long](m * ksub)
    var j = 0
    while (j < m) {
      var c = 0
      while (c < ksub) {
        val base = (j * ksub + c) * ds
        var d = 0L
        var i = 0
        while (i < ds) {
          val x = vec.getFloat(j * ds + i).toLong - cb(base + i)
          d += x * x
          i += 1
        }
        out(j * ksub + c) = d
        c += 1
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  def score(lutArr: ArrayData, codes: ArrayData, ksub: Int): Long = {
    var s = 0L
    var j = 0
    val m = codes.numElements()
    while (j < m) {
      s += lutArr.getLong(j * ksub + codes.getInt(j))
      j += 1
    }
    s
  }
}

/** `array<float>` (int-valued, quantized) → `array<int>` PQ codes. */
case class PqEncode(child: Expression, cb: Array[Int], m: Int, ksub: Int,
                    ds: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"
  override protected def nullSafeEval(v: Any): Any =
    PqUtil.encode(v.asInstanceOf[ArrayData], cb, m, ksub, ds)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqcb", cb, "int[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.PqUtil.encode($c, $cbRef, $m, $ksub, $ds)")
  }
  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

/** `array<float>` (quantized query) → `array<long>` ADC lookup table
  * of m·ksub exact squared distances. */
case class PqLut(child: Expression, cb: Array[Int], m: Int, ksub: Int,
                 ds: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "pq_lut"
  override protected def nullSafeEval(v: Any): Any =
    PqUtil.lut(v.asInstanceOf[ArrayData], cb, m, ksub, ds)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqcb", cb, "int[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.PqUtil.lut($c, $cbRef, $m, $ksub, $ds)")
  }
  override protected def withNewChildInternal(newChild: Expression): PqLut =
    copy(child = newChild)
}

/** (lut `array<long>`, codes `array<int>`) → exact BIGINT ADC score:
  * the 8-lookup per-row hot path that replaces the 64-multiply dot. */
case class PqScore(left: Expression, right: Expression, ksub: Int)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<long>, array<int>), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "pq_score"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    PqUtil.score(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], ksub)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (l, r) =>
      s"graft.functions.PqUtil.score($l, $r, $ksub)")
  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): PqScore =
    copy(left = newLeft, right = newRight)
}

/** Column-level wrappers over [[NativeFunctions]]: the codebook and
  * shape parameters travel as foldable literals and are extracted at
  * construction. */
object PqFunctions {

  def pqEncode(vec: Column, cb: Array[Int], m: Int, ksub: Int, ds: Int): Column =
    NativeFunctions.pqEncode(vec, lit(cb), lit(m), lit(ksub), lit(ds))

  def pqLut(vec: Column, cb: Array[Int], m: Int, ksub: Int, ds: Int): Column =
    NativeFunctions.pqLut(vec, lit(cb), lit(m), lit(ksub), lit(ds))

  def pqScore(lut: Column, codes: Column, ksub: Int): Column =
    NativeFunctions.pqScore(lut, codes, lit(ksub))
}
