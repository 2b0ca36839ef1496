package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** Native dot product over two `array<float>` columns.
  *
  * Why a custom Expression instead of `aggregate(zip_with(...))`:
  * Spark's higher-order functions are evaluated by the expression
  * interpreter — never whole-stage-codegen'd — so a 64-dim dot product
  * costs ~192 interpreted lambda invocations plus per-element boxing.
  * This expression compiles to a tight primitive loop inside the
  * enclosing WholeStageCodegen stage (measured ~10× on the bucketed
  * near-dup join at sf0.1).
  *
  * Numerics contract (shared with the DuckDB oracle): each element is
  * promoted float→double (exact), products accumulate left-to-right —
  * bit-identical to the sequential-fold form it replaces. Null
  * elements contribute 0 (the harness vectors carry none); length
  * mismatch stops at the shorter array.
  */
case class FloatVectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "vec_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i))
        acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$x.isNullAt($i) && !$y.isNullAt($i)) {
         |    $acc += ((double) $x.getFloat($i)) * ((double) $y.getFloat($i));
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVectorDot =
    copy(left = newLeft, right = newRight)
}

/** Pseudo-random sign-LSH hyperplanes: coefficient `d` of plane
  * `plane` is a deterministic integer in [-10, 10] from a splitmix64
  * avalanche finisher (Steele, Lea & Flood, OOPSLA 2014; the public
  * java.util.SplittableRandom mix) — generated instead of tabulated
  * so the plane supply is unbounded, and integer-valued so every
  * dot-product term is exact in doubles (engine-independent signs).
  * Shared by [[FloatVectorBandKeys]] and the compositional spec form
  * in `graft.similarity.Similarity`; the oracle side interpolates the
  * MATRIX this function generates, so the two engines share constants
  * by construction and the formula is free to be a real hash.
  *
  * Why a real avalanche and not the original Knuth-style multiply:
  * `((plane·8191 + d + 1)·c1 + c0) mod p mod 21` is an AFFINE STRIDE —
  * along `d` the pre-mod values walk a fixed arithmetic progression,
  * so each plane's coefficients are near-periodic and different
  * planes are translates of one another. The planes correlate, their
  * sign bits correlate, and band keys CONCENTRATE: measured on 128k
  * near-uniform vectors at 14-bit bands, the heaviest bucket held
  * 2.2% of the corpus and Σ|bucket|² was ~43× the independent-bits
  * value — turning the LSH seed join quadratic in exactly the regime
  * (bits scaled with n) the operators prescribe. Found by the E336
  * scaling instrument, not by any fixture-scale test: at 8 bits ×
  * ≤2000 vectors the skew is invisible. Post-fix the same probe
  * measures ~1.6× the independent-bits value with a max bucket of 92
  * (was 2832) — the multinomial-tail regime the operators assume
  * (AnnScaleBench, scripts/bench_scaling_r17_ann.raw). */
object Hyperplanes {
  def coeff(plane: Int, d: Int): Float = {
    var z = plane.toLong * 0x9E3779B97F4A7C15L +
      d.toLong * 0xC2B2AE3D27D4EB4FL + 0x165667B19E3779F9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    (((z % 21L) + 21L) % 21L - 10L).toFloat
  }

  def plane(p: Int, dim: Int): Array[Float] = Array.tabulate(dim)(coeff(p, _))

  /** All `bands × bits` planes, row-major flat: plane `p`'s
    * coefficient `d` at index `p * dim + d`. */
  def flat(bands: Int, bits: Int, dim: Int): Array[Float] =
    Array.tabulate(bands * bits * dim)(i => coeff(i / dim, i % dim))
}

/** All sign-LSH band keys of an `array<float>` vector in ONE
  * expression: key `b` has bit `j` set iff the vector's dot product
  * with hyperplane `b*bits+j` is positive.
  *
  * Why not compose `bands × bits` [[FloatVectorDot]] calls (the
  * original form, kept in the test suite as the executable spec):
  * whole-stage codegen fuses all 64 dot loops plus the bit-packing
  * conditionals into one giant generated method that blows past the
  * JVM's huge-method JIT limit — the stage runs in the BYTECODE
  * INTERPRETER and measures ~8× slower than Spark's interpreted
  * expression path. One compact nested loop stays far under the
  * limit, JIT-compiles, and reads the vector once instead of 64
  * times. Measured ~20× on the sf0.1 band-key projection.
  *
  * Numerics contract (shared with the DuckDB oracle): float→double
  * promotion per element (exact — coefficients are integer-valued),
  * left-to-right accumulation per plane, null elements contribute 0,
  * length mismatch stops at the shorter side — bit-identical to the
  * compositional vec_dot form it replaces. */
case class FloatVectorBandKeys(child: Expression, bands: Int, bits: Int, dim: Int)
    extends UnaryExpression {
  require(bands > 0 && bits > 0 && bits <= 31 && dim > 0,
    s"bad band-key shape: bands=$bands bits=$bits dim=$dim")

  // one flat coefficient table for the whole signature, shared by the
  // interpreted path and (as a referenced object) the generated code
  @transient private lazy val planes: Array[Float] =
    Hyperplanes.flat(bands, bits, dim)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<float> argument, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def prettyName: String = "vec_band_keys"

  override protected def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val keys = new Array[Int](bands)
    val n = math.min(x.numElements(), dim)
    var b = 0
    while (b < bands) {
      var key = 0
      var j = 0
      while (j < bits) {
        val base = (b * bits + j) * dim
        var acc = 0.0
        var i = 0
        while (i < n) {
          if (!x.isNullAt(i))
            acc += x.getFloat(i).toDouble * planes(base + i).toDouble
          i += 1
        }
        if (acc > 0.0) key |= 1 << j
        j += 1
      }
      keys(b) = key
      b += 1
    }
    new GenericArrayData(keys)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val pl = ctx.addReferenceObj("planes", planes, "float[]")
      val keys = ctx.freshName("keys")
      val n = ctx.freshName("n")
      val b = ctx.freshName("b")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val key = ctx.freshName("key")
      val base = ctx.freshName("base")
      val acc = ctx.freshName("acc")
      s"""
         |int[] $keys = new int[$bands];
         |int $n = java.lang.Math.min($x.numElements(), $dim);
         |for (int $b = 0; $b < $bands; $b++) {
         |  int $key = 0;
         |  for (int $j = 0; $j < $bits; $j++) {
         |    int $base = ($b * $bits + $j) * $dim;
         |    double $acc = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      if (!$x.isNullAt($i)) {
         |        $acc += ((double) $x.getFloat($i)) * ((double) $pl[$base + $i]);
         |      }
         |    }
         |    if ($acc > 0.0) $key |= (1 << $j);
         |  }
         |  $keys[$b] = $key;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($keys);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): FloatVectorBandKeys =
    copy(child = newChild)
}

/** Column-level wrappers over [[NativeFunctions]]. */
object VectorFunctions {

  def vecDot(a: Column, b: Column): Column = NativeFunctions.vecDot(a, b)

  def vecNorm(a: Column): Column =
    org.apache.spark.sql.functions.sqrt(vecDot(a, a))

  /** All sign-LSH band keys in one native expression — see
    * [[FloatVectorBandKeys]] for why this beats composing vecDot. */
  def vecBandKeys(vec: Column, bands: Int, bits: Int, dim: Int): Column =
    NativeFunctions.bandKeys(vec, lit(bands), lit(bits), lit(dim))
}
