package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, IntegerType}

/** The skeleton of a native function over one binary column, the
  * media walkers (GIF, ID3, JPEG, MP3, MP4, PNG, WAV, WARC): the input
  * must be binary, and the interpreted path and the generated code
  * both call [[walk]], the util that reads the bytes. The generated
  * code reaches `walk` through the expression itself, held in the
  * references array, so each walker states its util once.
  *
  * `walkMayReturnNull` says whether the util answers null, which the
  * inventories (frames, tracks, samples, records) do for a malformed
  * input. Then the expression is nullable whatever its input, and the
  * generated code sets `isNull` from the util's answer. Without it,
  * the expression is as nullable as its input: the header walkers
  * answer a `decoded = false` row instead of null. Serializable, so
  * that a task deserializes the flag with the walker: a non-serializable
  * base would need a no-argument constructor. */
abstract class BinaryWalker(walkMayReturnNull: Boolean)
    extends UnaryExpression with Serializable {

  /** The util's answer for `bytes`: a struct row, an array, or (only
    * when `walkMayReturnNull`) null. */
  def walk(bytes: Array[Byte]): Any

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a binary argument, got ${other.simpleString}")
  }

  override def nullable: Boolean = walkMayReturnNull || child.nullable

  override protected def nullSafeEval(v: Any): Any = walk(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("walker", this)
    def call(c: String) = s"(${CodeGenerator.boxedType(dataType)}) $self.walk($c)"
    if (walkMayReturnNull) nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = ${call(c)};
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)
    else defineCodeGen(ctx, ev, call)
  }
}

/** The skeleton of a native function over a binary column and an int
  * parameter (a thumbnail's size, a frame length, a decimation
  * factor). The util answers null for undecodable bytes or a bad
  * parameter, so the expression is always nullable; as in
  * [[BinaryWalker]], both paths call [[walk]]. */
abstract class BinaryIntWalker extends BinaryExpression {

  /** The util's answer for `bytes` and `param`, null when either is
    * unusable. */
  def walk(bytes: Array[Byte], param: Int): Any

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, IntegerType) => TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (binary, int), got " +
          s"(${a.simpleString}, ${b.simpleString})")
    }

  override def nullable: Boolean = true

  override protected def nullSafeEval(v: Any, p: Any): Any =
    walk(v.asInstanceOf[Array[Byte]], p.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("walker", this)
    nullSafeCodeGen(ctx, ev, (c, p) => {
      val tmp = ctx.freshName("walked")
      s"""
         |Object $tmp = $self.walk($c, $p);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = (${CodeGenerator.boxedType(dataType)}) $tmp; }
       """.stripMargin
    })
  }
}

/** Byte readers and result rows shared by the walkers' utils. */
object WalkBytes {

  /** Pixel-count ceiling of the image walkers: 2^24 px = 48 MB of raw
    * RGB per image. Above this an adversarial header would balloon
    * executor memory, so a walk declines the image rather than
    * trusting the header. */
  val MaxPixels: Long = 1L << 24

  def le16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)

  def le32(b: Array[Byte], o: Int): Long =
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)

  def be16(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)

  def be32(b: Array[Byte], o: Int): Long =
    ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
      ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)

  def be64(b: Array[Byte], o: Int): Long =
    (be32(b, o) << 32) | be32(b, o + 4)

  /** A four-character code packed into an int: cheap compares, no
    * string churn. */
  def fourcc(b: Array[Byte], o: Int): Int = be32(b, o).toInt

  /** A `decoded = false` row of `fields` fields, the others null. */
  def notDecoded(fields: Int): InternalRow = {
    val r = new GenericInternalRow(fields)
    r.update(0, false)
    r
  }

  /** A `(decoded = true, hash)` row. */
  def decodedHash(hash: Long): InternalRow = {
    val r = new GenericInternalRow(2)
    r.update(0, true)
    r.update(1, hash)
    r
  }
}
