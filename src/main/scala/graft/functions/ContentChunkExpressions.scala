package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.BinaryExpression
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Content-defined chunk boundaries (LBFS, Muthitacharoen et al.,
  * SOSP 2001 — the rsync/backup-dedup primitive): a chunk ends
  * wherever a ROLLING hash of the last `Window` bytes hits
  * `h mod divisor == 0`, so boundaries are decided by LOCAL content,
  * not by byte offsets. The property that matters for dedup: insert
  * one byte at the front of a document and FIXED-size chunking (E59)
  * re-hashes every chunk (all offsets shift), while content-defined
  * boundaries re-align after at most one window — downstream
  * chunk-hash dedup still matches everything past the edit. Average
  * chunk length ≈ divisor bytes; chunk tails are forced at EOF.
  *
  * Hash constants are STATED and shared with the DuckDB twin
  * (window 8, base 31, mod 1e9+7): h(i) = Σ_{j=0..7} b[i−j]·31^j mod
  * M, rolled in O(1) per byte; max intermediate 31^7·255·8 < 2^63.
  * ASCII contract for string inputs (byte == char, so SQL substr
  * windows match byte windows — the corpus convention); binary
  * inputs hash raw bytes.
  *
  * Scan-side codegen'd expression: bytes never shuffle, only the
  * (idx, start, len) chunk table leaves the projection. */
object ContentChunkUtil {

  val Window = 8
  val Base = 31L
  val Mod = 1000000007L
  private val BaseW1 = { // Base^(Window-1) mod Mod, for the rolling removal
    var x = 1L; var i = 0
    while (i < Window - 1) { x = x * Base % Mod; i += 1 }
    x
  }

  def chunks(bytes: Array[Byte], divisor: Int): Any = {
    if (divisor < 2) return null
    val n = bytes.length
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val ends = scala.collection.mutable.ArrayBuffer.empty[Int]
    var h = 0L
    var i = 0
    while (i < n) {
      val b = bytes(i) & 0xffL
      if (i < Window) h = (h * Base + b) % Mod
      else {
        val drop = (bytes(i - Window) & 0xffL) * BaseW1 % Mod
        h = ((h - drop + Mod) % Mod * Base + b) % Mod
      }
      if (i >= Window - 1 && h % divisor == 0) ends += i
      i += 1
    }
    if (ends.isEmpty || ends.last != n - 1) ends += n - 1
    val out = new Array[Any](ends.length)
    var start = 0
    var k = 0
    while (k < ends.length) {
      val row = new GenericInternalRow(3)
      row.update(0, k)
      row.update(1, start)
      row.update(2, ends(k) - start + 1)
      out(k) = row
      start = ends(k) + 1
      k += 1
    }
    new GenericArrayData(out)
  }

  def chunksStr(s: UTF8String, divisor: Int): Any = chunks(s.getBytes, divisor)
}

case class ContentChunks(child: Expression, divisor: Expression)
    extends BinaryExpression {

  override def left: Expression = child
  override def right: Expression = divisor

  override def checkInputDataTypes(): TypeCheckResult =
    (child.dataType, divisor.dataType) match {
      case (BinaryType | StringType, IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string|binary, int), got " +
          s"(${a.simpleString}, ${b.simpleString})")
    }

  override def dataType: DataType = ContentChunks.schema
  override def nullable: Boolean = true

  override def prettyName: String = "content_chunks"

  private def isStr = child.dataType == StringType

  override protected def nullSafeEval(v: Any, d: Any): Any =
    if (isStr) ContentChunkUtil.chunksStr(
      v.asInstanceOf[UTF8String], d.asInstanceOf[Int])
    else ContentChunkUtil.chunks(
      v.asInstanceOf[Array[Byte]], d.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, d) => {
      val fn = if (isStr) "chunksStr" else "chunks"
      val tmp = ctx.freshName("chunks")
      s"""
         |Object $tmp = graft.functions.ContentChunkUtil.$fn($c, $d);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} =
         |  (org.apache.spark.sql.catalyst.util.ArrayData) $tmp; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ContentChunks =
    copy(child = newLeft, divisor = newRight)
}

object ContentChunks {
  val schema: DataType = ArrayType(StructType(Seq(
    StructField("chunk_idx", IntegerType, nullable = false),
    StructField("start", IntegerType, nullable = false),
    StructField("len", IntegerType, nullable = false))),
    containsNull = false)
}

object ContentChunkFunctions {

  def contentChunks(c: Column, divisor: Int): Column =
    NativeFunctions.contentChunks(c, org.apache.spark.sql.functions.lit(divisor))
}
