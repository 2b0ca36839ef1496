package graft.functions

import java.util.zip.Deflater

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Shared eval path for [[DeflateLen]] (static forwarder — the
  * [[NfcStringUtil]] pattern, one call per row inside whole-stage
  * codegen). Compressed size under raw DEFLATE at a FIXED level is
  * the classic parameter-free compressibility probe: near-random
  * bytes stay ≈ incompressible (ratio ≈ 1000‰), templated/repeated
  * boilerplate collapses (low permille) — the cheap "is this document
  * mostly repetition?" signal a curation pipeline runs next to the
  * shingle-based E40 repetition score, catching long-range repetition
  * the fixed-n shingle window structurally can't (a page whose whole
  * second half repeats its first half has ZERO duplicate 3-shingles
  * inside either half).
  *
  * Determinism: level and strategy are pinned (level 6, default
  * strategy, raw/nowrap stream), so the length is a pure function of
  * the bytes for a given zlib build — stable across runs and
  * partitionings, which the spec asserts. It is NOT a cross-engine
  * constant (DuckDB carries no deflate), so the operator is
  * spec-verified (the E23/E199 precedent), not hash-oracled.
  *
  * The Deflater is thread-local and reset per call: allocation-free
  * in steady state, safe under Spark's thread-per-task model. */
object DeflateUtil {

  private val Level = 6

  private val local = new ThreadLocal[Deflater] {
    override def initialValue(): Deflater = new Deflater(Level, true)
  }

  private val sink = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](1 << 16)
  }

  def deflateLen(bytes: Array[Byte]): Long = {
    val d = local.get()
    d.reset()
    d.setInput(bytes)
    d.finish()
    val buf = sink.get()
    var total = 0L
    while (!d.finished()) total += d.deflate(buf)
    total
  }

  def deflateLenStr(s: UTF8String): Long = deflateLen(s.getBytes)
}

/** Raw-DEFLATE compressed length of a string/binary column as a
  * native codegen'd expression — see [[DeflateUtil]]. Scan-side:
  * bytes never shuffle, one BIGINT leaves per row. */
case class DeflateLen(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType | StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string or binary argument, got ${other.simpleString}")
  }

  override def dataType: DataType = LongType

  override def prettyName: String = "deflate_len"

  private def isStr = child.dataType == StringType

  override protected def nullSafeEval(v: Any): Any =
    if (isStr) DeflateUtil.deflateLenStr(v.asInstanceOf[UTF8String])
    else DeflateUtil.deflateLen(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (isStr)
      defineCodeGen(ctx, ev, c => s"graft.functions.DeflateUtil.deflateLenStr($c)")
    else
      defineCodeGen(ctx, ev, c => s"graft.functions.DeflateUtil.deflateLen($c)")

  override protected def withNewChildInternal(newChild: Expression): DeflateLen =
    copy(child = newChild)
}

object CompressFunctions {

  def deflateLen(c: Column): Column = NativeFunctions.deflateLen(c)
}
