package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Shared eval path for [[UnicodeNormalize]] — a plain object so the
  * generated Java can call it through the static forwarder
  * (`graft.functions.NfcStringUtil.normalize(...)`), keeping the
  * expression inside whole-stage codegen exactly like Spark's own
  * regexp functions (one static call per row, no boxing).
  *
  * The `isNormalized` fast path matters at corpus scale: most web text
  * is already NFC, and the check is a cheap scan that avoids the
  * allocate-and-copy of a full normalize pass — the input UTF8String
  * is returned as-is when nothing would change.
  */
object NfcStringUtil {
  def normalize(s: UTF8String, form: Normalizer.Form): UTF8String = {
    val str = s.toString
    if (Normalizer.isNormalized(str, form)) s
    else UTF8String.fromString(Normalizer.normalize(str, form))
  }
}

/** Unicode normalization as a native codegen'd expression. NFC (the
  * default) is the canonical-composition pass every corpus pipeline
  * runs before hashing/dedup/shingling, since visually identical
  * strings with different codepoint sequences ("é" composed vs
  * "e"+U+0301) would otherwise land in different dedup buckets and
  * inflate vocabulary. NFKC additionally folds compatibility forms
  * (ligatures "ﬁ"→"fi", full-width "Ａ"→"A", superscripts) — the
  * aggressive fold most tokenizer preprocessing applies before BPE.
  * Spark has no built-in for either (regexp/translate can't express
  * composition); the JVM's `java.text.Normalizer` is the public,
  * standards-fixed implementation, and Unicode normalization is
  * stable across implementations by the standard's stabilization
  * policy — which is what makes a cross-engine oracle (DuckDB
  * `nfc_normalize`) legitimate for the NFC path.
  */
case class UnicodeNormalize(child: Expression, form: String = "NFC")
    extends UnaryExpression {

  require(UnicodeNormalize.forms.contains(form),
    s"form must be one of ${UnicodeNormalize.forms.keys.mkString(", ")}, got $form")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${other.simpleString}")
  }

  override def dataType: DataType = child.dataType

  override def prettyName: String = s"${form.toLowerCase(java.util.Locale.ROOT)}_normalize"

  override protected def nullSafeEval(v: Any): Any =
    NfcStringUtil.normalize(v.asInstanceOf[UTF8String], UnicodeNormalize.forms(form))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      // `form` is constructor-validated against the enum names, so the
      // static field reference below always resolves
      s"graft.functions.NfcStringUtil.normalize($c, java.text.Normalizer.Form.$form)")

  override protected def withNewChildInternal(newChild: Expression): UnicodeNormalize =
    copy(child = newChild)
}

object UnicodeNormalize {
  val forms: Map[String, Normalizer.Form] = Map(
    "NFC" -> Normalizer.Form.NFC, "NFD" -> Normalizer.Form.NFD,
    "NFKC" -> Normalizer.Form.NFKC, "NFKD" -> Normalizer.Form.NFKD)
}

object StringFunctions {

  def nfcNormalize(c: Column): Column = NativeFunctions.nfcNormalize(c)

  /** Compatibility fold (NFKC) — tokenizer-prep normalization: folds
    * ligatures, full-width forms, and other compatibility variants on
    * top of canonical composition. No DuckDB twin exists, so this path
    * is spec-verified (StringExpressionsSpec) rather than oracled. */
  def nfkcNormalize(c: Column): Column = NativeFunctions.nfkcNormalize(c)
}
