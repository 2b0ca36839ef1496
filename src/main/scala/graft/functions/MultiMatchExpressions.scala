package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Aho–Corasick multi-pattern matcher (Aho & Corasick, CACM 1975) —
  * the dictionary-scan primitive behind blocklist gating (the C4
  * "bad words" filter class), canary lookup, and any scan that asks
  * "which of these N fixed strings occur, how often?" per document.
  *
  * Why an automaton and not `regexp_count` per term: the automaton
  * reads the text ONCE for the whole dictionary — O(chars + matches)
  * regardless of dictionary size — where the per-term regex plan
  * rescans the text N times (and an alternation regex pays NFA
  * backtracking per position). At 100 TB × a thousand-term blocklist
  * that is the difference between one pass and a thousand.
  *
  * Counting semantics (the cross-engine contract): per term,
  * LEFTMOST-GREEDY NON-OVERLAPPING occurrence count — scan left to
  * right, count a match only if it starts at or after the end of the
  * previous counted match of the SAME term ("a a" occurs once in
  * "a a a", twice in "a a a a"). This is exactly the count
  * `(len(s) − len(replace(s, t, ''))) / len(t)` computes (SQL
  * `replace` scans the original string and never rescans its own
  * output), so the DuckDB twin is one string function per term —
  * chosen over the all-starts count precisely because it is the
  * oracle-replayable semantic. Different terms count independently
  * ("row" and "row scan" both count on "row scan"). The automaton
  * internally visits every match (all-starts) and applies the greedy
  * gate per term at O(1) per match.
  *
  * Units: Java chars (UTF-16 code units), same as Spark's `length` /
  * `substring`; on ASCII dictionaries and text (the scan's domain —
  * blocklists are normalized) this coincides with codepoints and
  * bytes. Case handling belongs to the caller (lower both sides —
  * the piiScan convention).
  */
final class AhoCorasick(val terms: Array[String]) extends Serializable {
  require(terms.nonEmpty, "at least one term required")
  require(terms.forall(_.nonEmpty), "terms must be non-empty")
  require(terms.map(_.toSeq).distinct.length == terms.length,
    "terms must be distinct")

  val nTerms: Int = terms.length
  private val termLen: Array[Int] = terms.map(_.length)

  // Trie frozen to parallel sorted-array transition tables: per node,
  // chars(node) sorted ascending with next(node) aligned — binary
  // search per input char, no per-char boxing, plain-array
  // Serializable (the expression ships ONE automaton per task via the
  // codegen references array, never per row).
  private val (chArr: Array[Array[Char]], nxArr: Array[Array[Int]],
               failArr: Array[Int], termArr: Array[Int],
               linkArr: Array[Int]) = {
    import scala.collection.mutable
    val goto = mutable.ArrayBuffer(
      new java.util.TreeMap[Character, Integer]())
    val term = mutable.ArrayBuffer(-1)
    terms.zipWithIndex.foreach { case (t, ti) =>
      var s = 0
      t.foreach { ch =>
        val nxt = goto(s).get(ch)
        if (nxt == null) {
          goto += new java.util.TreeMap[Character, Integer]()
          term += -1
          goto(s).put(ch, goto.length - 1)
          s = goto.length - 1
        } else s = nxt
      }
      term(s) = ti
    }
    val n = goto.length
    val fail = new Array[Int](n)
    val link = Array.fill(n)(-1)
    val queue = mutable.Queue[Int]()
    goto(0).forEach { (_, v) => fail(v) = 0; queue += v.intValue() }
    while (queue.nonEmpty) {
      val u = queue.dequeue()
      link(u) = if (term(fail(u)) >= 0) fail(u) else link(fail(u))
      goto(u).forEach { (ch, v) =>
        // δ(fail(u), ch): walk fail links until a transition exists
        var x = fail(u)
        var tgt = goto(x).get(ch)
        while (tgt == null && x != 0) { x = fail(x); tgt = goto(x).get(ch) }
        fail(v) = if (tgt == null) 0 else tgt.intValue()
        queue += v.intValue()
      }
    }
    val chs = new Array[Array[Char]](n)
    val nxs = new Array[Array[Int]](n)
    (0 until n).foreach { i =>
      val m = goto(i)
      val cs = new Array[Char](m.size())
      val ns = new Array[Int](m.size())
      var j = 0
      m.forEach { (c, v) => cs(j) = c; ns(j) = v; j += 1 } // TreeMap: sorted
      chs(i) = cs; nxs(i) = ns
    }
    (chs, nxs, fail, term.toArray, link)
  }

  private def step(state: Int, ch: Char): Int = {
    var x = state
    while (true) {
      val i = java.util.Arrays.binarySearch(chArr(x), ch)
      if (i >= 0) return nxArr(x)(i)
      if (x == 0) return 0
      x = failArr(x)
    }
    0 // unreachable
  }

  /** Per-term leftmost-greedy non-overlapping counts over `text`. */
  def counts(text: UTF8String): ArrayData = {
    val s = text.toString
    val out = new Array[Long](nTerms)
    val nextStart = new Array[Int](nTerms)
    var state = 0
    var i = 0
    while (i < s.length) {
      state = step(state, s.charAt(i))
      var o = if (termArr(state) >= 0) state else linkArr(state)
      while (o != -1) {
        val ti = termArr(o)
        val start = i - termLen(ti) + 1
        if (start >= nextStart(ti)) { out(ti) += 1L; nextStart(ti) = i + 1 }
        o = linkArr(o)
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** `string` → `array<long>` of per-term counts (term order = the
  * constructor's); scan-side codegen'd, text never shuffles.
  *
  * `terms` is a Seq, not Array: case-class equality on an Array is
  * reference equality, which would make two structurally identical
  * expressions never canonicalize — defeating Catalyst CSE/reuse
  * (ADVICE r18; performance only). The automaton converts once. */
case class MultiMatchCounts(child: Expression, terms: Seq[String])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "multi_match_counts"

  @transient private lazy val ac = new AhoCorasick(terms.toArray)

  override protected def nullSafeEval(v: Any): Any =
    ac.counts(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val acRef = ctx.addReferenceObj("ac", ac,
      classOf[AhoCorasick].getName)
    defineCodeGen(ctx, ev, c => s"$acRef.counts($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): MultiMatchCounts =
    copy(child = newChild)
}

object MultiMatchFunctions {

  def multiMatchCounts(c: Column, terms: Seq[String]): Column =
    NativeFunctions.multiMatchCounts(c, lit(terms.toArray))
}
