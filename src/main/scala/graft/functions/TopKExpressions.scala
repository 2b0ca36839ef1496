package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._

/** `graft_top_k_by(value, id, k)` — exact bounded top-k as a NATIVE
  * aggregate: per group, the k largest (value, id) pairs under the
  * total order (value DESC, id ASC), emitted as a sorted
  * array<struct<v,id>>.
  *
  * Why an aggregate and not the window idiom: `row_number() OVER
  * (PARTITION BY g ORDER BY v DESC) <= k` SORTS EVERY ROW — a full
  * shuffle of the corpus into per-group sort runs, with a hot group
  * funneling all its rows through one task's sort. This aggregate
  * carries O(k) state per group through Spark's ObjectHashAggregate:
  * map-side partials discard below-top-k rows BEFORE the shuffle, so
  * only ≤ 2k-pair buffers per (task, group) cross the wire, and the
  * hot group costs the same k as everyone else. Same answer, sort
  * replaced by bounded buffers — the TopKSpec pins both the
  * equivalence and the no-Sort/ObjectHashAggregate plan shape.
  *
  * Exactness: insertion appends; at 2k the buffer compacts (sort +
  * truncate to k). A pair outside the true top-k can never evict one
  * inside it, and merge is the same bounded union — associative and
  * partition-order-free, so the result is deterministic under ANY
  * partitioning (spec-pinned). NULL value or id rows are skipped
  * (SQL aggregate null semantics). Ties: id ASC — a stated total
  * order, both engines replay it. */
case class TopKByLong(valueExpr: Expression, idExpr: Expression,
                      kExpr: Expression,
                      mutableAggBufferOffset: Int = 0,
                      inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[ArrayBuffer[(Long, Long)]] {

  @transient private lazy val k: Int =
    kExpr.eval().asInstanceOf[Number].intValue

  override def checkInputDataTypes(): TypeCheckResult =
    (valueExpr.dataType, idExpr.dataType, kExpr.dataType) match {
      case (LongType, LongType, IntegerType) if kExpr.foldable =>
        if (kExpr.eval().asInstanceOf[Number].intValue >= 1)
          TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(s"$prettyName needs k >= 1")
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (bigint value, bigint id, foldable int k), got " +
          s"(${valueExpr.dataType.simpleString}, ${idExpr.dataType.simpleString}, " +
          s"${kExpr.dataType.simpleString})")
    }

  override def children: Seq[Expression] = Seq(valueExpr, idExpr, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("v", LongType, nullable = false),
    StructField("id", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_top_k_by"

  private val ord =
    Ordering.by[(Long, Long), (Long, Long)](p => (-p._1, p._2))

  private def compact(b: ArrayBuffer[(Long, Long)]): Unit =
    if (b.size > k) {
      val top = b.sorted(ord).take(k)
      b.clear(); b ++= top
    }

  override def createAggregationBuffer(): ArrayBuffer[(Long, Long)] =
    ArrayBuffer.empty

  override def update(b: ArrayBuffer[(Long, Long)],
                      input: InternalRow): ArrayBuffer[(Long, Long)] = {
    val v = valueExpr.eval(input)
    val id = idExpr.eval(input)
    if (v != null && id != null) {
      b += ((v.asInstanceOf[Long], id.asInstanceOf[Long]))
      if (b.size >= 2 * k) compact(b)
    }
    b
  }

  override def merge(b: ArrayBuffer[(Long, Long)],
                     o: ArrayBuffer[(Long, Long)]): ArrayBuffer[(Long, Long)] = {
    b ++= o
    if (b.size >= 2 * k) compact(b)
    b
  }

  override def eval(b: ArrayBuffer[(Long, Long)]): Any = {
    val top = b.sorted(ord).take(k)
    new GenericArrayData(top.map(p =>
      InternalRow(p._1, p._2): Any).toArray)
  }

  override def serialize(b: ArrayBuffer[(Long, Long)]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 16 * b.size)
    bb.putInt(b.size)
    b.foreach { case (v, id) => bb.putLong(v); bb.putLong(id) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): ArrayBuffer[(Long, Long)] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val b = new ArrayBuffer[(Long, Long)](n)
    var i = 0
    while (i < n) { b += ((bb.getLong, bb.getLong)); i += 1 }
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByLong =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByLong =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKByLong =
    copy(valueExpr = newChildren(0), idExpr = newChildren(1),
      kExpr = newChildren(2))
}

/** `graft_frequent_by(key, k)` — approximate heavy hitters in BOUNDED
  * memory as a native aggregate: the Misra–Gries summary (Misra &
  * Gries 1982; isomorphic to SpaceSaving, Metwally et al. 2005),
  * merged with the Agarwal et al. "Mergeable Summaries" rule. The
  * third member of the heavy-hitter family, each owning a regime:
  * E21's exact heavyHitters shuffles every distinct key (exact, but
  * state = distinct count); E235's count-min answers point queries
  * but needs the CANDIDATES supplied; this finds the candidates
  * itself in one pass with O(k) state per group — the genuinely
  * streaming-shaped device.
  *
  * State: ≤ k (key, count) pairs. Update: increment if present;
  * insert at 1 if room; else decrement ALL and drop zeros (the
  * amortized-O(1) counter trade). Merge: sum summaries, then subtract
  * the (k+1)-th largest count and drop non-positives. Guarantee
  * (spec-pinned, the E23 approximate-operator precedent): for every
  * key, true − n/(k+1) ≤ estimate ≤ true, and every key with
  * frequency > n/(k+1) SURVIVES under any partitioning — the
  * ESTIMATES may vary with merge order (inherent to MG), the
  * guarantee never does. Emitted as array<struct<id,c>> sorted
  * (c DESC, id ASC) for a deterministic display order of whatever
  * survived. NULL keys skipped. */
case class FrequentByLong(keyExpr: Expression, kExpr: Expression,
                          mutableAggBufferOffset: Int = 0,
                          inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[scala.collection.mutable.LongMap[Long]] {

  @transient private lazy val k: Int =
    kExpr.eval().asInstanceOf[Number].intValue

  override def checkInputDataTypes(): TypeCheckResult =
    (keyExpr.dataType, kExpr.dataType) match {
      case (LongType, IntegerType) if kExpr.foldable =>
        if (kExpr.eval().asInstanceOf[Number].intValue >= 1)
          TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(s"$prettyName needs k >= 1")
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (bigint key, foldable int k), got " +
          s"(${keyExpr.dataType.simpleString}, ${kExpr.dataType.simpleString})")
    }

  override def children: Seq[Expression] = Seq(keyExpr, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("c", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_frequent_by"

  override def createAggregationBuffer(): scala.collection.mutable.LongMap[Long] =
    scala.collection.mutable.LongMap.empty

  override def update(b: scala.collection.mutable.LongMap[Long],
                      input: InternalRow): scala.collection.mutable.LongMap[Long] = {
    val kv = keyExpr.eval(input)
    if (kv != null) {
      val key = kv.asInstanceOf[Long]
      if (b.contains(key)) b(key) += 1L
      else if (b.size < k) b(key) = 1L
      else {
        // decrement-all: each surviving counter absorbs one deletion
        val dead = ArrayBuffer.empty[Long]
        b.foreachEntry { (id, c) =>
          if (c <= 1L) dead += id else b(id) = c - 1L
        }
        dead.foreach(b.remove)
      }
    }
    b
  }

  override def merge(b: scala.collection.mutable.LongMap[Long],
                     o: scala.collection.mutable.LongMap[Long]): scala.collection.mutable.LongMap[Long] = {
    o.foreachEntry { (id, c) => b(id) = b.getOrElse(id, 0L) + c }
    if (b.size > k) {
      val counts = b.values.toArray.sorted(Ordering[Long].reverse)
      val d = counts(k) // (k+1)-th largest absorbs into every counter
      val dead = ArrayBuffer.empty[Long]
      b.foreachEntry { (id, c) =>
        if (c - d <= 0L) dead += id else b(id) = c - d
      }
      dead.foreach(b.remove)
    }
    b
  }

  override def eval(b: scala.collection.mutable.LongMap[Long]): Any = {
    val out = b.toSeq.sortBy { case (id, c) => (-c, id) }
    new GenericArrayData(out.map { case (id, c) =>
      InternalRow(id, c): Any
    }.toArray)
  }

  override def serialize(b: scala.collection.mutable.LongMap[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 16 * b.size)
    bb.putInt(b.size)
    b.foreachEntry { (id, c) => bb.putLong(id); bb.putLong(c) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): scala.collection.mutable.LongMap[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val b = scala.collection.mutable.LongMap.empty[Long]
    var i = 0
    while (i < n) { b(bb.getLong) = bb.getLong; i += 1 }
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): FrequentByLong =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): FrequentByLong =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): FrequentByLong =
    copy(keyExpr = newChildren(0), kExpr = newChildren(1))
}

object TopKFunctions {

  /** Per-group exact top-`k` (value DESC, id ASC) as
    * array<struct<v,id>> — use inside `.agg(...)`, then
    * posexplode downstream for (rank, v, id) rows. */
  def topKBy(value: Column, id: Column, k: Int): Column =
    NativeFunctions.topKBy(value, id, lit(k))

  /** Per-group Misra–Gries frequent-item candidates with O(k) state —
    * array<struct<id,c>>; every key with frequency > n/(k+1) is
    * guaranteed present, estimates within n/(k+1) below truth. */
  def frequentBy(key: Column, k: Int): Column = NativeFunctions.frequentBy(key, lit(k))
}
