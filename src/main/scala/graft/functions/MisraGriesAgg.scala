package graft.functions

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra–Gries heavy-hitters sketch (TypedImperativeAggregate — the
  * §2.11 mutable-buffer rung).
  *
  * Buffer: at most `k` (item → counter) entries. Update is the classic
  * decrement-on-overflow; merge is the mergeable-summaries form (Agarwal
  * et al., TODS 2013): pointwise-sum both maps, then subtract the
  * (k+1)-th largest counter and drop non-positives. Both preserve the
  * invariant `true(x) − n/(k+1) ≤ est(x) ≤ true(x)` for EVERY item (n =
  * total stream length), independent of how Spark orders partial merges —
  * so every item with frequency above n/(k+1) is guaranteed present in
  * the final summary, which is what makes a deterministic oracle-gated
  * query possible: sketch → candidate set (a guaranteed superset of the
  * true heavy hitters) → exact recount of candidates only → threshold.
  *
  * Scale: the buffer is O(k) no matter how many rows stream through a
  * partition, so map-side partial aggregation ships k counters per task —
  * the whole point of a sketch at 100 TB, where an exact groupBy on a
  * high-cardinality key would shuffle the full key domain.
  */
case class MisraGriesAgg(
    child: Expression,
    k: Int = 128,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.HashMap[String, Long]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("item", StringType, nullable = false),
      StructField("est", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_heavy_hitters"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING item, got ${child.dataType.simpleString}")

  override def createAggregationBuffer(): mutable.HashMap[String, Long] =
    mutable.HashMap.empty

  override def update(
      buf: mutable.HashMap[String, Long],
      input: InternalRow): mutable.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      val item = v.asInstanceOf[UTF8String].toString
      buf.get(item) match {
        case Some(c) => buf(item) = c + 1
        case None if buf.size < k => buf(item) = 1L
        case None =>
          // Overflow: decrement every counter (the "cancel k+1 distinct
          // items" step); zeros free their slots.
          buf.mapValuesInPlace((_, c) => c - 1)
          buf.filterInPlace((_, c) => c > 0)
      }
    }
    buf
  }

  override def merge(
      a: mutable.HashMap[String, Long],
      b: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] = {
    b.foreach { case (item, c) => a(item) = a.getOrElse(item, 0L) + c }
    if (a.size > k) {
      // Subtract the (k+1)-th largest counter from everything: at most k
      // survive (ties with the pivot go to zero), and every counter drops
      // by ≤ the amount the bound allows.
      val pivot = a.values.toArray.sortInPlace()(Ordering[Long].reverse).apply(k)
      a.mapValuesInPlace((_, c) => c - pivot)
      a.filterInPlace((_, c) => c > 0)
    }
    a
  }

  override def eval(buf: mutable.HashMap[String, Long]): Any =
    new GenericArrayData(
      buf.toArray.sortBy { case (item, c) => (-c, item) }
        .map { case (item, c) => InternalRow(UTF8String.fromString(item), c) })

  override def serialize(buf: mutable.HashMap[String, Long]): Array[Byte] = {
    val entries = buf.toArray.map { case (s, c) =>
      (s.getBytes(StandardCharsets.UTF_8), c)
    }
    val bb = ByteBuffer.allocate(4 + entries.map(12 + _._1.length).sum)
    bb.putInt(entries.length)
    entries.foreach { case (bytes, c) =>
      bb.putInt(bytes.length); bb.put(bytes); bb.putLong(c)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[String, Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val m = mutable.HashMap.empty[String, Long]
    (0 until n).foreach { _ =>
      val len = bb.getInt
      val arr = new Array[Byte](len)
      bb.get(arr)
      m(new String(arr, StandardCharsets.UTF_8)) = bb.getLong
    }
    m
  }

  override def withNewMutableAggBufferOffset(offset: Int): MisraGriesAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): MisraGriesAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MisraGriesAgg =
    copy(child = newChildren.head)
}
