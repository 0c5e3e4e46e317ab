package graft.functions

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.nio.ByteBuffer
import java.util.PriorityQueue

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

/** `topk_sum(value, k)` — exact sum of the k largest values per group,
  * as a native Catalyst [[TypedImperativeAggregate]]: a bounded min-heap
  * of cent-scaled longs is the aggregation buffer, so the distributed
  * contract is the real one — per-partition `update`, binary
  * `serialize`/`deserialize` across the shuffle, associative `merge`,
  * and a deterministic `eval`.
  *
  * Scale: the buffer is O(k) regardless of group size — the partial
  * aggregate ships k longs per (partition, group) instead of the rows a
  * window-based top-k sum would shuffle. Determinism: values are
  * cent-quantized on entry with the same HALF_UP a DoubleType →
  * DECIMAL(12,2) cast applies (Dets.money), summed exactly in long
  * cents, divided by 100 once at the end — bit-identical to the
  * oracle's SUM(CAST(v AS DECIMAL(12,2))) over its top-k rows, in any
  * partitioning and merge order (ties are values, not rows, so which
  * tied copy survives cannot change the sum).
  */
case class TopKSum(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[PriorityQueue[java.lang.Long]] {

  require(k > 0, s"topk_sum: k must be positive, got $k")

  override def children: Seq[Expression] = Seq(child)
  // SUM semantics: a group with no (non-null, representable) values is NULL
  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "topk_sum"

  // clean analysis-time error instead of a ClassCastException at execution
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"topk_sum requires a DOUBLE value column, got ${child.dataType.sql}")

  override def createAggregationBuffer(): PriorityQueue[java.lang.Long] =
    new PriorityQueue[java.lang.Long](k + 1)

  private def offer(buf: PriorityQueue[java.lang.Long], cents: Long): Unit = {
    if (buf.size < k) buf.add(cents)
    else if (cents > buf.peek()) { buf.poll(); buf.add(cents) }
  }

  // valueOf = shortest-decimal-repr semantics, matching Spark's own
  // DoubleType -> DecimalType cast (Dets.money) and the oracle's CAST.
  // Non-finite doubles, and doubles whose cent-rounded magnitude exceeds
  // DECIMAL(12,2)'s 12-digit unscaled bound, quantize to the sentinel:
  // the DECIMAL(12,2) cast they mirror yields NULL for exactly those
  // values (both engines), and SUM skips NULLs, so the aggregate skips
  // them too — no divergence window outside the representable domain.
  private val NotRepresentable = Long.MinValue
  private val MaxUnscaledCents = java.math.BigInteger.valueOf(999999999999L)
  private def cents(v: Double): Long =
    if (!java.lang.Double.isFinite(v)) NotRepresentable
    else {
      val u = JBigDecimal.valueOf(v).setScale(2, RoundingMode.HALF_UP).unscaledValue()
      if (u.abs.compareTo(MaxUnscaledCents) > 0) NotRepresentable
      else u.longValueExact()
    }

  /** Test seam: quantize + offer, bypassing InternalRow plumbing. */
  private[graft] def offerForTest(buf: PriorityQueue[java.lang.Long], v: Double): Unit = {
    val c = cents(v)
    if (c != NotRepresentable) offer(buf, c)
  }

  override def update(buf: PriorityQueue[java.lang.Long], input: InternalRow):
      PriorityQueue[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) {
      val c = cents(v.asInstanceOf[Double])
      if (c != NotRepresentable) offer(buf, c)
    }
    buf
  }

  override def merge(buf: PriorityQueue[java.lang.Long],
      other: PriorityQueue[java.lang.Long]): PriorityQueue[java.lang.Long] = {
    val it = other.iterator()
    while (it.hasNext) offer(buf, it.next())
    buf
  }

  override def eval(buf: PriorityQueue[java.lang.Long]): Any =
    if (buf.isEmpty) null
    else {
      // |cents| <= k * 1e12 — addExact is a fail-loud guard, not a
      // reachable path at any sane k
      var cents = 0L
      val it = buf.iterator()
      while (it.hasNext) cents = Math.addExact(cents, it.next())
      cents.toDouble / 100.0
    }

  override def serialize(buf: PriorityQueue[java.lang.Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buf.size)
    bb.putInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): PriorityQueue[java.lang.Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) { offer(buf, bb.getLong); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKSum =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKSum =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKSum =
    copy(child = newChildren.head)
}

object TopKSum {
  def build(es: Seq[Expression]): TopKSum = es match {
    case Seq(v, Literal(k: Int, IntegerType)) => TopKSum(v, k)
    case Seq(v, Literal(k: Long, LongType)) => TopKSum(v, k.toInt)
    case _ => throw new IllegalArgumentException(
      "topk_sum(value, k) requires a literal integer k")
  }
}
