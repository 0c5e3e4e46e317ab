package graft.functions

import org.apache.datasketches.common.ArrayOfStringsSerDe
import org.apache.datasketches.frequencies.{ErrorType, ItemsSketch}
import org.apache.datasketches.memory.Memory

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `freq_sketch(item, maxMapSize)` — Misra-Gries/Space-Saving frequent
  * items (heavy hitters) as a native Catalyst
  * [[TypedImperativeAggregate]] over the Datasketches `ItemsSketch`:
  * per-partition `update`, binary `serialize`/`deserialize` across the
  * shuffle (the library's own wire format), associative `merge`, and an
  * `eval` that serves `item -> (est, lb, ub)` as a map under the
  * NO_FALSE_NEGATIVES contract (every item with true count above the
  * error threshold is present, and lb <= true <= ub always).
  *
  * Scale: the buffer is O(maxMapSize) regardless of stream length — the
  * partial aggregate ships one bounded sketch per (partition, group)
  * where an exact groupBy ships a row per distinct item. maxMapSize is
  * the accuracy knob (error <= 3.5 * n / maxMapSize): size it
  * ~log-proportionally to the expected distinct count, the same
  * corpus-scaled-knob doctrine as the LSH fan-outs. Below eviction
  * (distinct items < 0.75 * maxMapSize) the sketch is EXACT:
  * est == lb == ub == true count — the fixture regime the oracle pins,
  * matching the q_agg_hllmerge exact-plus-in-bounds contract.
  */
case class FreqSketch(
    child: Expression,
    maxMapSize: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ItemsSketch[String]] {

  require(maxMapSize >= 8 && Integer.bitCount(maxMapSize) == 1,
    s"freq_sketch: maxMapSize must be a power of 2 >= 8, got $maxMapSize")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = MapType(StringType,
    StructType(Seq(
      StructField("est", LongType, nullable = false),
      StructField("lb", LongType, nullable = false),
      StructField("ub", LongType, nullable = false))),
    valueContainsNull = false)
  override def prettyName: String = "freq_sketch"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"freq_sketch requires a STRING item column, got ${child.dataType.sql}")

  override def createAggregationBuffer(): ItemsSketch[String] =
    new ItemsSketch[String](maxMapSize)

  override def update(buf: ItemsSketch[String], input: InternalRow): ItemsSketch[String] = {
    val v = child.eval(input)
    if (v != null) buf.update(v.asInstanceOf[UTF8String].toString)
    buf
  }

  override def merge(buf: ItemsSketch[String],
      other: ItemsSketch[String]): ItemsSketch[String] = {
    buf.merge(other)
    buf
  }

  override def eval(buf: ItemsSketch[String]): Any = {
    val rows = buf.getFrequentItems(ErrorType.NO_FALSE_NEGATIVES)
    val keys = new Array[Any](rows.length)
    val vals = new Array[Any](rows.length)
    var i = 0
    while (i < rows.length) {
      keys(i) = UTF8String.fromString(rows(i).getItem)
      vals(i) = new GenericInternalRow(Array[Any](
        rows(i).getEstimate, rows(i).getLowerBound, rows(i).getUpperBound))
      i += 1
    }
    new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(vals))
  }

  // the serde is stateless but not java-serializable — construct per
  // call (cheap) instead of holding it as a field the closure ships
  override def serialize(buf: ItemsSketch[String]): Array[Byte] =
    buf.toByteArray(new ArrayOfStringsSerDe())
  override def deserialize(bytes: Array[Byte]): ItemsSketch[String] =
    ItemsSketch.getInstance(Memory.wrap(bytes), new ArrayOfStringsSerDe())

  override def withNewMutableAggBufferOffset(newOffset: Int): FreqSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): FreqSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): FreqSketch =
    copy(child = newChildren.head)
}

object FreqSketch {
  def build(es: Seq[Expression]): FreqSketch = es match {
    case Seq(v, Literal(m: Int, IntegerType)) => FreqSketch(v, m)
    case Seq(v, Literal(m: Long, LongType)) => FreqSketch(v, m.toInt)
    case _ => throw new IllegalArgumentException(
      "freq_sketch(item, maxMapSize) requires a literal integer maxMapSize")
  }
}
