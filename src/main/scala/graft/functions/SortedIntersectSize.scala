package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expression (SURVEY.md §4.3 stretch): the size of the
  * intersection of two *sorted, distinct* string arrays by linear merge.
  *
  * Why not `size(array_intersect(a, b))`: that builds a hash set of one
  * side per evaluated row — in a pair-scoring join (ngram/token Jaccard)
  * the same arrays are re-hashed for every candidate pair. Sorting once
  * per document and merging per pair does the same work with zero
  * allocation per pair. Codegen stays in the whole-stage pipeline via a
  * static method call (no Row boxing, no UDF serialization).
  *
  * Inputs MUST be sorted ascending and duplicate-free (array_sort ∘
  * array_distinct); output equals size(array_intersect(a, b)) then.
  */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_size"

  override def nullSafeEval(l: Any, r: Any): Any =
    SortedIntersectSize.count(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.SortedIntersectSize$$.MODULE$$.count($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectSize {
  /** Linear merge count over sorted UTF8String arrays (called from
    * generated code — keep the signature Java-friendly).
    */
  def count(a: ArrayData, b: ArrayData): Int = {
    var i = 0; var j = 0; var n = 0
    val na = a.numElements(); val nb = b.numElements()
    while (i < na && j < nb) {
      val cmp = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (cmp == 0) { n += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    n
  }
}
