package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Custom Catalyst expression: dot product of two double arrays.
  *
  * `aggregate(zip_with(a, b, ...), ...)` computes the same value but
  * higher-order lambdas are interpreted and allocate a zipped array per
  * row — on a pair-scoring join that's the hot path. This is a tight
  * primitive loop, codegen'd via a static call, summing left-to-right in
  * exactly the same order as the fold it replaces (bit-identical doubles,
  * so oracle parity is unaffected).
  */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"
  // Mismatched lengths yield null (below), so the output is nullable
  // even over non-null inputs.
  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) null else VecDot.dot(a, b)
  }

  // Hand-rolled null-safe codegen: the length check produces null, and the
  // happy path stays a primitive (unboxed) static call.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |if ($a.numElements() != $b.numElements()) { ${ev.isNull} = true; }
         |else { ${ev.value} = graft.functions.VecDot$$.MODULE$$.dot($a, $b); }
       """.stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VecDot {
  /** Primitive sum loop; callers (eval/codegen above) have already
    * established equal lengths — a mismatch yields null there, the same
    * answer the `aggregate(zip_with(a, b, _*_), 0.0, _+_)` formulation
    * gives after zip_with null-pads the shorter side.
    */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }
}
