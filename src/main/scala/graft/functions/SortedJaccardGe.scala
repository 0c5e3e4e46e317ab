package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** Threshold-aware Jaccard over *sorted, distinct* string arrays:
  * returns the Jaccard similarity if it is >= the threshold, else NULL.
  *
  * Combining score and threshold in one expression does two things:
  *  1. the filter becomes `IS NOT NULL`, so even when Catalyst inlines it
  *     into a join condition the merge runs once per evaluation, not once
  *     per conjunct occurrence;
  *  2. the merge can stop early (positional filtering, as in set-
  *     similarity-join literature): once the best-possible remaining
  *     intersection cannot reach the minimum required for the threshold,
  *     the pair is rejected without finishing the scan — most candidate
  *     pairs are dissimilar, so this skips most of the work.
  *
  * The returned value is computed as inter/(na+nb-inter) with the same
  * double division the plain formula uses, so values (and the >= t
  * comparison) are bit-identical to the unfused version and to the
  * DuckDB oracle.
  */
case class SortedJaccardGe(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "sorted_jaccard_ge"

  // Same merge over long codes (trigram_codes output) or strings —
  // dispatched once on the child's element type, not per row.
  private lazy val isLongElems: Boolean = first.dataType match {
    case org.apache.spark.sql.types.ArrayType(LongType, _) => true
    case _ => false
  }

  override def nullSafeEval(a: Any, b: Any, t: Any): Any = {
    val j =
      if (isLongElems)
        SortedJaccardGe.jaccL(a.asInstanceOf[ArrayData],
          b.asInstanceOf[ArrayData], t.asInstanceOf[Double])
      else
        SortedJaccardGe.jacc(a.asInstanceOf[ArrayData],
          b.asInstanceOf[ArrayData], t.asInstanceOf[Double])
    if (j < 0) null else java.lang.Double.valueOf(j)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (isLongElems) "jaccL" else "jacc"
    nullSafeCodeGen(ctx, ev, (a, b, t) => s"""
      double ${ev.value}_j = graft.functions.SortedJaccardGe$$.MODULE$$.$fn($a, $b, $t);
      if (${ev.value}_j < 0) { ${ev.isNull} = true; } else { ${ev.value} = ${ev.value}_j; }
    """)
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

object SortedJaccardGe {
  /** Returns the Jaccard similarity, or -1.0 if it is provably or
    * actually below the threshold. -1 is a safe sentinel (Jaccard >= 0).
    */
  def jacc(a: ArrayData, b: ArrayData, t: Double): Double = {
    val na = a.numElements(); val nb = b.numElements()
    val s = na + nb
    // minimum intersection required for jacc >= t, made conservative by 1
    // so a floating rounding error can never reject a passing pair; the
    // exact check at the end decides.
    val minInter = math.ceil(t * s / (1.0 + t)).toLong - 1L
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      if (inter + math.min(na - i, nb - j) < minInter) return -1.0
      val cmp = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (cmp == 0) { inter += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    val jac = inter.toDouble / (s - inter)
    if (jac >= t) jac else -1.0
  }

  /** The long-element twin of [[jacc]] — 8-byte compares instead of
    * UTF-8 byte-wise string compares.
    */
  def jaccL(a: ArrayData, b: ArrayData, t: Double): Double = {
    val na = a.numElements(); val nb = b.numElements()
    val s = na + nb
    val minInter = math.ceil(t * s / (1.0 + t)).toLong - 1L
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      if (inter + math.min(na - i, nb - j) < minInter) return -1.0
      val va = a.getLong(i); val vb = b.getLong(j)
      if (va == vb) { inter += 1; i += 1; j += 1 }
      else if (va < vb) i += 1
      else j += 1
    }
    val jac = inter.toDouble / (s - inter)
    if (jac >= t) jac else -1.0
  }
}
