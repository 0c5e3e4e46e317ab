package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}

/** Sign-LSH bucket of a DOUBLE vector: bit b is set when the projection
  * of its first 64 elements on Rademacher hyperplane b is positive, for
  * b in [0, planes) — 2^planes buckets.
  *
  * The same value as the SQL chain [[graft.operators.Dedup.lshBucketExpr]]
  * renders (the DuckDB oracles keep that string), bit for bit:
  *   - each plane sums left to right from 0.0, adding or subtracting
  *     element j by its sign, in the chain's order;
  *   - `> 0` follows Spark's double ordering, so a NaN sum sets the bit
  *     and -0.0 does not;
  *   - a null array, or a null among the 64 elements, makes every sum
  *     NULL and clears every bit (bucket 0);
  *   - an array shorter than 64 fails like `element_at` under ANSI
  *     (INVALID_ARRAY_INDEX_IN_ELEMENT_AT); without ANSI the missing
  *     elements read as NULL, so every bit is clear.
  *
  * The chain is 64 × planes `element_at` terms: at 6 planes its
  * generated `processNext` runs past HotSpot's 8,000-byte JIT limit and
  * each call re-analyzes the whole tree. This is one primitive loop over
  * a fixed sign table, codegen'd as a static call.
  */
case class LshBucket(
    child: Expression,
    planes: Int,
    failOnError: Boolean = SQLConf.get.ansiEnabled)
  extends UnaryExpression {

  require(planes >= 1 && planes <= LshBucket.MaxPlanes,
    s"lsh_bucket: planes must be in [1, ${LshBucket.MaxPlanes}], got $planes")

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override def prettyName: String = "lsh_bucket"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"lsh_bucket requires an ARRAY<DOUBLE> vector, got ${t.sql}")
  }

  override def eval(input: InternalRow): Any =
    LshBucket.bucket(child.eval(input).asInstanceOf[ArrayData], planes, failOnError)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = child.genCode(ctx)
    ev.copy(code = code"""
      ${v.code}
      int ${ev.value} = graft.functions.LshBucket$$.MODULE$$.bucket(
        ${v.isNull} ? null : ${v.value}, $planes, $failOnError);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LshBucket {
  val Dims = 64
  val MaxPlanes = 30

  /** Fixed Rademacher hyperplanes: `positive(b)(j)` is true when
    * hyperplane b in [0, 30) has sign +1 at dimension j in [0, 64),
    * derived from md5 so there is no accidental structure. Plane b is the
    * same at every fan-out (prefix property), so widening `planes`
    * refines buckets rather than reshuffling them.
    */
  val positive: Array[Array[Boolean]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(MaxPlanes, Dims)((b, j) =>
      (md.digest(s"lsh:$b:$j".getBytes("UTF-8"))(0) & 1) == 1)
  }

  def bucket(v: ArrayData, planes: Int, failOnError: Boolean): Int = {
    if (v == null) return 0
    val n = v.numElements()
    if (n < Dims) {
      if (failOnError) throw Bridge.elementAtIndexError(n + 1, n)
      return 0
    }
    var j = 0
    while (j < Dims) { if (v.isNullAt(j)) return 0; j += 1 }
    var out = 0
    var b = 0
    while (b < planes) {
      val pos = positive(b)
      var s = 0.0
      j = 0
      while (j < Dims) {
        s = if (pos(j)) s + v.getDouble(j) else s - v.getDouble(j)
        j += 1
      }
      if (s > 0.0 || java.lang.Double.isNaN(s)) out |= 1 << b
      b += 1
    }
    out
  }

  def build(es: Seq[Expression]): LshBucket = es match {
    case Seq(v, Literal(p: Int, IntegerType)) => LshBucket(v, p)
    case Seq(v, Literal(p: Long, LongType)) => LshBucket(v, p.toInt)
    case _ => throw new IllegalArgumentException(
      "lsh_bucket(v, planes) requires a literal integer planes")
  }
}
