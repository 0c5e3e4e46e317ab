package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** A NATIVE as-of join — the whole-operator Catalyst extension stack
  * (logical node → planner strategy → physical operator), used where
  * composing built-ins genuinely can't express the plan we want.
  *
  * Semantics (left-outer as-of, inclusive): for every left row, the
  * single right row with the same key and the greatest `rightTime <=
  * leftTime`, ties among equal times broken by the greatest
  * `rightOrder`; unmatched left rows carry nulls. Identical to the
  * composed `q_join_asof` (union + carry-forward window) and to the
  * oracle's `row_number() = 1 over (date DESC, key DESC)` — three
  * independent implementations, one answer.
  *
  * Why a physical operator: the composed form materializes a UNIONED
  * stream (every orders row reshaped into the events schema with a null
  * struct, every events row padded with order columns) and runs a
  * row-scale window over it. The native plan shuffles each side ONCE on
  * its own key, sorts each side within partitions, and streams a
  * two-pointer merge with O(1) carry state — no union padding, no
  * window buffer, rows emitted 1:1 with the left side. At 100 TB that
  * removes a full reshaped copy of both inputs from the shuffle.
  *
  * Execution contract: `requiredChildDistribution` co-partitions the
  * sides on their keys (EnsureRequirements inserts compatible hash
  * exchanges exactly as for a sort-merge join), `requiredChildOrdering`
  * demands (key, time[, order]) ascending — so `doExecute` can
  * `zipPartitions` and merge. Keys and times must be integral-backed
  * (long, date, timestamp[_ntz] — all compare as longs); construction
  * refuses anything else loudly.
  */
final case class AsOfJoin(left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression,
    rightOrder: Seq[Expression]) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lt, rt, ro) =>
      AsOfJoinExec(lk, rk, lt, rt, ro, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

final case class AsOfJoinExec(leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression, rightOrder: Seq[Expression],
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(leftKey :: Nil),
      ClusteredDistribution(rightKey :: Nil))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)) ++
      rightOrder.map(SortOrder(_, Ascending)))

  // one output row per left row, in left order — left's partitioning holds
  override def outputPartitioning: Partitioning = left.outputPartitioning

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val rightWidth = right.output.size
    val leftOut = left.output
    val rightOut = right.output
    val lKeyB = BindReferences.bindReference(leftKey, leftOut)
    val lTimeB = BindReferences.bindReference(leftTime, leftOut)
    val rKeyB = BindReferences.bindReference(rightKey, rightOut)
    val rTimeB = BindReferences.bindReference(rightTime, rightOut)
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(rightWidth)
      // the output projection must treat the RIGHT side as nullable even
      // when the child attributes are not — unmatched left rows carry the
      // all-null row, and a non-nullable BoundReference would skip the
      // null check and read garbage zeros (caught by AsOfJoinProps)
      val proj = UnsafeProjection.create(
        (leftOut.map(a => (a.dataType, a.nullable)) ++
          rightOut.map(a => (a.dataType, true))).zipWithIndex.map {
          case ((dt, nullable), i) =>
            org.apache.spark.sql.catalyst.expressions.BoundReference(i, dt, nullable)
        })
      new Iterator[InternalRow] {
        // one-row lookahead into the right side
        private var rHead: InternalRow = _
        private var rHas = false
        private def advanceRight(): Unit =
          if (rIter.hasNext) { rHead = rIter.next(); rHas = true }
          else { rHead = null; rHas = false }
        advanceRight()
        // the carried best match for the CURRENT left key
        private var carry: InternalRow = _
        private var carryKey = 0L
        private var haveCarry = false

        override def hasNext: Boolean = lIter.hasNext
        override def next(): InternalRow = {
          val l = lIter.next()
          val kAny = lKeyB.eval(l)
          val tAny = lTimeB.eval(l)
          if (kAny == null || tAny == null) return proj(joined(l, nullRight))
          val k = kAny.asInstanceOf[Long]
          val t = tAny.asInstanceOf[Long]
          if (haveCarry && carryKey != k) haveCarry = false
          var scanning = true
          while (rHas && scanning) {
            val rkAny = rKeyB.eval(rHead)
            val rtAny = rTimeB.eval(rHead)
            if (rkAny == null || rtAny == null) advanceRight() // unjoinable
            else {
              val rk = rkAny.asInstanceOf[Long]
              if (rk < k) advanceRight() // keys the left side has passed
              else if (rk == k && rtAny.asInstanceOf[Long] <= t) {
                // sorted (time, order) ascending: the last row consumed
                // is the (time DESC, order DESC) winner — copy it (the
                // child iterator reuses its row buffer)
                carry = rHead.copy(); carryKey = k; haveCarry = true
                advanceRight()
              } else scanning = false
            }
          }
          proj(joined(l, if (haveCarry) carry else nullRight))
        }
      }
    }
  }
}

/** Public API + construction-time type guard. */
object AsOfJoin {
  private[plans] def longBacked[E <: Expression](e: E, what: String): E = {
    val ok = e.dataType match {
      // NOT DateType: dates are int-backed internally
      case LongType | TimestampType | TimestampNTZType => true
      case _ => false
    }
    require(ok,
      s"$what must be long-backed (bigint / timestamp), got ${e.dataType}")
    e
  }

  /** `p`'s output column `n`, by name, for the native operators' column-name APIs. */
  private[plans] def column(p: LogicalPlan, n: String, op: String): Attribute =
    p.output.find(_.name == n).getOrElse(throw new IllegalArgumentException(
      s"$op: column '$n' not in (${p.output.map(_.name).mkString(", ")})"))

  /** Defensive per-session registration of a native operator's strategy
    * (mirrors each custom expression's register(spark)): the
    * cluster-install route is GraftExtensions, but a plain session must
    * plan the node too. */
  private[plans] def install(spark: SparkSession, strategy: SparkStrategy): Unit =
    if (!spark.experimental.extraStrategies.contains(strategy))
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ strategy

  /** `left` as-of-joined to `right`: per left row, the latest right row
    * with equal `key` and `rightTime <= leftTime` (ties → greatest
    * `rightOrder`), nulls when none. Column-name API over analyzed
    * frames, like `Dataset.join(..., usingColumns)`.
    */
  def asOf(leftDf: DataFrame, rightDf: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      rightOrder: Seq[String] = Nil): DataFrame = {
    val lp = leftDf.queryExecution.analyzed
    val rp = rightDf.queryExecution.analyzed
    def attr(p: LogicalPlan, n: String, what: String): Expression =
      longBacked(column(p, n, "asOf"), s"asOf $what")
    val node = AsOfJoin(lp, rp,
      attr(lp, leftKey, "left key"), attr(rp, rightKey, "right key"),
      attr(lp, leftTime, "left time"), attr(rp, rightTime, "right time"),
      rightOrder.map(n => attr(rp, n, "right order")))
    install(leftDf.sparkSession, AsOfJoinStrategy)
    org.apache.spark.sql.graft.Bridge.ofRows(leftDf.sparkSession, node)
  }
}
