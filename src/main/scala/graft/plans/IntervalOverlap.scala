package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, SortOrder}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.LongType

/** A NATIVE interval-overlap self-join, built on the same stack as
  * [[AsOfJoin]] (logical node → planner strategy → physical operator).
  *
  * Semantics: one output row (ua, ub), ua < ub, per pair of input rows
  * of DIFFERENT users whose half-open intervals overlap (`a_start <
  * b_end AND b_start < a_end`). Rows with a null user, start or end
  * pair with nothing. Pairs of the same user are never reported.
  *
  * Why a physical operator: composed built-ins pair intervals through an
  * equi-join on an exploded time bucket, whose candidate volume is
  * Σ n_bucket² whatever the overlap count is. The sweep is
  * output-sensitive: per row it touches only the intervals still open at
  * its start.
  *
  * Layout (REPOSE-style reference-point partitioning): each row is
  * copied into every stripe of [[IntervalOverlap.StripeWidth]] it
  * touches ([[IntervalStripesExec]]); the exec requires clustering by
  * stripe and (stripe, start) order, so EnsureRequirements inserts one
  * hash exchange and one sort. Within a stripe the sweep keeps an active
  * set and evicts members whose end ≤ the current start. A pair is
  * reported only in the stripe holding the later of its two starts (its
  * home stripe): the earlier interval is open at that start, so it was
  * copied there. Copies from earlier stripes only join the active set;
  * they never emit, so no pair is reported twice and no DISTINCT runs.
  */
final case class IntervalOverlap(user: Attribute, start: Attribute, end: Attribute,
    ua: Attribute, ub: Attribute, child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = Seq(ua, ub)
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override protected def withNewChildInternal(newChild: LogicalPlan): IntervalOverlap =
    copy(child = newChild)
}

object IntervalOverlapStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case IntervalOverlap(u, st, en, ua, ub, child) =>
      val stripe = AttributeReference("stripe", LongType, nullable = false)()
      IntervalOverlapExec(u, st, en, stripe, ua, ub,
        IntervalStripesExec(u, st, en, stripe, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** (user, start, end, stripe): one copy of each non-null row per stripe
  * its interval touches, `floor(start / W)` through `floor((end - 1) /
  * W)`; an empty or inverted interval keeps only its home stripe (it can
  * only pair as the later start). */
final case class IntervalStripesExec(user: Attribute, start: Attribute, end: Attribute,
    stripe: Attribute, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = Seq(user, start, end, stripe)
  override def producedAttributes: AttributeSet = AttributeSet(stripe)
  override protected def withNewChildInternal(newChild: SparkPlan): IntervalStripesExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val ords = Seq(user, start, end).map(a => child.output.indexWhere(_.exprId == a.exprId))
    val Seq(iu, is, ie) = ords
    val w = IntervalOverlap.StripeWidth
    child.execute().mapPartitions { rows =>
      val out = new UnsafeRowWriter(4)
      rows.flatMap { r =>
        if (ords.exists(r.isNullAt)) Iterator.empty
        else {
          val (u, s, e) = (r.getLong(iu), r.getLong(is), r.getLong(ie))
          val first = Math.floorDiv(s, w)
          val last = if (e > s) Math.floorDiv(e - 1, w) else first
          Iterator.range(0, (last - first + 1).toInt).map { k =>
            out.reset(); out.write(0, u); out.write(1, s); out.write(2, e)
            out.write(3, first + k); out.getRow
          }
        }
      }
    }
  }
}

final case class IntervalOverlapExec(user: Attribute, start: Attribute, end: Attribute,
    stripe: Attribute, ua: Attribute, ub: Attribute, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = Seq(ua, ub)
  override def producedAttributes: AttributeSet = AttributeSet(output)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(stripe :: Nil))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(stripe, Ascending), SortOrder(start, Ascending)))

  override protected def withNewChildInternal(newChild: SparkPlan): IntervalOverlapExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val numOut = longMetric("numOutputRows")
    val Seq(iu, is, ie, ik) = Seq(user, start, end, stripe)
      .map(a => child.output.indexWhere(_.exprId == a.exprId))
    val w = IntervalOverlap.StripeWidth
    child.execute().mapPartitions { rows =>
      val out = new UnsafeRowWriter(2)
      new Iterator[InternalRow] {
        // the stripe's active set (user, start, end), evicted lazily while
        // a home row scans it: starts only grow, so an evicted member
        // stays closed for the rest of the stripe
        private var users = new Array[Long](64)
        private var starts = new Array[Long](64)
        private var ends = new Array[Long](64)
        private var n = 0
        private var curStripe = Long.MinValue // no floorDiv by W yields it
        // the home row being matched, and its scan position in the set
        private var u, t, e = 0L
        private var i = 0
        private var scanning = false
        private var ready = false

        private def push(): Unit = {
          if (n == users.length) {
            users = java.util.Arrays.copyOf(users, 2 * n)
            starts = java.util.Arrays.copyOf(starts, 2 * n)
            ends = java.util.Arrays.copyOf(ends, 2 * n)
          }
          users(n) = u; starts(n) = t; ends(n) = e; n += 1
        }

        override def hasNext: Boolean = {
          while (!ready) {
            if (scanning) {
              if (i == n) { push(); scanning = false }
              else if (ends(i) <= t) {
                n -= 1; users(i) = users(n); starts(i) = starts(n); ends(i) = ends(n)
              } else {
                val v = users(i); i += 1
                // a member starts at or before t < its end; an empty or
                // inverted home row (e <= t) must also end after it starts
                if (v != u && (e > t || starts(i - 1) < e)) {
                  out.reset(); out.write(0, math.min(u, v)); out.write(1, math.max(u, v))
                  ready = true
                }
              }
            } else if (rows.hasNext) {
              val r = rows.next()
              val k = r.getLong(ik)
              if (k != curStripe) { n = 0; curStripe = k }
              u = r.getLong(iu); t = r.getLong(is); e = r.getLong(ie)
              if (Math.floorDiv(t, w) == k) { scanning = true; i = 0 }
              else push() // a copy from an earlier stripe: joins, never emits
            } else return false
          }
          true
        }

        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          ready = false
          numOut += 1
          out.getRow
        }
      }
    }
  }
}

/** Public API + construction-time type guard. */
object IntervalOverlap {
  /** Stripe width, in the unit of the time columns: one hour of
    * microseconds for timestamps. An interval is copied once per stripe
    * it touches, so the width should be near the typical interval length
    * (q_join_interval's sessions last 30 minutes or more): much narrower
    * multiplies copies, much wider leaves few stripes to spread over the
    * shuffle partitions. */
  val StripeWidth: Long = 3600L * 1000 * 1000

  /** One row (ua, ub), ua < ub, per overlapping pair of `df`'s rows of
    * different users (half-open [start, end)). `user` must be bigint;
    * `start` and `end` long-backed (bigint / timestamp) of one type. */
  def pairs(df: DataFrame, user: String, start: String, end: String): DataFrame = {
    val p = df.queryExecution.analyzed
    val u = AsOfJoin.column(p, user, "intervalOverlap")
    require(u.dataType == LongType, s"intervalOverlap user must be bigint, got ${u.dataType}")
    val st = AsOfJoin.longBacked(AsOfJoin.column(p, start, "intervalOverlap"), "intervalOverlap start")
    val en = AsOfJoin.longBacked(AsOfJoin.column(p, end, "intervalOverlap"), "intervalOverlap end")
    require(st.dataType == en.dataType,
      s"intervalOverlap start and end differ in type: ${st.dataType} vs ${en.dataType}")
    val node = IntervalOverlap(u, st, en,
      AttributeReference("ua", LongType, nullable = false)(),
      AttributeReference("ub", LongType, nullable = false)(), p)
    AsOfJoin.install(df.sparkSession, IntervalOverlapStrategy)
    org.apache.spark.sql.graft.Bridge.ofRows(df.sparkSession, node)
  }
}
