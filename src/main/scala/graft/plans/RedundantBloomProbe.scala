package graft.plans

import org.apache.spark.sql.catalyst.expressions.{And, BloomFilterMightContain, Expression, PredicateHelper, ScalarSubquery}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Drops a runtime bloom-filter probe that tests the very expression its
  * filter was built from.
  *
  * A frame rebuilt from an optimized plan (q_join_bloom, `Bridge.ofRows`)
  * is optimized again by each action. `InferFiltersFromConstraints` then
  * copies the application side's `might_contain(bloom, xxhash64(l_key))`
  * across the join key onto the creation side, as `might_contain(bloom,
  * xxhash64(o_key))`, where it tests every row against a filter built
  * from those same rows: it always passes, at one hash and one probe per
  * row. The copy is recognised by its value expression being
  * semantically equal (same attribute ids) to the argument of the
  * subquery's `bloom_filter_agg`; the application side probes another
  * table's column and is kept. Runs in the operator-optimization batch
  * after filter inference, so the copy never reaches physical planning.
  */
object RedundantBloomProbe extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case Filter(cond, child) if splitConjunctivePredicates(cond).exists(selfProbe) =>
      splitConjunctivePredicates(cond).filterNot(selfProbe)
        .reduceOption(And).fold(child)(Filter(_, child))
  }

  private def selfProbe(e: Expression): Boolean = e match {
    case BloomFilterMightContain(s: ScalarSubquery, value) =>
      s.plan.expressions.exists(_.exists {
        case b: BloomFilterAggregate => b.child.semanticEquals(value)
        case _ => false
      })
    case _ => false
  }
}
