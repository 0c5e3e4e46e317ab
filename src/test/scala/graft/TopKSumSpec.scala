package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TopKSum

/** The TypedImperativeAggregate contract for topk_sum: partition/merge
  * invariance, serde round-trip, and agreement with the window-based
  * top-k formulation on real data.
  */
class TopKSumSpec extends AnyFunSuite {
  import TestSpark._

  private def agg(k: Int) =
    TopKSum(org.apache.spark.sql.catalyst.expressions.Literal(0.0), k)

  test("merge of any split equals the straight fold, through serde") {
    val vals = Seq(5.01, 1.0, 9.99, 3.5, 9.99, 2.25, 7.0, 0.49)
    val a = agg(3)
    for (cut <- 0 to vals.length) {
      val (l, r) = vals.splitAt(cut)
      val bl = l.foldLeft(a.createAggregationBuffer()) { (b, v) =>
        a.offerForTest(b, v); b }
      val br = r.foldLeft(a.createAggregationBuffer()) { (b, v) =>
        a.offerForTest(b, v); b }
      // cross the serde boundary exactly like a shuffle does
      val merged = a.merge(a.deserialize(a.serialize(bl)),
        a.deserialize(a.serialize(br)))
      assert(a.eval(merged) == 9.99 + 9.99 + 7.0)
    }
  }

  test("SUM semantics: empty buffer is NULL, non-representable values skipped") {
    val a = agg(3)
    assert(a.nullable)
    assert(a.eval(a.createAggregationBuffer()) == null)
    // NaN/Inf/overflow mirror the Double->DECIMAL(12,2) cast (NULL), so
    // they contribute nothing; an all-such group stays NULL like SUM.
    // The cutoff is DECIMAL(12,2)'s own bound: 1e10 needs 13 unscaled
    // digits (skipped), 9999999999.99 is the largest representable.
    val b = a.createAggregationBuffer()
    Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, 1e17, 1e10, -1.5e10)
      .foreach(a.offerForTest(b, _))
    assert(a.eval(b) == null)
    a.offerForTest(b, 2.5)
    assert(a.eval(b) == 2.5)
    a.offerForTest(b, 9999999999.99)
    assert(a.eval(b) == 9999999999.99 + 2.5)
  }

  test("topk_sum equals the window top-k sum on sf0.001 orders") {
    val o = spark.read.parquet(s"$sf0001/orders.parquet")
    val viaAgg = o.groupBy("o_orderpriority")
      .agg(expr("topk_sum(o_totalprice, 10)").as("s"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val viaWin = o.withColumn("rk", row_number().over(w)).where(col("rk") <= 10)
      .groupBy("o_orderpriority")
      .agg(col("o_orderpriority"),
        (sum(col("o_totalprice").cast("decimal(12,2)")).cast("double")).as("s"))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(viaAgg == viaWin)
  }
}
