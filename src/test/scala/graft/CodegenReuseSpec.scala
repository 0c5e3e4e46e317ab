package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.scalatest.funsuite.AnyFunSuite

/** A warm call of a key reuses the classes its first call generated.
  *
  * Compiling generated code is the largest per-call cost left on the
  * benchmark's read path: a class evicted from Spark's generated-class
  * cache, or an expression that generates different source on every
  * call, is paid again on every round. And a generated method over
  * HotSpot's 8,000-byte limit is never JIT-compiled, so it runs
  * interpreted however warm the JVM is.
  */
class CodegenReuseSpec extends AnyFunSuite {
  import TestSpark._

  /** The perfbench query_mix keys, one per family. */
  private val keys = Seq("q_agg_hashgroup", "q_join_interval", "q_text_tfidf",
    "q_dedup_cosine_wide", "q_view_incremental", "q_filter_null")

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** One call of every key with full (noop) output; classes compiled per key. */
  private def pass(): Seq[(String, Long)] = keys.map { k =>
    val c0 = compiles()
    SparkEntry.queries(k)(spark, sf0001).write.format("noop").mode("overwrite").save()
    k -> (compiles() - c0)
  }

  test("a warm pass over the query_mix keys compiles no generated class") {
    pass()
    val warm = pass()
    assert(warm.forall(_._2 == 0), s"classes compiled on the warm pass: $warm")
  }

  test("q_dedup_cosine_wide generates no method over HotSpot's 8,000-byte JIT limit") {
    val df = SparkEntry.queries("q_dedup_cosine_wide")(spark, sf0001)
    df.collect() // finalizes the adaptive plan
    val sizes = codegenStringSeq(df.queryExecution.executedPlan)
      .map { case (_, _, stats) => stats.maxMethodCodeSize }
    assert(sizes.nonEmpty)
    assert(sizes.max <= 8000, s"largest generated method ${sizes.max} bytes")
  }
}
