package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.ListenerBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.scalatest.funsuite.AnyFunSuite

/** A warm call of a key reuses the classes its first call generated.
  *
  * Compiling generated code is the largest per-call cost left on the
  * benchmark's read path: a class evicted from Spark's generated-class
  * cache, or an expression that generates different source on every
  * call, is paid again on every round. And a generated method over
  * HotSpot's 8,000-byte limit is never JIT-compiled, so it runs
  * interpreted however warm the JVM is. The same warm pass pins the
  * Spark jobs each key's full output starts: at this scale every job
  * pays a fixed scheduling cost, so an extra one is a regression in work
  * that timings on a shared host cannot see.
  */
class CodegenReuseSpec extends AnyFunSuite {
  import TestSpark._

  /** The perfbench query_mix keys, one per family. */
  private val keys = Seq("q_agg_hashgroup", "q_join_interval", "q_text_tfidf",
    "q_dedup_cosine_wide", "q_view_incremental", "q_filter_null")

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** One call of every key with full (noop) output; classes compiled and
    * Spark jobs started, per key. */
  private def pass(): Seq[(String, Long, Int)] = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try keys.map { k =>
      ListenerBus.drain(sc)
      val (c0, j0) = (compiles(), jobs.get)
      SparkEntry.queries(k)(spark, sf0001).write.format("noop").mode("overwrite").save()
      ListenerBus.drain(sc)
      (k, compiles() - c0, jobs.get - j0)
    } finally sc.removeSparkListener(listener)
  }

  private lazy val warm = { pass(); pass() }

  test("a warm pass over the query_mix keys compiles no generated class") {
    assert(warm.forall(_._2 == 0), s"classes compiled on the warm pass: $warm")
  }

  /** Jobs per key on the warm pass. Each output sort gathers into one
    * task (plans.GatherSmallSort), so it adds no range-sampling job and
    * no map stage. */
  private val warmJobs = Map(
    "q_filter_null" -> 1, "q_view_incremental" -> 1, "q_agg_hashgroup" -> 2,
    "q_dedup_cosine_wide" -> 2, "q_join_interval" -> 4, "q_text_tfidf" -> 6)

  test("a warm pass over the query_mix keys starts the pinned number of jobs per key") {
    val got = warm.map { case (k, _, j) => k -> j }.toMap
    assert(got == warmJobs, s"jobs per key on the warm pass: $got")
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
