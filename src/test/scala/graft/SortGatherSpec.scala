package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{CoalesceExec, InputAdapter, SortExec, SparkPlan, UnaryExecNode, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, ResultQueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.scalatest.funsuite.AnyFunSuite

/** A small output sort runs as one gathered task (`plans.GatherSmallSort`),
  * not as a range shuffle, and returns the same rows in the same order. */
class SortGatherSpec extends AnyFunSuite {
  import TestSpark._

  /** The perfbench query_mix keys, one per family. */
  private val mixKeys = Seq("q_agg_hashgroup", "q_join_interval", "q_text_tfidf",
    "q_dedup_cosine_wide", "q_view_incremental", "q_filter_null")
  /** Frames whose sort columns have ties at sf0.001, with those columns.
    * q_project_expr is the only key with ties there (lineitem repeats
    * (l_orderkey, l_linenumber)); every other key sorts on a unique column
    * set. The other two tie over a file scan and over an aggregate. */
  private val tieFrames: Seq[(String, Seq[String], () => DataFrame)] = Seq(
    ("q_project_expr", Seq("l_orderkey", "l_linenumber"),
      () => SparkEntry.queries("q_project_expr")(spark, sf0001)),
    ("lineitem by return flag", Seq("l_returnflag"), () => Tables(spark, sf0001, "lineitem")
      .select("l_returnflag", "l_orderkey", "l_linenumber", "l_quantity").orderBy("l_returnflag")),
    ("orders by line count", Seq("count"), () => Tables(spark, sf0001, "lineitem")
      .groupBy("l_orderkey").count().orderBy("count")))

  private val rangePath = "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1b"

  /** The adaptive plan as it stands: final after an action, initial before. */
  private def current(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }

  /** The child of the output-defining sort, codegen wrappers skipped. */
  private def underOutputSort(p: SparkPlan): Option[SparkPlan] = p match {
    case s: SortExec if s.global => Some(s.child match {
      case i: InputAdapter => i.child
      case c => c
    })
    case r: ResultQueryStageExec => underOutputSort(r.plan)
    case w: WholeStageCodegenExec => underOutputSort(w.child)
    case _: Exchange => None
    case u: UnaryExecNode => underOutputSort(u.child)
    case _ => None
  }

  private def gathered(p: SparkPlan): Boolean = underOutputSort(p).exists {
    case c: CoalesceExec => c.numPartitions == 1
    case _ => false
  }

  private def ranged(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      .contains("rangepartitioning")

  test("each query_mix key and tie frame gathers its output sort and keeps the range path's rows and order") {
    val frames = mixKeys.map(k => (k, Nil, () => SparkEntry.queries(k)(spark, sf0001))) ++ tieFrames
    frames.foreach { case (name, tieCols, frame) =>
      val g = frame()
      val gRows = g.collect()
      assert(gathered(current(g)) && !ranged(g), s"$name:\n${g.queryExecution.executedPlan}")
      if (tieCols.nonEmpty) {
        val at = tieCols.map(g.columns.indexOf(_))
        assert(gRows.map(r => at.map(r.get)).distinct.length < gRows.length, s"$name has no ties")
      }
      GraftSession.withConfs(spark, rangePath) {
        val r = frame()
        val rRows = r.collect()
        assert(ranged(r) && !gathered(current(r)), s"$name did not take the range path:\n${current(r)}")
        assert(gRows.toSeq == rRows.toSeq, s"$name: gathered and range rows differ")
      }
    }
  }

  test("a global sort under a join or a union keeps its range exchange") {
    // EliminateSorts would drop a sort under a join: exclude it so the
    // sort reaches the physical plan below the binary operator.
    GraftSession.withConfs(spark, "spark.sql.optimizer.excludedRules" ->
        "org.apache.spark.sql.catalyst.optimizer.EliminateSorts") {
      val o = Tables(spark, sf0001, "orders").select("o_orderkey", "o_custkey")
      val c = Tables(spark, sf0001, "customer").select("c_custkey", "c_name")
      val joined = o.orderBy("o_custkey").join(c, o("o_custkey") === c("c_custkey"))
      val unioned = o.orderBy("o_orderkey").union(o.orderBy("o_custkey"))
      Seq(joined, unioned).foreach { df =>
        df.collect()
        assert(ranged(df), df.queryExecution.executedPlan.toString)
        assert(!df.queryExecution.executedPlan.toString.contains("Coalesce 1"),
          df.queryExecution.executedPlan.toString)
      }
    }
  }

  test("a sort over more than one partition's worth of input keeps its range exchange") {
    // sf0.1 lineitem is several MB of parquet, over the 1 MB
    // minPartitionSize; sf0.001's fits. A file-scan input is known
    // before any stage runs, so the initial plan already shows the choice.
    def sortOf(dir: String) = Tables(spark, dir, "lineitem").orderBy("l_orderkey", "l_linenumber")
    val sf01 = sf0001.replace("sf0.001", "sf0.1")
    assert(gathered(current(sortOf(sf0001))), current(sortOf(sf0001)).toString)
    val big = sortOf(sf01)
    assert(!gathered(current(big)) && ranged(big), current(big).toString)
    // size-first coalescing gathers up to the 64 MB advisory size instead
    GraftSession.withConfs(spark,
        "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false") {
      assert(gathered(current(sortOf(sf01))))
    }
  }
}
