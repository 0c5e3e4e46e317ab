package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source/sink format coverage beyond parquet (SURVEY.md §2.A): the same
  * DataFrames round-trip through csv and json sinks/sources losslessly —
  * the reference's world is "rows out of one system, rows into another",
  * so format plumbing is part of the capability surface.
  */
class SourcesSpec extends AnyFunSuite {
  import TestSpark._
  import org.apache.spark.sql.functions._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_src").toString

  test("csv round-trip preserves customer rows (header + explicit schema)") {
    val dir = tmp()
    val c = Tables(spark, sf0001, "customer")
    c.write.mode("overwrite").option("header", "true").csv(s"$dir/c")
    val back = spark.read.option("header", "true").schema(c.schema).csv(s"$dir/c")
    assert(back.count() == c.count())
    assert(back.exceptAll(c).isEmpty && c.exceptAll(back).isEmpty)
  }

  test("json round-trip preserves orders rows (timestamps included)") {
    val dir = tmp()
    val o = Tables(spark, sf0001, "orders")
    o.write.mode("overwrite").json(s"$dir/o")
    val back = spark.read.schema(o.schema).json(s"$dir/o")
    assert(back.count() == o.count())
    assert(back.exceptAll(o).isEmpty && o.exceptAll(back).isEmpty)
  }

  test("orc round-trip preserves part rows") {
    val dir = tmp()
    val p = Tables(spark, sf0001, "part")
    p.write.mode("overwrite").orc(s"$dir/p")
    val back = spark.read.schema(p.schema).orc(s"$dir/p")
    assert(back.count() == p.count())
    assert(back.exceptAll(p).isEmpty && p.exceptAll(back).isEmpty)
  }

  test("orc scan pushes predicates like parquet") {
    val dir = tmp()
    val li = Tables(spark, sf0001, "lineitem").select("l_orderkey", "l_quantity", "l_shipdate")
    li.write.mode("overwrite").orc(s"$dir/li")
    import org.apache.spark.sql.functions.col
    val q = spark.read.orc(s"$dir/li").where(col("l_quantity") > 40).select("l_orderkey")
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("l_quantity"), p.take(1500))
    assert(q.count() == li.where(col("l_quantity") > 40).count())
  }

  test("compaction collapses the fragmented layout and respects the file cap") {
    // run the query (plants + compacts the scratch layouts), then check
    // the PREMISE the oracle can't see: the before-layout really was
    // fragmented, and compaction strictly reduced the file count while
    // keeping every file under the 1000-record roll threshold
    SparkEntry.queries("q_sink_compacted")(spark, sf0001).collect()
    val (frag, compacted) = graft.operators.Warehouse.compactionLayout(spark, sf0001)
    def parquets(root: String): Seq[java.nio.file.Path] = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
      } finally s.close()
    }
    val (nFrag, nComp) = (parquets(frag).size, parquets(compacted).size)
    assert(nFrag > nComp,
      s"fragmented layout ($nFrag files) not reduced by compaction ($nComp)")
    val perFile = spark.read.parquet(compacted)
      .groupBy(input_file_name()).count()
    assert(perFile.where(col("count") > 1000).isEmpty,
      "a compacted file exceeds the 1000-record roll threshold")
  }

  test("es-doc sink output is parseable JSON with unique ids") {
    val docs = SparkEntry.queries("q_sink_esdocs")(spark, sf0001)
    val parsed = docs.select(col("es_id"),
      from_json(col("doc"), org.apache.spark.sql.types.StructType.fromDDL(
        "order_id BIGINT, customer STRING, status STRING, total DOUBLE")).as("j"))
    assert(parsed.where(col("j").isNull).count() == 0)
    assert(parsed.where(col("j.order_id") =!= col("es_id")).count() == 0)
    assert(docs.select("es_id").distinct().count() == docs.count())
  }
}
