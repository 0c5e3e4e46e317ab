package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalatest.funsuite.AnyFunSuite
import graft.sync.IncrementalView
import graft.sync.IncrementalView.ViewDef

/** Contract of the incrementally-maintained aggregate view: folding
  * deltas equals scanning whole, the state schema never drifts, empty
  * deltas rewrite nothing, retraction is exact and over-retraction is
  * loud, and (state, watermark) commit atomically. The moment column
  * (mv_s2) is certified here Spark-vs-Spark — the DuckDB gate skips it
  * because decimal-product precision rules differ across engines.
  */
class IncrementalViewSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshRoot(tag: String): String = {
    val root = Files.createTempDirectory(s"graft_ivspec_$tag").toString
    graft.sinks.AliasedIndex.deleteRecursively(Paths.get(root))
    root
  }

  private def orders: DataFrame =
    spark.read.parquet(s"${TestSpark.sf0001}/orders.parquet").select(
      col("o_orderkey"),
      col("o_orderstatus").as("status"),
      Dets.money(col("o_totalprice")).as("total"),
      col("o_orderdate"))

  private def versionDirs(root: String): Seq[String] = {
    val p = Paths.get(root)
    if (!Files.isDirectory(p)) Seq.empty
    else {
      val l = Files.list(p)
      try l.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("v-")).toSeq.sorted
      finally l.close()
    }
  }

  test("two-delta fold equals the one-shot aggregate, moments included") {
    val root = freshRoot("fold")
    val v = ViewDef(Seq("status"), "total")
    IncrementalView.refresh(spark, root,
      orders.where("o_orderdate <= TIMESTAMP '1997-06-01'"), v)
    IncrementalView.refresh(spark, root,
      orders.where("o_orderdate > TIMESTAMP '1997-06-01'"), v)
    val got = IncrementalView.read(spark, root)
      .select("status", "mv_n", "mv_s", "mv_s2", "mv_min", "mv_max")
      .orderBy("status").collect()

    // the direct aggregate, state-typed: same pinned decimals, same casts
    val t38 = col("total").cast(DecimalType(38, 2))
    val q38 = col("total").cast(DecimalType(38, 4))
    val want = orders.groupBy("status").agg(
        count(lit(1)).as("mv_n"),
        sum(t38).cast(DecimalType(38, 2)).as("mv_s"),
        sum(q38 * q38).cast(DecimalType(38, 4)).as("mv_s2"),
        min(col("total")).as("mv_min"), max(col("total")).as("mv_max"))
      .orderBy("status").collect()
    assert(got.toSeq == want.toSeq)
  }

  test("state schema is refresh-stable (pinned decimal sums, no widening)") {
    val root = freshRoot("schema")
    val v = ViewDef(Seq("status"), "total")
    IncrementalView.refresh(spark, root, orders.limit(100), v)
    val s1 = IncrementalView.state(spark, root).get.schema
    IncrementalView.refresh(spark, root, orders.limit(500), v)
    IncrementalView.refresh(spark, root, orders, v)
    val s3 = IncrementalView.state(spark, root).get.schema
    assert(s1 == s3, "refresh widened the state schema — decimal pinning broke")
  }

  test("empty delta is a no-op: no version churn, no watermark advance") {
    val root = freshRoot("empty")
    val v = ViewDef(Seq("status"), "total")
    IncrementalView.refreshTracked(spark, root, orders, v, "o_orderdate")
    val vs = versionDirs(root)
    val wm = IncrementalView.currentWatermark(root)
    assert(wm.nonEmpty, "tracked refresh must commit a watermark")
    IncrementalView.refreshTracked(spark, root, orders, v, "o_orderdate")
    assert(versionDirs(root) == vs, "empty delta rewrote the state")
    assert(IncrementalView.currentWatermark(root) == wm)
  }

  test("tracked watermark commits atomically with the state version") {
    val root = freshRoot("atomic")
    val v = ViewDef(Seq("status"), "total")
    IncrementalView.refreshTracked(spark, root,
      orders.where("o_orderdate <= TIMESTAMP '1997-06-01'"), v, "o_orderdate")
    // the mark lives INSIDE the served version dir, not beside it
    val cur = graft.sinks.AliasedIndex.resolve(root).get
    assert(Files.exists(Paths.get(cur, "watermark")))
    val wm1 = IncrementalView.currentWatermark(root).get
    assert(wm1.startsWith("TIMESTAMP '1997-0"), wm1)
    // the second snapshot folds exactly the strict tail: totals match a
    // one-shot scan, i.e. no row folded twice or dropped at the boundary
    IncrementalView.refreshTracked(spark, root, orders, v, "o_orderdate")
    val got = IncrementalView.read(spark, root)
      .select("status", "mv_n").orderBy("status")
      .as[(String, Long)].collect().toSeq
    val want = orders.groupBy("status").count().orderBy("status")
      .as[(String, Long)].collect().toSeq
    assert(got == want)
    assert(IncrementalView.currentWatermark(root).get > wm1)
  }

  test("untracked refresh on a tracked view carries the watermark forward") {
    val root = freshRoot("mixed")
    val v = ViewDef(Seq("status"), "total", retractable = true)
    IncrementalView.refreshTracked(spark, root,
      orders.where("o_orderdate <= TIMESTAMP '1997-06-01'"), v, "o_orderdate")
    val wm = IncrementalView.currentWatermark(root)
    assert(wm.nonEmpty)
    // a signed delete-propagation pass between tracked pulls must not
    // drop the mark — that would make the next pull re-fold everything
    IncrementalView.refreshSigned(spark, root,
      orders.where("o_orderdate <= TIMESTAMP '1997-06-01' AND o_orderkey % 7 = 0"),
      v, lit(-1L))
    assert(IncrementalView.currentWatermark(root) == wm,
      "untracked refresh lost the committed watermark")
    IncrementalView.refreshTracked(spark, root, orders, v, "o_orderdate")
    val got = IncrementalView.read(spark, root)
      .select("status", "mv_n").orderBy("status")
      .as[(String, Long)].collect().toSeq
    val want = orders
      .where("NOT (o_orderdate <= TIMESTAMP '1997-06-01' AND o_orderkey % 7 = 0)")
      .groupBy("status").count().orderBy("status")
      .as[(String, Long)].collect().toSeq
    assert(got == want, "tail pull double-folded or dropped rows")
  }

  test("NULL event times are refused loudly in tracked mode") {
    val root = freshRoot("nullwm")
    val v = ViewDef(Seq("status"), "total")
    val withNulls = orders.withColumn("o_orderdate",
      when(col("o_orderkey") % 100 === 0, lit(null)).otherwise(col("o_orderdate")))
    val e = intercept[Exception] {
      IncrementalView.refreshTracked(spark, root, withNulls, v, "o_orderdate")
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("NULL o_orderdate"), msgs.take(500))
    assert(IncrementalView.state(spark, root).isEmpty,
      "refused refresh still published state")
  }

  test("retraction is exact and a fully-retracted key disappears") {
    val root = freshRoot("retract")
    val v = ViewDef(Seq("status"), "total", retractable = true)
    val tagged = orders.withColumn("status",
      when(col("o_orderkey") % 1000 === 0, lit("ZZ_DOOMED"))
        .otherwise(col("status")))
    IncrementalView.refresh(spark, root, tagged, v)
    assert(IncrementalView.read(spark, root)
      .where("status = 'ZZ_DOOMED'").count() == 1)
    IncrementalView.refreshSigned(spark, root,
      tagged.where("status = 'ZZ_DOOMED'"), v, lit(-1L))
    val serving = IncrementalView.read(spark, root)
    assert(serving.where("status = 'ZZ_DOOMED'").count() == 0,
      "fully retracted key still served")
    val got = serving.select("status", "mv_n", "mv_s").orderBy("status").collect()
    val want = tagged.where("status <> 'ZZ_DOOMED'").groupBy("status")
      .agg(count(lit(1)).as("mv_n"),
        sum(col("total").cast(DecimalType(38, 2))).cast(DecimalType(38, 2))
          .as("mv_s"))
      .orderBy("status").collect()
    assert(got.toSeq == want.toSeq)
  }

  test("over-retraction fails loudly and the old state stays published") {
    val root = freshRoot("overretract")
    val v = ViewDef(Seq("status"), "total", retractable = true)
    IncrementalView.refresh(spark, root, orders.where("o_orderkey <= 100"), v)
    val before = IncrementalView.read(spark, root)
      .orderBy("status").collect().toSeq
    val cur = graft.sinks.AliasedIndex.resolve(root)
    val e = intercept[Exception] {
      IncrementalView.refreshSigned(spark, root, orders, v, lit(-1L))
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("over-retraction"), msgs.take(500))
    assert(graft.sinks.AliasedIndex.resolve(root) == cur,
      "failed refresh moved the alias")
    assert(IncrementalView.read(spark, root).orderBy("status")
      .collect().toSeq == before, "failed refresh changed served state")
  }

  test("append-only views refuse signed deltas (min/max not invertible)") {
    val root = freshRoot("refuse")
    val v = ViewDef(Seq("status"), "total")
    IncrementalView.refresh(spark, root, orders.limit(10), v)
    val e = intercept[IllegalArgumentException] {
      IncrementalView.refreshSigned(spark, root, orders.limit(5), v, lit(-1L))
    }
    assert(e.getMessage.contains("retractable"))
  }

  test("multi-measure fold equals one-shot for every measure, retraction too") {
    val root = freshRoot("multi")
    val src = orders.withColumn("points",
      (col("o_orderkey") % 100).cast("decimal(12,2)"))
    val v = ViewDef(Seq("status"), "total", retractable = true,
      extraMeasures = Seq("points"))
    IncrementalView.refresh(spark, root, src.where("o_orderkey % 2 = 0"), v)
    IncrementalView.refresh(spark, root, src.where("o_orderkey % 2 = 1"), v)
    IncrementalView.refreshSigned(spark, root,
      src.where("o_orderkey % 7 = 0"), v, lit(-1L))
    val got = IncrementalView.read(spark, root)
      .select("status", "mv_n", "mv_s_total", "mv_s_points").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2), r.getDecimal(3)))
      .toSet
    val want = src.where("o_orderkey % 7 <> 0").groupBy("status")
      .agg(count(lit(1)).as("n"),
        sum(col("total").cast("decimal(38,2)")).cast("decimal(38,2)").as("st"),
        sum(col("points").cast("decimal(38,2)")).cast("decimal(38,2)").as("sp"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2), r.getDecimal(3)))
      .toSet
    assert(got == want)
    // single-measure views keep the LEGACY unsuffixed state columns
    val root1 = freshRoot("multi_legacy")
    IncrementalView.refresh(spark, root1, orders, ViewDef(Seq("status"), "total"))
    val cols = IncrementalView.read(spark, root1).columns.toSet
    assert(cols == Set("status", "mv_n", "mv_nm", "mv_s", "mv_s2",
      "mv_min", "mv_max"), cols)
  }

  test("cdc refresh: group-moving updates transfer exactly; self-diff is stable") {
    val root = freshRoot("cdc")
    val v = ViewDef(Seq("status"), "total", retractable = true)
    val prev = orders.select("o_orderkey", "status", "total")
    // churn: delete %13, flip %5 survivors' status to 'U' (moves rows
    // BETWEEN groups — the case a naive append-only fold gets wrong)
    val cur = orders.where("o_orderkey % 13 <> 0").select(
      col("o_orderkey"),
      expr("CASE WHEN o_orderkey % 5 = 0 THEN 'U' ELSE status END").as("status"),
      col("total"))
    IncrementalView.refresh(spark, root, prev, v)
    IncrementalView.refreshCdc(spark, root, prev, cur, "o_orderkey", v)
    val got = IncrementalView.read(spark, root)
      .select("status", "mv_n", "mv_s").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2))).toSet
    val want = cur.groupBy("status")
      .agg(count(lit(1)).as("n"),
        sum(col("total").cast("decimal(38,2)")).cast("decimal(38,2)").as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDecimal(2))).toSet
    assert(got == want)
    // a second CDC refresh with NO churn leaves the served view unchanged
    IncrementalView.refreshCdc(spark, root, cur, cur, "o_orderkey", v)
    val again = IncrementalView.read(spark, root)
      .select("status", "mv_n", "mv_s").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2))).toSet
    assert(again == got)
  }

  test("reading an unpublished view fails with a refresh hint") {
    val e = intercept[IllegalStateException] {
      IncrementalView.read(spark, freshRoot("nopub"))
    }
    assert(e.getMessage.contains("refresh"))
  }

  // the q_view_distinct claim the oracle can't see (no SQL engine
  // reproduces another's HLL registers): folding the corpus in deltas
  // and unioning the sketches gives the IDENTICAL estimate the one-shot
  // sketch gives — HLL union is lossless, so sketch state is a valid
  // incremental-view state
  test("sketch view: delta-folded HLL union == one-shot sketch, exactly") {
    val src = spark.read.parquet(s"${TestSpark.sf0001}/events.parquet")
      .select(col("event_type"), col("user_id"), col("ts"))
    val oneShot = src.groupBy("event_type")
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id))").as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val cuts = Seq("1970-01-01", "2024-01-11", "2024-01-21", "2100-01-01")
    val deltas = cuts.sliding(2).map { case Seq(a, b) =>
      src.where(col("ts") >= graft.Dets.tsLit(a) && col("ts") < graft.Dets.tsLit(b))
        .groupBy("event_type").agg(expr("hll_sketch_agg(user_id)").as("sk"))
    }.toSeq
    val folded = deltas.reduce(_ union _)
      .groupBy("event_type").agg(expr("hll_union_agg(sk)").as("sk"))
      .select(col("event_type"), expr("hll_sketch_estimate(sk)").as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(folded == oneShot,
      s"delta-folded estimates diverged from one-shot: $folded vs $oneShot")
  }

  // graft.Par batch failure: the concurrent prepare/stage stage settles
  // before any commit, so one failing delta aborts the WHOLE batch — the
  // published version (view state and index meta) stays what it was
  test("refreshAll / appendAll: a failing concurrent delta publishes nothing") {
    def failing(df: DataFrame, id: String): DataFrame =
      df.where(assert_true(col(id) < 0, lit("injected delta failure")).isNull)
    val v = ViewDef(Seq("status"), "total")
    val root = freshRoot("parfail")
    IncrementalView.refresh(spark, root, orders.where("o_orderdate <= TIMESTAMP '1997-06-01'"), v)
    val (current, rows) = (graft.sinks.AliasedIndex.resolve(root),
      IncrementalView.read(spark, root).collect().toSet)
    intercept[Exception](IncrementalView.refreshAll(spark, root,
      Seq(orders.where("o_orderdate > TIMESTAMP '1997-06-01'"), failing(orders, "o_orderkey")), v))
    assert(graft.sinks.AliasedIndex.resolve(root) == current && versionDirs(root).size == 1,
      "a failed batch published a view version")
    assert(IncrementalView.read(spark, root).collect().toSet == rows)

    val idx = freshRoot("parfail_idx")
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
      .select(col("doc_id"), col("text"))
    graft.search.InvertedIndex.append(spark, idx, docs.where("doc_id % 2 = 0"))
    val meta = graft.sinks.AliasedIndex.resolve(s"$idx/meta")
    val lex = graft.search.InvertedIndex.lexicon(spark, idx).collect().toSet
    intercept[Exception](graft.search.InvertedIndex.appendAll(spark, idx, Seq(
      docs.where("doc_id % 2 = 1"), failing(docs, "doc_id"))))
    assert(graft.sinks.AliasedIndex.resolve(s"$idx/meta") == meta,
      "a failed batch published an index meta version")
    assert(graft.search.InvertedIndex.lexicon(spark, idx).collect().toSet == lex)
  }
}
