package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A cached artifact never serves stale results: queries whose answers
  * go through memoized builds (near-dup edges, the shared view fold, a
  * warehouse layout, the generator choice) are rerun in the same session
  * after the tables under their fixture dir are rewritten in place, and
  * must answer exactly like a fresh session reading the new data.
  */
class ArtifactFreshnessSpec extends AnyFunSuite {
  import TestSpark._

  private val keys =
    Seq("q_dedup_cluster", "q_view_incremental", "q_scan_partitioned", "q_dedup_near")

  private def copyTree(from: Path, tag: String): Path = {
    val to = Files.createTempDirectory(s"graft_fresh_$tag")
    val walk = Files.walk(from)
    try walk.forEach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    } finally walk.close()
    to
  }

  private def answers(s: SparkSession, dir: Path,
      keys: Seq[String] = keys): Map[String, Seq[String]] =
    keys.map(k => k -> SparkEntry.queries(k)(s, dir.toString)
      .collect().map(_.toString).toSeq.sorted).toMap

  /** Replace `dir/table.parquet` with the rows `keep` selects — written
    * elsewhere first, then swapped in under the same path. */
  private def rewrite(dir: Path, table: String, keep: DataFrame => DataFrame): Unit = {
    val target = dir.resolve(s"$table.parquet")
    val staged = Files.createTempDirectory(s"graft_fresh_staged_$table").resolve("t")
    keep(spark.read.parquet(target.toString)).coalesce(1).write.parquet(staged.toString)
    Files.delete(target)
    Files.move(staged, target)
  }

  test("data rewritten under the same path is never served from a stale artifact") {
    val dir = copyTree(Paths.get(sf0001), "inplace")
    val s = spark.newSession()
    val before = answers(s, dir)
    rewrite(dir, "documents", _.where(pmod(col("doc_id"), lit(3)) =!= 0))
    rewrite(dir, "orders", _.where(pmod(col("o_orderkey"), lit(3)) =!= 0))
    val after = answers(s, dir)
    // a fresh session on the same rewritten tables under a path no cache
    // has seen
    val expected = answers(spark.newSession(), copyTree(dir, "fresh"))

    keys.foreach { k =>
      val (changed, fresh) = (expected(k) != before(k), after(k) == expected(k))
      assert(changed, s"$k: the rewrite did not change its answer")
      assert(fresh, s"$k served a stale artifact after the rewrite")
    }
  }

  test("a table rewritten in place with a new column reads with its new schema") {
    val dir = copyTree(Paths.get(sf0001), "newcol")
    val s = spark.newSession()
    val key = Seq("q_text_tfidf")
    val before = answers(s, dir, key)
    val cols = Tables(s, dir.toString, "documents").columns.toSeq
    rewrite(dir, "documents", _.where(pmod(col("doc_id"), lit(3)) =!= 0)
      .withColumn("extra", lit(1)))
    assert(Tables(s, dir.toString, "documents").columns.toSeq == cols :+ "extra",
      "the same session read the old schema after the rewrite")
    val after = answers(s, dir, key)
    val expected = answers(spark.newSession(), copyTree(dir, "newcol_fresh"), key)
    assert(expected != before, "the rewrite did not change the answer")
    assert(after == expected, "the same session answered from the old table")
  }
}
