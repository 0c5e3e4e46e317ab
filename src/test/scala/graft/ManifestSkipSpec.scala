package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q_scan_manifest — file-level data skipping via a persisted manifest.
  *
  * The oracle certifies the VALUES (layout-independent recompute); this
  * spec pins the SKIPPING itself: the manifest enumerates every file of
  * the range-clustered layout, the band query selects a strict subset,
  * the executed scan never touches a pruned file, and pruning changed
  * nothing (manifest-pruned result == full-scan result).
  */
class ManifestSkipSpec extends AnyFunSuite {
  import TestSpark._

  test("manifest covers the layout: 16 files, disjoint-ish ranges, full row count") {
    SparkEntry.queries("q_scan_manifest")(spark, sf0001).collect() // build
    val (dataPath, manPath) = operators.Warehouse.manifestLayout(spark, sf0001)
    val man = spark.read.parquet(manPath).collect()
    assert(man.length == 16, s"expected 16 manifest entries, got ${man.length}")
    val total = man.map(_.getAs[Long]("n_rows")).sum
    assert(total == 1500, s"manifest rows $total != table rows")
    // range clustering gives non-overlapping file ranges (ties allowed at
    // the boundary key only)
    val ranges = man.map(r =>
      (r.getAs[Long]("min_key"), r.getAs[Long]("max_key"))).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, aMax), (bMin, _)) =>
        assert(aMax <= bMin, s"overlapping file ranges: $aMax > $bMin")
      case _ =>
    }
    // and the manifest's file names are exactly the layout's files
    val layoutFiles = spark.read.parquet(dataPath)
      .inputFiles.map(_.split('/').last).toSet
    assert(man.map(_.getAs[String]("file").split('/').last).toSet == layoutFiles)
  }

  test("the band query prunes most files and the scan proves it") {
    val df = SparkEntry.queries("q_scan_manifest")(spark, sf0001)
    val (_, manPath) = operators.Warehouse.manifestLayout(spark, sf0001)
    val man = spark.read.parquet(manPath).collect()
    val maxKey = man.map(_.getAs[Long]("max_key")).max
    val (lo, hi) = (maxKey / 10, maxKey / 5)
    val selected = man.filter(r =>
      r.getAs[Long]("max_key") >= lo && r.getAs[Long]("min_key") <= hi)
    // a 10% band over 16 range-clustered files keeps at most 4
    assert(selected.length <= 4,
      s"band [$lo,$hi] selected ${selected.length} of ${man.length} files")
    val scanned = df.inputFiles.map(_.split('/').last).toSet
    assert(scanned.subsetOf(selected.map(_.getAs[String]("file").split('/').last).toSet))
    assert(scanned.size < man.length / 2, s"scan read ${scanned.size} files")
  }

  test("pruning is sound: manifest-pruned result == full-scan result") {
    val pruned = SparkEntry.queries("q_scan_manifest")(spark, sf0001)
      .collect().map(_.toString).toSeq
    val (dataPath, manPath) = operators.Warehouse.manifestLayout(spark, sf0001)
    val maxKey = spark.read.parquet(manPath)
      .agg(max("max_key")).head.getLong(0)
    val full = spark.read.parquet(dataPath)
      .where(col("o_orderkey").between(maxKey / 10, maxKey / 5))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), sum("o_custkey").as("sum_cust"))
      .orderBy("o_orderpriority")
      .collect().map(_.toString).toSeq
    assert(pruned == full)
  }
}
