package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q_scan_bloomskip — the file-level bloom index (r18). The oracle
  * certifies the VALUES (probe keys + aggregates recomputed from the
  * data); this spec pins the SKIPPING SEMANTICS the values ride on:
  * the bloom has no false negatives against ground truth, it actually
  * prunes, and the clustering really cannot serve this lookup (the
  * premise that makes the bloom the only signal).
  */
class BloomSkipSpec extends AnyFunSuite {
  import TestSpark._

  test("no false negatives: every file truly holding a probe key is selected") {
    SparkEntry.queries("q_scan_bloomskip")(spark, sf0001).collect() // build
    val (keys, selected, total) = operators.Warehouse.bloomPlan(spark, sf0001)
    assert(keys.length == 3)
    // keys arrive in (count ASC, key) rarity order — the deterministic
    // plan pick — so pin distinctness, not numeric order (the r18
    // advice found the old `a && b || a` assert vacuous; de-morganing
    // it surfaced that numeric-sortedness was never the contract)
    assert(keys.distinct == keys, s"duplicate probe keys: $keys")
    val (dataPath, _) = operators.Warehouse.manifestLayout(spark, sf0001)
    // ground truth: which files actually hold the probe keys
    val truth = spark.read.parquet(dataPath)
      .where(col("o_custkey").isin(keys: _*))
      .select(input_file_name().as("f")).distinct()
      .collect().map(_.getString(0).split('/').last).toSet
    assert(truth.nonEmpty, "probe keys vanished from the data")
    val sel = selected.map(_.split('/').last).toSet
    assert(truth.subsetOf(sel),
      s"bloom dropped files holding matches: ${truth.diff(sel)}")
    // and it PRUNES: the rare keys' orders live in a handful of the 16
    // files, so most files must be skipped (fpp ~0.3% at the largest
    // fixture; sf0.001 filters are near-empty)
    assert(sel.size < total,
      s"bloom pruned nothing: ${sel.size} of $total")
    assert(sel.size <= truth.size + 2,
      s"false-positive blowup: selected ${sel.size} vs true ${truth.size}")
  }

  test("the premise holds: range clustering cannot serve the custkey lookup") {
    SparkEntry.queries("q_scan_bloomskip")(spark, sf0001).collect() // build
    val (keys, _, total) = operators.Warehouse.bloomPlan(spark, sf0001)
    val (dataPath, _) = operators.Warehouse.manifestLayout(spark, sf0001)
    // per-file custkey min/max: a zone-map prune keeps a file when any
    // probe key falls inside its [min, max] — count how many files
    // min/max COULD skip for ALL three keys
    val ranges = spark.read.parquet(dataPath)
      .groupBy(input_file_name().as("f"))
      .agg(min("o_custkey").as("lo"), max("o_custkey").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    val zoneKept = ranges.count { case (lo, hi) =>
      keys.exists(k => k >= lo && k <= hi) }
    // the files are range-clustered on o_orderkey, so custkey ranges
    // span nearly everything: zone maps keep (almost) every file
    assert(zoneKept >= total - 1,
      s"fixture premise broke: zone maps would keep only $zoneKept of $total")
  }
}
