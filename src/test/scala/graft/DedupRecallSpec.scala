package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the MinHash-LSH candidate recall measured by q_dedup_recall at
  * the fixture knobs — the dedup twin of SimRecallSpec. The floors are
  * the measured-fixture values minus slack (8x2: 871/1172 = 74%, 12x3:
  * 1031/1172 = 88% at sf0.001), not production targets: they catch a
  * silent candidate-generation regression (a broken band key or
  * permutation table collapses recall toward 0) while the DuckDB oracle
  * on q_dedup_recall pins the exact integer counts. The banding theory
  * says MORE bands at the same row depth can only add candidates — so
  * the 12x3 knob must dominate 8x2 on recall, and that ordering is
  * asserted too, knob-independently.
  */
class DedupRecallSpec extends AnyFunSuite {
  import TestSpark._

  test("q_dedup_recall: candidate recall stays above the fixture floors") {
    val rows = SparkEntry.queries("q_dedup_recall")(spark, sf0001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(rows.keySet == Set("minhash_8x2", "minhash_12x3"), rows.keySet.toString)
    val (t82, c82, h82) = rows("minhash_8x2")
    val (t123, c123, h123) = rows("minhash_12x3")
    // the truth set is knob-independent
    assert(t82 == t123 && t82 > 0, s"truth sets diverged: $t82 vs $t123")
    // hits can never exceed truth or candidates
    for ((h, t, c) <- Seq((h82, t82, c82), (h123, t123, c123)))
      assert(h <= t && h <= c, s"hit count $h exceeds truth $t or candidates $c")
    // measured 74% / 88% at sf0.001 — floors with slack
    assert(h82 * 10 >= t82 * 6, s"8x2 recall collapsed: $h82/$t82")
    assert(h123 * 10 >= t123 * 8, s"12x3 recall collapsed: $h123/$t123")
    // 3 bands of 4 rows sees every pair 2 bands of 4 rows sees
    assert(h123 >= h82, s"12x3 recall $h123 below 8x2's $h82")
  }

  // r14 verdict #5: the near-dup edge set is memoized per (session, dir)
  // — its three consumers (cluster, retention, recall) must share ONE
  // pinned build, not re-run candidates+verify apiece. The registry's
  // build count is the counter; a private copy of the fixture keeps other
  // suites' builds out of it.
  test("nearDupEdges builds once across cluster/retention/recall") {
    val dir = java.nio.file.Files.createTempDirectory("graft_edges_once")
    Tables.names.foreach(t => java.nio.file.Files.copy(
      java.nio.file.Paths.get(sf0001, s"$t.parquet"), dir.resolve(s"$t.parquet")))
    val s = spark.newSession()
    SparkEntry.queries("q_dedup_cluster")(s, dir.toString).collect()
    assert(Artifacts.builds("dedup.nearEdges", dir.toString) == 1,
      "expected one edge-set build")
    SparkEntry.queries("q_dedup_retention")(s, dir.toString).collect()
    SparkEntry.queries("q_dedup_recall")(s, dir.toString).collect()
    assert(Artifacts.builds("dedup.nearEdges", dir.toString) == 1,
      "edge set was rebuilt by a later consumer")
  }
}
