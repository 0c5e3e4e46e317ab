package graft

import java.nio.file.Files
import org.scalatest.Tag
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Marker for wall-clock-measuring tests: slower and machine-sensitive;
  * excludable with `testOnly -- -l graft.SlowTest`.
  */
object SlowTest extends Tag("graft.SlowTest")

/** Wall-clock evidence that the dedup plans are sub-quadratic — the
  * TIME version of LshScalingSpec's candidate-count proofs. A synthetic
  * Zipfian corpus (the 100 TB text reality the fixture's degenerate
  * 31-word vocabulary can't model) is generated once at N and 4N; the
  * declared queries run with the scale-safe choices (the candidate rule
  * picks prefix filtering, `simhashBits=auto` widens the signature) and
  * the measured ratio must stay far under the ~16x a quadratic plan
  * pays for 4x the rows. Bounds are deliberately generous (ratio < 8,
  * i.e. half of quadratic) — this asserts the complexity CLASS, not a
  * benchmark number, so scheduler noise can't flake it.
  */
class DedupWallClockSpec extends AnyFunSuite {
  import TestSpark._

  /** Documents-shaped corpus: n base docs of 40 tokens drawn from a
    * Zipf-ish 20k-word vocabulary (rank = u^3 * 20000 — heavy head,
    * long rare tail, the regime prefix filtering is built for), plus
    * n/20 planted near-duplicates (2 of 40 positions mutated,
    * Jaccard ~0.9) so the >=0.8 queries have real work. All content
    * hashes of (src, position) — no rand(), byte-stable across runs.
    */
  private def synthCorpus(n: Int): String = {
    val dir = Files.createTempDirectory(s"graft_wallclock_$n")
    dir.toFile.deleteOnExit()
    val word =
      "concat('w', CAST(pow(" +
        "CAST(conv(substr(md5(concat(CAST(src AS STRING), ':', CAST(j AS STRING), " +
        "CASE WHEN is_dup AND j <= 2 THEN '~mut' ELSE '' END)), 1, 15), 16, 10) AS DOUBLE) " +
        s"/ ${(1L << 60).toDouble}D, 3.0D) * 20000 AS INT))"
    val base = spark.range(n).selectExpr("id AS doc_id", "id AS src", "false AS is_dup")
    val dups = spark.range(n / 20).selectExpr(
      s"id + $n AS doc_id", "id * 20 AS src", "true AS is_dup")
    base.union(dups)
      .selectExpr("doc_id", "'en' AS lang",
        s"concat_ws(' ', transform(sequence(1, 40), j -> $word)) AS text")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "lang", "text", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir.toString
  }

  private def timed(q: String, dir: String): (Double, Long) = {
    val t0 = System.nanoTime()
    val rows = SparkEntry.queries(q)(spark, dir).count()
    ((System.nanoTime() - t0) / 1e9, rows)
  }

  /** 1-min loadavg, 0.0 when unreadable — the same best-effort telemetry
    * Bench records. Wall-clock ratio assertions are only meaningful on a
    * box that isn't already saturated by OTHER work: the r20 driver
    * window inflated individual timings 5–26x, which turns a complexity-
    * class check into a scheduler-noise lottery. */
  private def loadavg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString
      .split("\\s+").head.toDouble
    catch { case scala.util.control.NonFatal(_) => 0.0 }

  test("dedup wall-clock grows sub-quadratically on a Zipfian corpus with auto knobs",
      SlowTest) {
    // load-aware gate (r20 verdict item 3): on a contended host the
    // timing ratios are noise — CANCEL (visible, not failed) instead of
    // flaking the suite. Half the core count is far above this box's
    // idle load and far below the contended windows on record. A burst
    // (the suite's own previous spec) decays within a minute, so the
    // gate looks again a bounded number of times before it gives up,
    // and a cancellation is printed with every load it saw.
    val cores = Runtime.getRuntime.availableProcessors()
    val limit = cores / 2.0
    val loads = scala.collection.mutable.ArrayBuffer(loadavg())
    while (loads.last >= limit && loads.size < 6) {
      Thread.sleep(10000)
      loads += loadavg()
    }
    val seen = loads.map(l => f"$l%.1f").mkString(", ")
    if (loads.last >= limit)
      println(f"DedupWallClockSpec CANCELLED: 1-min load $seen on $cores cores " +
        f"(gate < $limit%.1f), ${loads.size} checks 10 s apart")
    assume(loads.last < limit,
      s"host contended (1-min load $seen on $cores cores) — " +
        "wall-clock ratios are scheduler noise here; rerun on a quiet box")
    val (n, factor) = (3000, 4)
    val small = synthCorpus(n)
    val big = synthCorpus(n * factor)
    try {
      spark.conf.set("spark.graft.dedup.simhashBits", "auto")
      for (q <- Seq("q_dedup_near", "q_dedup_minhash", "q_dedup_simhash")) {
        timed(q, small) // warm-up: JIT/codegen/stats memos off the clock
        val (tS, rowsS) = timed(q, small)
        val (tB, rowsB) = timed(q, big)
        // the corpus must pose real work: the planted near-dups surface.
        // Jaccard queries must find MORE pairs at 4x; simhash's auto-
        // widened signature legitimately finds FEWER (hamming<=3 over 32
        // bits is a stricter bar than over 24 — width-dependent output
        // is the knob's documented contract), so only demand non-empty.
        if (q != "q_dedup_simhash") {
          assert(rowsS > n / 100, s"$q found only $rowsS pairs at N=$n — corpus too easy")
          assert(rowsB > rowsS, s"$q: 4x corpus must carry more pairs ($rowsB vs $rowsS)")
        } else assert(rowsS > 0 && rowsB > 0, s"$q: degenerate corpus ($rowsS/$rowsB)")
        val ratio = tB / tS
        assert(ratio < 8,
          f"$q: t(4N)=$tB%.2fs / t(N)=$tS%.2fs = $ratio%.1fx — quadratic would be ~16x")
        info(f"$q: t(N)=$tS%.2fs ($rowsS rows), t(4N)=$tB%.2fs ($rowsB rows), ratio $ratio%.1fx")
      }
    } finally spark.conf.unset("spark.graft.dedup.simhashBits")
  }
}
