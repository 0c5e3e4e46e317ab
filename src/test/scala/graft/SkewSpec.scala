package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Skew machinery, exercised instead of asserted (SURVEY.md §7.6): the
  * fixtures carry no skewed key, so these build one — a single hot key
  * holding most of the rows — and prove both escape hatches work at
  * local[8]:
  *  - AQE's skew-join split actually fires (the finalized SortMergeJoin
  *    node is marked `skew=true`) once the skewed side crosses the
  *    (test-lowered) thresholds;
  *  - the deliberate salting rewrite returns row-identical results to the
  *    plain join while provably splitting the hot key across salt buckets.
  */
class SkewSpec extends AnyFunSuite {
  import TestSpark._

  // ~200k rows of hot key 0 + 2k spread over keys 1..100; small dim side.
  private def skewed = {
    import spark.implicits._
    spark.range(0, 202000).select(
      when(col("id") < 200000, lit(0L)).otherwise(pmod(col("id"), lit(100L)) + 1)
        .as("k"),
      col("id").as("payload"))
  }
  private def dim = {
    import spark.implicits._
    spark.range(0, 101).select(col("id").as("k"),
      concat(lit("dim_"), col("id")).as("name"))
  }

  test("AQE splits the hot partition of a skewed sort-merge join (skew=true)") {
    val prev = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled"
    ).map(k => k -> spark.conf.getOption(k)).toMap
    try {
      // force a shuffle join and make the hot partition count as "skewed"
      // at test scale (thresholds are production-tuned by default)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // sum(payload) keeps the high-entropy column in the shuffle: a
      // constant-key-only hot partition compresses under the threshold
      val joined = skewed.join(dim, "k")
        .groupBy("name").agg(count(lit(1)).as("n"), sum("payload").as("s"))
      joined.collect() // finalize the adaptive plan
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"), p.take(3000))
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("salted join is row-identical to the plain join and splits the hot key") {
    val plain = skewed.join(dim, "k")
      .groupBy("k", "name").agg(count(lit(1)).as("n"), sum("payload").as("s"))
      .orderBy("k").collect()
    val salted = graft.operators.Salting
      .saltedInnerJoin(skewed, dim, "k", col("payload"), buckets = 8)
      .groupBy("k", "name").agg(count(lit(1)).as("n"), sum("payload").as("s"))
      .orderBy("k").collect()
    assert(salted.toSeq == plain.toSeq)
    // the hot key's rows really spread across all 8 salt buckets
    val spread = skewed.where(col("k") === 0)
      .select(pmod(hash(col("payload")), lit(8)).as("salt"))
      .distinct().count()
    assert(spread == 8, s"hot key only hit $spread of 8 salt buckets")
  }

  // A monochrome-heavy corpus is the banded media-dedup family's skew
  // shape: thousands of near-identical images share ONE (band, value)
  // bucket, and candidate volume there is n². This drives the image
  // dedup's own factored kernel (MediaPipeline.bandedHammingPairs) with
  // a synthetic hot band and pins both halves: AQE's skew split fires
  // on the bucket equi-join, and the split changes no pair count.
  test("banded Hamming join: AQE splits a hot band; pair counts unchanged") {
    // 2500 "monochrome" images share band 0 (lo % 65536 = 0xABCD) in
    // quintets of identical full hashes (Hamming 0 — the verified
    // dups), with the upper bits varying per quintet so cross-quintet
    // candidates mostly fail the radius; + 500 spread images whose
    // band values scatter. w/h constant so the bucket key is the band
    // alone.
    def hashed = spark.range(0, 3000).selectExpr(
      "id AS media_id", "CAST(16 AS BIGINT) AS w", "CAST(16 AS BIGINT) AS h",
      "CASE WHEN id < 2500 THEN CAST((id DIV 5) * 2654435761 AS BIGINT) " +
        "ELSE CAST(id * 40503 AS BIGINT) END AS ahash_hi",
      "CASE WHEN id < 2500 THEN CAST(43981 + ((id DIV 5) % 65536) * 65536 AS BIGINT) " +
        "ELSE CAST(id + (id % 65536) * 65536 AS BIGINT) END AS ahash_lo")
    def checksum(df: org.apache.spark.sql.DataFrame) = {
      val agg = df.agg(count(lit(1)).as("pairs"), sum("hamming").as("sum_ham"),
        sum(col("media_a") * 31 + col("media_b")).as("chk"))
      val row = agg.collect().head
      (row, agg.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0))
    }
    val prev = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.adaptive.skewJoin.enabled"
    ).map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      val (splitSum, p) = checksum(
        graft.multimodal.MediaPipeline.bandedHammingPairs(hashed))
      assert(p.contains("skew=true"),
        s"hot-band partition did not split:\n${p.take(3000)}")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      val (plainSum, _) = checksum(
        graft.multimodal.MediaPipeline.bandedHammingPairs(hashed))
      assert(splitSum == plainSum, s"split=$splitSum plain=$plainSum")
      // the quintet structure guarantees the verified-dup floor:
      // 2500/5 quintets x C(5,2) = 5000 Hamming-0 pairs at least
      assert(splitSum.getAs[Long]("pairs") >= 5000L,
        s"fixture produced too few verified pairs: $splitSum")
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  // A globally hot HOUR is q_join_interval's skew shape at 100×: every
  // session in the peak hour lands in ONE stripe, whose sweep keeps them
  // all in one active set. There is no equi-join left for AQE to split;
  // this drives the query's own kernel (Joins.intervalOverlapPairs) with
  // a synthetic hot hour and pins its pair counts to a brute force.
  test("interval-overlap sweep: hot-hour pair counts equal brute force") {
    // 2500 sessions of one hot hour (5-min sessions, second-offset starts)
    // + 500 spread across 400 other hours; distinct users so ua < ub
    // dedups nothing structurally
    val sessions = spark.range(0, 3000).selectExpr(
      "id AS user_id",
      "CASE WHEN id < 2500 THEN timestamp'2024-03-01 12:00:00' + " +
        "make_interval(0, 0, 0, 0, 0, 0, id % 3000) " +
        "ELSE timestamp'2024-03-01 12:00:00' + " +
        "make_interval(0, 0, 0, 0, CAST(id % 400 AS INT) + 1, 0, 0) END AS s_start")
      .withColumn("s_end", expr("s_start + INTERVAL 5 MINUTES"))
    val got = graft.operators.Joins.intervalOverlapPairs(sessions).collect()
      .map(r => (r.getAs[Long]("ua"), r.getAs[Long]("ub")) -> r.getAs[Long]("n_concurrent")).toMap
    val rows = sessions.selectExpr("user_id", "unix_micros(s_start)", "unix_micros(s_end)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = (for {
      i <- rows.indices; j <- rows.indices if i < j
      (ua, sa, ea) = rows(i); (ub, sb, eb) = rows(j)
      if ua != ub && sa < eb && sb < ea
    } yield (math.min(ua, ub), math.max(ua, ub))).groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(want.values.sum > 100000L, s"fixture too small to mean anything: ${want.values.sum}")
    assert(got == want, s"sweep=${got.size} pairs sum=${got.values.sum}, " +
      s"brute=${want.size} pairs sum=${want.values.sum}")
  }

  test("distributedPrefix survives a pathologically clustered value grid") {
    import spark.implicits._
    // 50k distinct values jammed into 0.1% of the range (one bucket's
    // span) + 3 far outliers that stretch the min/max rule — the worst
    // case for RANGE bucketing: nearly the whole grid lands in bucket 0
    val vals = (0L until 50000L).map(v => (v, 1L, 2L)) ++
      Seq((5_000_000_000L, 7L, 0L), (9_000_000_000L, 0L, 3L),
        (9_999_999_999L, 1L, 1L))
    val merged = vals.toDF("v", "c1", "c2")
    val out = graft.operators.Aggregates
      .distributedPrefix(merged, Seq("c1", "c2"))
      .select("v", "bkt", "f_c1", "f_c2")
      .orderBy("v").collect()
    // correctness is UNCONDITIONAL: prefix sums equal a sequential scan
    var (e1, e2) = (0L, 0L)
    vals.sortBy(_._1).zip(out).foreach { case ((v, c1, c2), row) =>
      e1 += c1; e2 += c2
      assert(row.getLong(0) == v)
      assert(row.getLong(2) == e1 && row.getLong(3) == e2,
        s"prefix drifted at v=$v: (${row.getLong(2)}, ${row.getLong(3)}) vs ($e1, $e2)")
    }
    // and the clustering really did degenerate the bucketing (the
    // honest cost statement: a clustered grid serializes into one
    // bucket's window; balance needs quantile buckets, correctness
    // doesn't) — the outliers still land elsewhere
    val byBkt = out.groupBy(_.getInt(1)).view.mapValues(_.length).toMap
    assert(byBkt.getOrElse(0, 0) == 50000, s"expected the cluster in bucket 0: $byBkt")
    assert(byBkt.size >= 2, "outliers failed to stretch the range")
  }
}
