package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q_ts_theilsen_sampled (r19) — the hash-sampled Theil–Sen variant.
  * The oracle pins the cross-engine arithmetic; this spec pins the
  * ESTIMATOR claims: the sampled median is re-derivable scalar-side
  * (same md5 rule, same rank pick), the sampling really thins the
  * pair stream to ~1/4, and the sampled median sits near the exact
  * pairwise-slope median — within the stated rank tolerance.
  */
class TimeSeriesSpec extends AnyFunSuite {
  import TestSpark._

  test("q_ts_runs: scalar re-derivation + run-count bounds") {
    val rows = SparkEntry.queries("q_ts_runs")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val x = "(unix_micros(CAST(ts AS TIMESTAMP)) - " +
      "unix_micros(TIMESTAMP '2000-01-01 00:00:00')) DIV 3600000000"
    val hourly = Tables(spark, sf0001, "events")
      .selectExpr("event_type", s"$x AS t",
        "CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v")
      .groupBy("event_type", "t").agg(sum("v").as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(p => (p._2, p._3)).sortBy(_._1)).toMap
    def lowerMedian(s: Seq[Long]): Long = s.sorted.apply((s.length + 1) / 2 - 1)
    rows.foreach { r =>
      val hs = hourly(r.getString(0))
      val med = lowerMedian(hs.map(_._2).toSeq)
      val sgns = hs.collect { case (_, v) if v != med => if (v > med) 1 else 0 }
      val n1 = sgns.count(_ == 1).toLong; val n2 = sgns.count(_ == 0).toLong
      val runs = if (sgns.isEmpty) 0L
        else 1L + sgns.sliding(2).count(p => p.length == 2 && p(0) != p(1))
      assert(r.getAs[Long]("n1") == n1 && r.getAs[Long]("n2") == n2,
        s"${r.getString(0)} side populations")
      assert(r.getAs[Long]("runs") == runs, s"${r.getString(0)} run count")
      // bounds: at least 2 runs when both sides exist, at most n1+n2,
      // at most 2·min+1 alternations
      assert(runs >= 2 && runs <= n1 + n2 && runs <= 2 * math.min(n1, n2) + 1,
        s"${r.getString(0)} run bounds broken: $runs of ($n1, $n2)")
      val n = (n1 + n2).toDouble
      val z = (runs.toDouble - (2.0 * n1.toDouble * n2.toDouble / n + 1.0)) /
        math.sqrt(2.0 * n1.toDouble * n2.toDouble *
          (2.0 * n1.toDouble * n2.toDouble - n) / (n * n * (n - 1.0)))
      assert(r.getAs[Long]("z_micros") == math.floor(z * 1000000.0).toLong,
        s"${r.getString(0)} z chain")
    }
  }

  test("q_ts_mannkendall: scalar re-derivation + range and sign theorems") {
    val rows = SparkEntry.queries("q_ts_mannkendall")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val x = "(unix_micros(CAST(ts AS TIMESTAMP)) - " +
      "unix_micros(TIMESTAMP '2000-01-01 00:00:00')) DIV 3600000000"
    val hourly = Tables(spark, sf0001, "events")
      .selectExpr("event_type", s"$x AS t",
        "CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v")
      .groupBy("event_type", "t").agg(sum("v").as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(p => (p._2, p._3)).sortBy(_._1)).toMap
    rows.foreach { r =>
      val hs = hourly(r.getString(0))
      val n = hs.length.toLong
      assert(r.getAs[Long]("n_hours") == n)
      var sStat = 0L
      for (i <- hs.indices; j <- (i + 1) until hs.length)
        sStat += java.lang.Long.signum(hs(j)._2 - hs(i)._2)
      assert(r.getAs[Long]("s_stat") == sStat, s"${r.getString(0)} S")
      assert(math.abs(sStat) <= n * (n - 1) / 2, "S out of range")
      val tie18 = hs.groupBy(_._2).values.map(_.length.toLong)
        .map(t => t * (t - 1) * (2 * t + 5)).sum
      val var18 = n * (n - 1) * (2 * n + 5) - tie18
      assert(r.getAs[Long]("var18") == var18, s"${r.getString(0)} var18")
      val z =
        if (sStat > 0) (sStat.toDouble - 1.0) / math.sqrt(var18.toDouble / 18.0)
        else if (sStat < 0) (sStat.toDouble + 1.0) / math.sqrt(var18.toDouble / 18.0)
        else 0.0
      assert(r.getAs[Long]("z_micros") == math.floor(z * 1000000.0).toLong,
        s"${r.getString(0)} z chain")
      // the test and the estimate agree on direction: a |z| > 2 trend
      // call must match the sign of S by construction
      assert(r.getAs[Long]("z_micros") == 0L ||
        java.lang.Long.signum(r.getAs[Long]("z_micros")) == java.lang.Long.signum(sStat))
    }
  }

  test("q_ts_mad: scalar re-derivation + the defining half-mass property") {
    val rows = SparkEntry.queries("q_ts_mad")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val x = "(unix_micros(CAST(ts AS TIMESTAMP)) - " +
      "unix_micros(TIMESTAMP '2000-01-01 00:00:00')) DIV 3600000000"
    val hourly = Tables(spark, sf0001, "events")
      .selectExpr("event_type", s"$x AS t",
        "CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v")
      .groupBy("event_type", "t").agg(sum("v").as("v"))
      .collect().map(r => (r.getString(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    def lowerMedian(s: Seq[Long]): Long = s.sorted.apply((s.length + 1) / 2 - 1)
    rows.foreach { r =>
      val vs = hourly(r.getString(0)).toSeq
      assert(r.getAs[Long]("n_hours") == vs.length.toLong)
      val med = lowerMedian(vs)
      val mad = lowerMedian(vs.map(v => math.abs(v - med)))
      assert(r.getAs[Long]("median_micros") == med, s"${r.getString(0)} median")
      assert(r.getAs[Long]("mad_micros") == mad, s"${r.getString(0)} mad")
      // the defining property: at least half the series lies within
      // [med − mad, med + mad]
      val within = vs.count(v => math.abs(v - med) <= mad)
      assert(2 * within >= vs.length, s"${r.getString(0)} half-mass broken")
    }
  }

  test("q_ts_theilsen_sampled: scalar re-derivation + rank tolerance vs the exact median") {
    val rows = SparkEntry.queries("q_ts_theilsen_sampled")(spark, sf0001)
      .collect()
    assert(rows.nonEmpty)

    // the shared hourly grid (engine-built; the sampling and median
    // logic under test re-derives scalar-side from it)
    val x = "(unix_micros(CAST(ts AS TIMESTAMP)) - " +
      "unix_micros(TIMESTAMP '2000-01-01 00:00:00')) DIV 3600000000"
    val hourly = Tables(spark, sf0001, "events")
      .selectExpr("event_type", s"$x AS t",
        "CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v")
      .groupBy("event_type", "t").agg(sum("v").as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(p => (p._2, p._3)).sortBy(_._1)).toMap

    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(et: String, t: Long): Long = {
      val hex = md.digest(s"$et:$t".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % 4
    }
    def kept(et: String, ta: Long, tb: Long): Boolean =
      (bucket(et, ta) + bucket(et, tb)) % 4 == 0
    def lowerMedian(s: Seq[Long]): Long = s.sorted.apply((s.length + 1) / 2 - 1)

    rows.foreach { r =>
      val et = r.getString(0)
      val hs = hourly(et)
      val n = hs.length.toLong
      assert(r.getAs[Long]("n_hours") == n, s"$et n_hours")
      assert(r.getAs[Long]("n_pairs_exact") == n * (n - 1) / 2, s"$et n_pairs_exact")

      val allSlopes = for {
        i <- hs.indices; j <- (i + 1) until hs.length
      } yield ((hs(j)._2 - hs(i)._2) * 1000000L / (hs(j)._1 - hs(i)._1),
        kept(et, hs(i)._1, hs(j)._1))
      val sampled = allSlopes.collect { case (sl, true) => sl }
      assert(r.getAs[Long]("n_pairs_sampled") == sampled.length.toLong,
        s"$et sampled count ${sampled.length} vs served")
      // the md5 rule is an unbiased 1/4 thinning, not a degenerate cut
      val frac = sampled.length.toDouble / allSlopes.length
      assert(frac > 0.15 && frac < 0.35, s"$et sampling fraction $frac")

      val servedMedian = r.getAs[Long]("theil_sampled_micros")
      assert(lowerMedian(sampled) == servedMedian, s"$et sampled median")
      // rank tolerance: the sampled median lands within ±0.10 of the
      // exact distribution's median rank — the estimator claim
      val exactSorted = allSlopes.map(_._1).sorted
      val pos = exactSorted.count(_ < servedMedian).toDouble / exactSorted.length
      assert(pos > 0.40 && pos < 0.60,
        s"$et sampled median at exact-rank $pos — outside the stated tolerance")
      // and it is genuinely close to the exact pick in value order
      val exactMedian = lowerMedian(exactSorted)
      assert(servedMedian == exactMedian ||
        math.abs(pos - 0.5) < 0.10, s"$et drifted: $servedMedian vs $exactMedian")
    }
  }

  test("q_ts_theilsen: the exact O(n²) leg refuses a series past the ceiling") {
    // scale guard (r21): a 100 TB misuse of the exact leg must fail
    // loudly, not run forever — the sampled variant is the scale path.
    // Build the key with a ceiling below the fixture's series length and
    // expect the loud refusal; the key itself gives the normal answer.
    val e = intercept[Exception] {
      operators.TimeSeries.theilSenExact(Tables(spark, sf0001, "events"), 10).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(m =>
      m.contains("q_ts_theilsen") && m.contains("theilsen_sampled")),
      s"expected the loud ceiling refusal, got: $e")
    // default ceiling: untouched behavior
    assert(SparkEntry.queries("q_ts_theilsen")(spark, sf0001).collect().nonEmpty)
  }

  private def events(rows: Seq[(String, String, Double)]) = {
    import spark.implicits._
    rows.toDF("event_type", "ts", "value")
      .selectExpr("event_type", "CAST(ts AS TIMESTAMP_NTZ) AS ts", "value")
  }

  test("lowerMedian picks the lower median for group sizes 1, 2 and 3 and under ties") {
    import spark.implicits._
    val groups = Map(
      "one" -> Seq(7L),
      "two" -> Seq(9L, 4L),
      "three" -> Seq(5L, -2L, 8L),
      "ties" -> Seq(3L, 1L, 3L, 3L, 1L, 2L),
      "tied_pair" -> Seq(6L, 6L))
    val df = groups.toSeq.flatMap { case (g, vs) => vs.map(v => (g, v)) }
      .toDF("event_type", "v")
    val got = operators.TimeSeries.lowerMedian(df, "v").collect()
      .map(r => r.getAs[String]("event_type") -> (r.getAs[Long]("v"), r.getAs[Long]("m")))
    // exactly one row per group: the rank pick never keeps a tied twin
    assert(got.length == groups.size, got.mkString(", "))
    groups.foreach { case (g, vs) =>
      val sorted = vs.sorted
      val expect = sorted((sorted.length + 1) / 2 - 1)
      assert(got.toMap.apply(g) == ((expect, vs.length.toLong)), s"group $g")
    }
    // a renamed size column, as q_ts_mad's second pick uses
    val named = operators.TimeSeries.lowerMedian(df, "v", size = "m2")
    assert(named.columns.contains("m2") && !named.columns.contains("m"))
  }

  test("hourlySeries sums exact micro-units per hour and skips an empty hour") {
    val ev = events(Seq(
      ("click", "2000-01-01 00:10:00", 1.5),
      ("click", "2000-01-01 00:50:00", 0.25),
      // hour 1 has no event
      ("click", "2000-01-01 02:00:00", 2.000001),
      ("click", "2000-01-01 02:59:59", -1.0),
      ("view", "2000-01-02 00:00:00", 3.0)))
    val got = operators.TimeSeries.hourlySeries(ev).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("t"), r.getAs[Long]("v")))
      .sorted.toSeq
    assert(got == Seq(
      ("click", 0L, 1750000L),
      ("click", 2L, 1000001L),
      ("view", 24L, 3000000L)), got.mkString(", "))
  }
}
