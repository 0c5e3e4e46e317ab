package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every declared query executes on sf0.001 and returns a sane result;
  * targeted shape assertions where the answer is structurally known.
  * (Value-level correctness is the DuckDB oracle harness — tools/compare.py;
  * these specs are the fast in-repo safety net.)
  */
class AllQueriesSpec extends AnyFunSuite {
  import TestSpark._

  test("driver contract: every oracle key has a query; flagship smokes") {
    val qs = SparkEntry.queries
    val missing = SparkEntry.oracleSql.keySet -- qs.keySet
    assert(missing.isEmpty, s"oracle entries without queries: $missing")
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("SURVEY.md §2 inventory is fully implemented") {
    val surveyKeys = Seq(
      "q_scan_parquet", "q_scan_sql_view", "q_scan_pushdown", "q_sink_esdocs", "q_sink_batched",
      "q_project_rename", "q_project_expr", "q_filter_pred", "q_filter_null", "q_filter_incremental",
      "q_join_inner", "q_join_broadcast", "q_join_sortmerge", "q_join_left", "q_join_full",
      "q_join_semi", "q_join_anti", "q_join_cross", "q_join_theta", "q_join_range",
      "q_join_asof", "q_join_multiway",
      "q_agg_hashgroup", "q_agg_global", "q_agg_distinct", "q_agg_rollup", "q_agg_cube",
      "q_agg_gsets", "q_agg_stats", "q_agg_minmaxby", "q_agg_collect", "q_agg_filtered",
      "q_agg_percentile", "q_agg_approxdistinct", "q_agg_pivot",
      "q_win_rank", "q_win_topk", "q_win_running", "q_win_sliding", "q_win_rangeframe",
      "q_win_leadlag", "q_win_ntile_firstlast",
      "q_sort_multi", "q_limit_topk", "q_limit_offset",
      "q_set_unionall", "q_set_union", "q_set_intersect", "q_set_except",
      "q_fn_string", "q_fn_date", "q_fn_math", "q_fn_cond", "q_fn_cast", "q_fn_array",
      "q_fn_map", "q_fn_json", "q_fn_hash",
      "q_dedup_exact", "q_dedup_near", "q_sim_topk", "q_text_tokenize", "q_text_tfidf",
      "q_text_stats", "q_multimodal_join", "q_multimodal_cluster",
      "q_stream_tumbling", "q_stream_sliding", "q_stream_session", "q_stream_dedup",
      "q_udf_scalar", "q_udaf_typed", "q_udtf_explode")
    val missing = surveyKeys.toSet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"SURVEY §2 keys not implemented: $missing")
  }

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name runs on sf0.001") {
      val df = fn(spark, sf0001)
      assert(df.columns.nonEmpty)
      assert(df.count() >= 0)
    }
  }

  test("events-family queries are non-degenerate on the regenerated fixtures") {
    // The 2026-08-13 fixture regeneration silently changed the events
    // timestamp type once already (SURVEY §7.4 R6 tombstone). Exact
    // values are the oracle gate's job; THIS pins that every query
    // touching events/dates still finds non-trivial matches — a future
    // fixture change that leaves them runnable-but-empty (degenerate
    // joins, zero sessions) must fail here, not pass as "rows >= 0".
    val floors = Map(
      "q_join_range" -> 3L, "q_join_asof" -> 1000L,
      "q_stream_session" -> 900L, "q_stream_tumbling" -> 800L,
      "q_stream_sliding" -> 2000L, "q_stream_dedup" -> 1000L,
      "q_win_sessionize" -> 10L, "q_win_leadlag" -> 1000L,
      "q_win_sliding" -> 1000L, "q_stream_join" -> 800L,
      "q_agg_rollup" -> 100L, "q_agg_cube" -> 100L, "q_agg_gsets" -> 100L,
      "q_agg_approxdistinct" -> 5L, "q_fn_json" -> 5L,
      "q_sub_scalar" -> 100L, "q_sub_in" -> 100L, "q_sql_cte" -> 100L,
      "q_join_salted" -> 4L, "q_sync_upsert" -> 8L, "q_scan_sql_view" -> 25L)
    val low = floors.flatMap { case (q, floor) =>
      val n = SparkEntry.queries(q)(spark, sf0001).count()
      if (n < floor) Some(s"$q: $n < $floor") else None
    }
    assert(low.isEmpty, s"degenerate events-family results: ${low.mkString("; ")}")
  }

  test("q_win_funnel: depth spread is non-degenerate and chain times are ordered") {
    val rows = SparkEntry.queries("q_win_funnel")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val depths = rows.map(_.getAs[Long]("depth")).toSet
    assert(depths.size >= 2, s"funnel collapsed to depths $depths")
    rows.foreach { r =>
      val (t1, t2, t3) = (r.getAs[java.time.LocalDateTime]("t1"),
        r.getAs[java.time.LocalDateTime]("t2"),
        r.getAs[java.time.LocalDateTime]("t3"))
      if (t2 != null) assert(t1 != null && t2.isAfter(t1))
      if (t3 != null) assert(t2 != null && t3.isAfter(t2) &&
        !t3.isAfter(t1.plusHours(72)))
    }
  }

  test("q_sim_mrl: exact rescoring, and the coarse stage genuinely prunes") {
    val mrl = SparkEntry.queries("q_sim_mrl")(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("score"))).toSet
    val exact = SparkEntry.queries("q_sim_topk")(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("score"))).toSet
    // every MRL hit carries the EXACT full-width score (stage 2 is not
    // approximate), so any pair also in the brute-force top-5 must agree
    val exactByPair = exact.map(t => (t._1, t._2) -> t._3).toMap
    mrl.foreach { case (p, n, s) =>
      exactByPair.get((p, n)).foreach(es => assert(es == s, s"($p,$n)")) }
    // recall floor on the isotropic worst-case fixture: at least half of
    // the true top-5 pairs survive the 16-dim coarse cut
    val hits = mrl.map(t => (t._1, t._2))
      .intersect(exact.map(t => (t._1, t._2)))
    assert(hits.size * 2 >= exact.size,
      s"MRL recall collapsed: ${hits.size}/${exact.size}")
  }

  test("q_sample_reservoir: exactly k rows, nested under a larger k") {
    val docs = Tables(spark, sf0001, "documents")
      .withColumn("h", org.apache.spark.sql.functions.expr(
        "CAST(conv(substr(md5(text), 1, 15), 16, 10) AS BIGINT)"))
    def topK(k: Int): Set[Long] = docs
      .orderBy(org.apache.spark.sql.functions.col("h"),
        org.apache.spark.sql.functions.col("doc_id"))
      .limit(k).select("doc_id").collect().map(_.getLong(0)).toSet
    val served = SparkEntry.queries("q_sample_reservoir")(spark, sf0001)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(served.size == 100)
    assert(served == topK(100))
    // growing k only ADDS documents (the nested-sample property)
    assert(topK(100).subsetOf(topK(200)))
  }

  test("q_win_transitions: complete per-user chains, no self-invented types") {
    val rows = SparkEntry.queries("q_win_transitions")(spark, sf0001).collect()
    val types = Set("view", "click", "purchase", "signup", "error")
    assert(rows.nonEmpty && rows.length <= types.size * types.size)
    rows.foreach { r =>
      assert(types(r.getAs[String]("from_type")) && types(r.getAs[String]("to_type")))
      assert(r.getAs[Long]("n_transitions") >= r.getAs[Long]("n_users"))
    }
    // total transitions = total events - one per user (each chain loses
    // exactly its last event as a "from")
    val ev = Tables(spark, sf0001, "events")
    val expected = ev.count() - ev.select("user_id").distinct().count()
    assert(rows.map(_.getAs[Long]("n_transitions")).sum == expected)
  }

  test("q_dedup_containment: subsumption is real and self-free") {
    val rows = SparkEntry.queries("q_dedup_containment")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("min_container") != r.getAs[Long]("doc_id"))
      assert(r.getAs[Long]("n_containers") >= 1L)
    }
  }

  test("q_agg_hashgroup has the Q1 group structure") {
    val rows = SparkEntry.queries("q_agg_hashgroup")(spark, sf0001).collect()
    assert(rows.length >= 4 && rows.length <= 6)
    assert(rows.map(_.getAs[Double]("sum_qty")).forall(_ > 0))
  }

  test("q_join_cross is exactly |region| x |nation|") {
    assert(SparkEntry.queries("q_join_cross")(spark, sf0001).count() == 125)
  }

  test("q_limit_topk returns exactly 20 rows in descending revenue") {
    val rev = SparkEntry.queries("q_limit_topk")(spark, sf0001)
      .collect().map(_.getAs[Double]("revenue"))
    assert(rev.length == 20)
    assert(rev.zip(rev.tail).forall { case (a, b) => a >= b })
  }

  test("q_sim_topk: 10 probes x 5 neighbors, scores within [-1, 1] desc per probe") {
    val rows = SparkEntry.queries("q_sim_topk")(spark, sf0001).collect()
    assert(rows.length == 50)
    rows.groupBy(_.getAs[Long]("probe_id")).foreach { case (_, g) =>
      val scores = g.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
      assert(scores.forall(s => s >= -1.0 && s <= 1.0))
    }
  }

  test("q_stream_session: every session spans >= its event count - sane bounds") {
    val rows = SparkEntry.queries("q_stream_session")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val start = r.getAs[java.time.LocalDateTime]("s_start")
      val end = r.getAs[java.time.LocalDateTime]("s_end")
      assert(!end.isBefore(start.plusMinutes(30)))
    }
  }

  test("q_agg_approxdistinct: HLL estimate within 10% of exact") {
    SparkEntry.queries("q_agg_approxdistinct")(spark, sf0001).collect().foreach { r =>
      assert(r.getAs[Long]("exact_users") > 0)
      assert(r.getAs[Boolean]("approx_ok"))
    }
  }

  test("q_dedup_exact keeps every distinct text exactly once") {
    val docs = Tables(spark, sf0001, "documents")
    val expected = docs.select("text").distinct().count()
    assert(SparkEntry.queries("q_dedup_exact")(spark, sf0001).count() == expected)
  }

  test("q_pack_shards: every shard within total/16 + one max doc of budget") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q_pack_shards")(spark, sf0001).collect()
    assert(rows.length == 16, s"proportional split must fill all 16 shards at sf0.001")
    val toks = rows.map(_.getAs[Long]("n_tokens"))
    val total = toks.sum
    val maxDoc = Tables(spark, sf0001, "documents")
      .select(max(size(split(col("text"), " ")))).head().getInt(0).toLong
    // proportional assignment: a shard overshoots its budget by at most
    // the one doc that straddles its boundary
    assert(toks.forall(_ <= total / 16 + maxDoc),
      s"unbalanced shards: ${toks.mkString(",")} (budget ${total / 16}, maxDoc $maxDoc)")
    // shards cover the corpus in doc_id order, no gaps or overlaps
    val ranges = rows.sortBy(_.getAs[Long]("shard"))
      .map(r => (r.getAs[Long]("first_doc"), r.getAs[Long]("last_doc")))
    ranges.sliding(2).foreach { case Array((_, aLast), (bFirst, _)) =>
      assert(aLast < bFirst, s"shard ranges must be disjoint ascending: $ranges")
    case _ => ()
    }
  }

  test("q_sample_mixture caps only over-represented strata; rate 1M keeps all") {
    val rows = SparkEntry.queries("q_sample_mixture")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (orig, rate, kept) = (r.getAs[Long]("n_orig"),
        r.getAs[Long]("rate_ppm"), r.getAs[Long]("n_kept"))
      assert(kept <= orig)
      if (rate == 1000000L) assert(kept == orig, s"rate=1M must keep all: $r")
      else assert(kept < orig, s"rate<1M must drop something here: $r")
    }
    // The fixture's majority language must actually be downsampled.
    assert(rows.exists(_.getAs[Long]("rate_ppm") < 1000000L))
  }

  test("q_text_boilerplate agrees with a direct string-keyed recompute") {
    import org.apache.spark.sql.functions._
    // Same semantics, passage STRINGS as the key (no md5 compression):
    // catches any slicing/hash-key plumbing bug in the declared query.
    val p = Tables(spark, sf0001, "documents")
      .withColumn("t", split(col("text"), " "))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, (size(t)+7) DIV 8 - 1), " +
          "i -> concat_ws(' ', slice(t, i*8+1, 8)))")).as("ps"))
      .withColumn("n_tok", size(split(col("ps"), " ")).cast("bigint"))
    val freq = p.select("doc_id", "ps").distinct()
      .groupBy("ps").agg(count(lit(1)).as("nd"))
    val direct = p.join(freq, "ps").groupBy("doc_id")
      .agg(count(lit(1)).as("n_passages"),
        sum(when(col("nd") >= 2, 1).otherwise(0)).cast("bigint").as("n_boiler"),
        sum(when(col("nd") >= 2, 0L).otherwise(col("n_tok"))).cast("bigint")
          .as("n_kept_tok"))
      .orderBy("doc_id").collect().map(_.toString).toSeq
    val declared = SparkEntry.queries("q_text_boilerplate")(spark, sf0001)
      .collect().map(_.toString).toSeq
    assert(declared == direct)
    // And the signal is non-trivial on the self-similar fixture.
    assert(declared.nonEmpty)
  }

  test("q_graph_pagerank: mass conserved, degrees consistent, hubs outrank leaves") {
    val pr = SparkEntry.queries("q_graph_pagerank")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pr.nonEmpty)
    // rank mass is conserved across iterations (symmetric graph, no
    // dangling nodes): sum = 1 up to the 12-dp contribution rounding
    assert(math.abs(pr.map(_._3).sum - 1.0) < 1e-6)
    // degree column agrees with the degree-distribution query
    val dist = SparkEntry.queries("q_graph_degree")(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fromPr = pr.groupBy(_._2).map { case (d, xs) => d -> xs.length.toLong }
    assert(fromPr == dist)
    // the max-degree node must outrank every degree-1 node
    val hub = pr.maxBy(_._2)
    pr.filter(_._2 == 1L).foreach { leaf =>
      assert(hub._3 > leaf._3, s"hub $hub does not outrank leaf $leaf")
    }
  }

  test("q_agg_hllmerge: sharded-union estimate equals the one-shot sketch estimate") {
    Tables(spark, sf0001, "events").createOrReplaceTempView("graft_hll_spec_ev")
    val merged = spark.sql(
      """SELECT event_type, hll_sketch_estimate(hll_union_agg(sk)) AS est FROM (
           SELECT event_type, user_id % 8 AS shard, hll_sketch_agg(user_id) AS sk
           FROM graft_hll_spec_ev GROUP BY event_type, shard)
         GROUP BY event_type ORDER BY event_type""").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val oneShot = spark.sql(
      """SELECT event_type, hll_sketch_estimate(hll_sketch_agg(user_id)) AS est
         FROM graft_hll_spec_ev GROUP BY event_type ORDER BY event_type""").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged == oneShot,
      s"sketch union is not lossless: merged=$merged oneShot=$oneShot")
  }

  test("q_agg_theta: sketch set algebra is exact below retention; audience is sane") {
    val r = SparkEntry.queries("q_agg_theta")(spark, sf0001).head()
    assert(r.getAs[Boolean]("sketch_ok"))
    val exact = r.getAs[Long]("exact_aud")
    val users = Tables(spark, sf0001, "events")
      .select("user_id").distinct().count()
    assert(exact >= 0 && exact <= users)
    // direct sketch-vs-exact agreement (theta in exact mode at this scale)
    Tables(spark, sf0001, "events").createOrReplaceTempView("graft_theta_spec")
    val est = spark.sql(
      """WITH sk AS (SELECT event_type, theta_sketch_agg(user_id) AS sk
           FROM graft_theta_spec GROUP BY event_type)
         SELECT theta_sketch_estimate(theta_difference(
                  theta_intersection(c.sk, p.sk), e.sk)) AS est
         FROM sk c, sk p, sk e
         WHERE c.event_type = 'click' AND p.event_type = 'purchase'
           AND e.event_type = 'error'""").head().getLong(0)
    assert(est == exact, s"theta not exact below retention: $est vs $exact")
  }

  test("q_graph_triangles: per-node counts equal a brute-force replay") {
    import org.apache.spark.sql.functions._
    val declared = SparkEntry.queries("q_graph_triangles")(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(declared.nonEmpty && declared.values.sum > 0)
    // brute force on the same threshold-30 edge definition
    val d = Tables(spark, sf0001, "documents").select(col("doc_id"), col("lang"),
      array_sort(array_distinct(split(col("text"), " "))).as("toks"))
    val a = d.select(col("doc_id").as("da"), col("lang"), col("toks").as("ta"))
    val b = d.select(col("doc_id").as("db"), col("lang").as("lb"), col("toks").as("tb"))
    val edges = a.join(b, col("lang") === col("lb") && col("da") < col("db"))
      .where(expr("sorted_intersect_size(ta, tb) >= 30"))
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = edges.flatMap(e => Seq(e, (e._2, e._1)))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    val brute = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    for ((x, y) <- edges; z <- adj(x).intersect(adj(y)); if z > y)
      Seq(x, y, z).foreach(n => brute(n) += 1)
    assert(declared == brute.toMap, s"declared=$declared brute=$brute")
  }

  test("q_graph_linkpred: predictions are non-edges with true common-neighbor counts") {
    import org.apache.spark.sql.functions._
    val preds = SparkEntry.queries("q_graph_linkpred")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("common")))
    assert(preds.nonEmpty && preds.length <= 20)
    val d = Tables(spark, sf0001, "documents").select(col("doc_id"), col("lang"),
      array_sort(array_distinct(split(col("text"), " "))).as("toks"))
    val edges = d.select(col("doc_id").as("da"), col("lang"), col("toks").as("ta"))
      .join(d.select(col("doc_id").as("db"), col("lang").as("lb"), col("toks").as("tb")),
        col("lang") === col("lb") && col("da") < col("db"))
      .where(expr("sorted_intersect_size(ta, tb) >= 30"))
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val adj = edges.toSeq.flatMap(e => Seq(e, (e._2, e._1)))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    preds.foreach { case (b, c, common) =>
      assert(!edges.contains((b, c)), s"($b,$c) is already an edge")
      assert(adj(b).intersect(adj(c)).size.toLong == common, s"($b,$c)")
    }
    // the plan's top-20 must be a TakeOrderedAndProject, not a global sort
    val plan = SparkEntry.queries("q_graph_linkpred")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
  }

  test("q_ts_cohort: offset-0 counts the whole cohort; retention never grows past it") {
    val rows = SparkEntry.queries("q_ts_cohort")(spark, sf0001).collect()
      .map(r => (r.getAs[java.time.LocalDateTime]("cohort_wk"),
        r.getAs[Long]("week_offset"), r.getAs[Long]("users")))
    assert(rows.nonEmpty)
    val byCohort = rows.groupBy(_._1)
    byCohort.foreach { case (c, rs) =>
      val base = rs.find(_._2 == 0L).map(_._3)
        .getOrElse(fail(s"cohort $c has no offset-0 row"))
      rs.foreach { case (_, off, users) =>
        assert(users <= base, s"cohort $c offset $off: $users > base $base")
        assert(off >= 0L)
      }
    }
    // Every distinct user is counted exactly once across offset-0 cells.
    val distinctUsers = Tables(spark, sf0001, "events")
      .select("user_id").distinct().count()
    assert(rows.filter(_._2 == 0L).map(_._3).sum == distinctUsers)
  }

  test("q_ts_gapfill: per-user series is contiguous daily and preserves event totals") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("q_ts_gapfill")(spark, sf0001)
    val perUser = df.groupBy("user_id")
      .agg(count(lit(1)).as("n_days"),
        (datediff(max(col("day")), min(col("day"))) + 1).as("span"),
        sum(col("n_events")).as("total"))
      .collect()
    assert(perUser.nonEmpty)
    perUser.foreach { r =>
      assert(r.getAs[Long]("n_days") == r.getAs[Int]("span").toLong,
        s"user ${r.get(0)}: series not contiguous")
    }
    val evTotals = Tables(spark, sf0001, "events").groupBy("user_id")
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n")).toMap
    perUser.foreach { r =>
      assert(r.getAs[Long]("total") == evTotals(r.getLong(0)),
        s"user ${r.get(0)}: gap-fill lost/invented events")
    }
  }

  test("q_ts_ffill: carried value equals a per-user replay of purchases") {
    val rows = SparkEntry.queries("q_ts_ffill")(spark, sf0001).collect()
    val ev = Tables(spark, sf0001, "events")
      .select("event_id", "user_id", "ts", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getAs[java.time.LocalDateTime]("ts"), r.getString(3), r.getDouble(4)))
    assert(rows.length == ev.length)
    // Replay: walk each user's events in (ts, event_id) order carrying the
    // last purchase value; must equal the declared window output.
    val expect = ev.groupBy(_._2).iterator.flatMap { case (_, es) =>
      var carry: Option[Double] = None
      def micros(t: java.time.LocalDateTime): Long =
        t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000L
      es.sortBy(e => (micros(e._3), e._1)).map { e =>
        if (e._4 == "purchase") carry = Some(e._5)
        e._1 -> carry
      }.toSeq
    }.toMap
    rows.foreach { r =>
      val got = if (r.isNullAt(4)) None else Some(r.getDouble(4))
      assert(got == expect(r.getLong(0)), s"event ${r.getLong(0)}")
    }
    // the signal is non-trivial: some rows carry, some precede any purchase
    assert(rows.exists(_.isNullAt(4)) && rows.exists(!_.isNullAt(4)))
  }

  test("q_ts_resample: OHLC invariants hold and event counts are conserved") {
    val rows = SparkEntry.queries("q_ts_resample")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (o, h, l, c) = (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(l <= o && o <= h, s"open outside [low, high]: $r")
      assert(l <= c && c <= h, s"close outside [low, high]: $r")
    }
    assert(rows.map(_.getAs[Long]("n")).sum ==
      Tables(spark, sf0001, "events").count())
  }

  test("q_ts_rolling: 6h counts equal a per-user replay with an interval two-pointer") {
    val rows = SparkEntry.queries("q_ts_rolling")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getAs[java.time.LocalDateTime]("ts"), r.getAs[Long]("n6h")))
    def micros(t: java.time.LocalDateTime): Long =
      t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000L
    val expect = rows.groupBy(_._2).iterator.flatMap { case (_, es) =>
      val sorted = es.sortBy(e => micros(e._3))
      sorted.map { e =>
        val lo = micros(e._3) - 6L * 3600 * 1000000
        e._1 -> sorted.count(x => micros(x._3) >= lo && micros(x._3) <= micros(e._3)).toLong
      }.toSeq
    }.toMap
    rows.foreach { r => assert(r._4 == expect(r._1), s"event ${r._1}") }
    // window genuinely varies (sparse vs dense periods)
    assert(rows.map(_._4).distinct.length > 3)
  }

  test("q_ts_changepoint: one row per type; the argmax beats every other day's |cusum|") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q_ts_changepoint")(spark, sf0001).collect()
    val types = Tables(spark, sf0001, "events")
      .select("event_type").distinct().count()
    assert(rows.length == types)
    // replay: recompute every day's cusum per type and confirm the pick
    val daily = Tables(spark, sf0001, "events")
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).cast("timestamp_ntz").as("day"))
      .agg(sum(col("value").cast("decimal(18,6)")).as("d"))
      .collect()
      .map(r => (r.getString(0), r.getAs[java.time.LocalDateTime]("day"),
        r.getDecimal(2)))
    rows.foreach { r =>
      val t = r.getString(0)
      val ds = daily.filter(_._1 == t).sortBy(_._2.toString)
      val sn = ds.map(_._3.doubleValue).sum
      var sk = 0.0
      val cusums = ds.zipWithIndex.map { case ((_, day, d), i) =>
        sk += d.doubleValue
        day -> (sk - (i + 1) * sn / ds.length)
      }
      val best = cusums.maxBy { case (_, c) => math.abs(c) }
      // replay float order differs slightly from the engine's — allow ties
      // within 1e-6 but the picked day's |cusum| must be within that of max
      val picked = cusums.toMap.apply(r.getAs[java.time.LocalDateTime]("change_day"))
      assert(math.abs(picked) >= math.abs(best._2) - 1e-6,
        s"$t: picked $picked vs best $best")
    }
  }

  test("q_sample_balanced: every language keeps exactly the min class size") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q_sample_balanced")(spark, sf0001).collect()
    val classes = Tables(spark, sf0001, "documents")
      .groupBy("lang").agg(count(lit(1)).as("c")).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("c")).toMap
    assert(rows.length == classes.size)
    val k = classes.values.min
    rows.foreach(r => assert(r.getAs[Long]("n_docs") == k, r.toString))
    // the floor class is non-trivially smaller than the largest one
    assert(classes.values.max > k)
  }

  test("q_ts_outliers: flagged rows genuinely exceed the robust threshold; few of them") {
    val rows = SparkEntry.queries("q_ts_outliers")(spark, sf0001).collect()
    val total = Tables(spark, sf0001, "events").count()
    assert(rows.length < total / 10, "more than 10% outliers — not robust")
    rows.foreach { r =>
      val (v, med, mad, z) = (r.getDouble(2), r.getDouble(3), r.getDouble(4),
        r.getDouble(5))
      assert(math.abs(v - med) > 3 * 1.4826 * mad)
      assert(math.abs(z) > 3.0 - 1e-9, s"event ${r.getLong(0)}: |z|=$z <= 3")
    }
  }

  test("q_text_redact: placeholders land, clean docs untouched, redaction idempotent") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q_text_redact")(spark, sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_email"), r.getAs[Long]("n_ip"),
          r.getAs[Long]("n_phone"), r.getAs[String]("red_md5")))).toMap
    // enriched docs carry exactly one email + one ip (and a phone for
    // doc_id % 4 == 0); clean docs (doc_id % 5 == 4) carry none and
    // their redacted text IS the original text
    val origMd5 = Tables(spark, sf0001, "documents")
      .select(col("doc_id"), md5(col("text")).as("m")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { case (d, (ne, ni, np, m)) =>
      if (d % 5 == 4) {
        assert((ne, ni, np) == ((0L, 0L, 0L)), s"clean doc $d got redactions")
        assert(m == origMd5(d), s"clean doc $d text changed")
      } else {
        assert(ne == 1L && ni == 1L, s"doc $d: emails=$ne ips=$ni")
        assert(np == (if (d % 4 == 0) 1L else 0L), s"doc $d: phones=$np")
        assert(m != origMd5(d), s"doc $d not redacted")
      }
    }
    // idempotence: a second redaction pass over already-redacted text
    // finds nothing (the placeholders match no pattern)
    assert(!"<EMAIL>".matches(".*@.*") && !"<IP>".exists(_.isDigit))
  }

  test("q_join_asof_nearest: never farther than the one-sided backward answer") {
    val nearest = SparkEntry.queries("q_join_asof_nearest")(spark, sf0001).collect()
      .map(r => r.getAs[Long]("event_id") ->
        Option(r.getAs[java.lang.Long]("delta_us")).map(_.toLong)).toMap
    // the nearest pick must be at most as far as the backward carry
    // (purchases at or before the click), for every click that has one —
    // and both signs must occur (the fixture interleaves purchases)
    val ev = Tables(spark, sf0001, "events")
      .select("event_id", "user_id", "ts", "event_type").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getAs[java.time.LocalDateTime]("ts"), r.getString(3)))
    def us(t: java.time.LocalDateTime) =
      t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000L
    val purchases: Map[Long, Seq[Long]] = ev.filter(_._4 == "purchase")
      .groupBy(_._2).map { case (u, rs) => u -> rs.map(r => us(r._3)).toSeq }
    var neg = 0; var pos = 0
    ev.filter(_._4 == "click").foreach { case (eid, u, ts, _) =>
      val d = nearest(eid)
      val before = purchases.getOrElse(u, Seq.empty).filter(_ <= us(ts))
      if (before.nonEmpty) {
        val back = us(ts) - before.max
        assert(d.isDefined && math.abs(d.get) <= back,
          s"click $eid: nearest ${d} farther than backward $back")
      }
      d.foreach(v => if (v < 0) neg += 1 else pos += 1)
    }
    assert(neg > 0 && pos > 0, s"degenerate sign split: neg=$neg pos=$pos")
  }

  test("q_graph_bfs: hop distances equal a scalar BFS replay on the same edge set") {
    import org.apache.spark.sql.functions._
    val declared = SparkEntry.queries("q_graph_bfs")(spark, sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("dist")).toMap
    assert(declared.nonEmpty && declared.values.max >= 1L,
      "degenerate fixture: BFS never left the source")
    // brute force on the same threshold-28 edge definition
    val d = Tables(spark, sf0001, "documents").select(col("doc_id"), col("lang"),
      array_sort(array_distinct(split(col("text"), " "))).as("toks"))
    val edges = d.select(col("doc_id").as("da"), col("lang"), col("toks").as("ta"))
      .join(d.select(col("doc_id").as("db"), col("lang").as("lb"), col("toks").as("tb")),
        col("lang") === col("lb") && col("da") < col("db"))
      .where(expr("sorted_intersect_size(ta, tb) >= 28"))
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = edges.flatMap(e => Seq(e, (e._2, e._1)))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
      .withDefaultValue(Set.empty[Long])
    val src = edges.flatMap(e => Seq(e._1, e._2)).min
    val dist = scala.collection.mutable.Map(src -> 0L)
    var frontier = Set(src)
    for (hop <- 1 to 3) {
      frontier = frontier.flatMap(adj).filterNot(dist.contains)
      frontier.foreach(n => dist(n) = hop.toLong)
    }
    assert(declared == dist.toMap,
      s"declared=${declared.size} nodes, replay=${dist.size} nodes")
  }

  test("q_join_interval: pair counts equal a gaps-and-islands + naive overlap replay") {
    val declared = SparkEntry.queries("q_join_interval")(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("ua"), r.getAs[Long]("ub")) ->
        r.getAs[Long]("n_concurrent")).toMap
    assert(declared.nonEmpty && declared.values.max >= 2L,
      "degenerate fixture: no user pair with 2+ concurrent sessions")
    // scalar sessionization with Spark's session_window merge rule (an
    // event extends the session while ts < current end = last + 30 min),
    // then the naive all-pairs half-open overlap count the bucket join
    // replaces
    val ev = Tables(spark, sf0001, "events").select("user_id", "ts").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[java.time.LocalDateTime]("ts")))
    val sessions = ev.groupBy(_._1).toSeq.flatMap { case (u, rows) =>
      val ts = rows.map(_._2).sortBy(t => (t.toLocalDate.toEpochDay, t.toLocalTime.toNanoOfDay))
      val out = scala.collection.mutable.ArrayBuffer[(Long, java.time.LocalDateTime, java.time.LocalDateTime)]()
      var start = ts.head
      var end = ts.head.plusMinutes(30)
      for (t <- ts.tail) {
        if (t.isBefore(end)) end = t.plusMinutes(30)
        else { out += ((u, start, end)); start = t; end = t.plusMinutes(30) }
      }
      out += ((u, start, end))
      out.toSeq
    }
    val brute = scala.collection.mutable.Map[(Long, Long), Long]().withDefaultValue(0L)
    for (a <- sessions; b <- sessions
         if a._1 < b._1 && a._2.isBefore(b._3) && b._2.isBefore(a._3))
      brute((a._1, b._1)) += 1
    assert(declared == brute.toMap,
      s"declared=${declared.size} pairs sum=${declared.values.sum}, " +
        s"replay=${brute.size} pairs sum=${brute.values.sum}")
  }
}
