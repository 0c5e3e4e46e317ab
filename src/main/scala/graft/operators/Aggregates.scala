package graft.operators

import graft.{Dets, GraftSession, QueryFamily, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import Dets._

/** SURVEY.md §2.D — aggregations.
  *
  * All money sums go through DECIMAL(12,2) casts so aggregation is exact
  * integer arithmetic — order-independent, hence identical across Spark's
  * partial+final HashAggregate and DuckDB's single-node agg (§7.4 R2).
  * Averages are computed as double(exact-decimal sum)/count: one IEEE
  * division, same in both engines. Intrinsically inexact stats (stddev,
  * corr) are rounded to 4 dp and never used as sort keys.
  *
  * Scale: groupBy on low-cardinality keys is a map-side partial agg +
  * tiny shuffle; distinct aggs rewrite to Expand + two-phase agg; the
  * high-cardinality path at 100 TB is `approx_count_distinct` (HLL) —
  * declared below without an oracle (sketches aren't cross-engine).
  */
object Aggregates extends QueryFamily {

  private def revenue = money(col("l_extendedprice")) *
    frac(lit(1.0) - col("l_discount"))

  /** Distributed-ECDF prefix sums over a distinct-value grid `merged`
    * (one row per v, exact count columns `counts`): bucket v by a
    * division-only deterministic range rule (min/max ride a one-row
    * broadcast; width = span DIV nBkt + 1, so no product of the span
    * can overflow), accumulate per-bucket partial prefix sums under a
    * bkt-PARTITIONED window (parallel — the grid never passes through
    * one partition), and fold the offsets from a second window over
    * the ≤ nBkt+1 per-bucket TOTALS — the tiny pass. Adds `f_<c>`
    * running totals per count column; bit-identical to a global sorted
    * scan (prefix sums are associative), which is what lets the
    * oracles certify consumers with a plain cumulative window. Shared
    * by q_agg_ks and q_agg_mannwhitney; PlanSpec pins that no global
    * value-ordered window survives in either plan.
    */
  private[graft] def distributedPrefix(merged: DataFrame, counts: Seq[String],
      nBkt: Int = 32, grpCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grp = grpCols.map(col)
    val bounds =
      if (grpCols.isEmpty)
        merged.agg(min("v").as("vlo"), max("v").as("vhi"))
      else merged.groupBy(grp: _*).agg(min("v").as("vlo"), max("v").as("vhi"))
    val withBounds =
      if (grpCols.isEmpty) merged.crossJoin(broadcast(bounds))
      else merged.join(broadcast(bounds), grpCols)
    val bucketed = withBounds.withColumn("bkt", expr(
      s"CAST((v - vlo) DIV ((vhi - vlo) DIV $nBkt + 1) AS INT)"))
    val wIn = Window.partitionBy(grp :+ col("bkt"): _*).orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wOff = Window.partitionBy(grp: _*).orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bSums = counts.map(c => sum(c).as(s"b_$c"))
    val offs = bucketed.groupBy(grp :+ col("bkt"): _*).agg(bSums.head, bSums.tail: _*)
      .select((grp :+ col("bkt")) ++ counts.map(c =>
        coalesce(sum(s"b_$c").over(wOff), lit(0L)).as(s"o_$c")): _*)
    counts.foldLeft(bucketed.join(broadcast(offs), grpCols :+ "bkt")) { (df, c) =>
      df.withColumn(s"f_$c", sum(c).over(wIn) + col(s"o_$c"))
    }
  }

  /** The two-sample grid of q_agg_ks and q_agg_mannwhitney: per
    * comparison type `vs` (purchase, signup, view) and distinct value `v`
    * (micro-units), the click count `c1` and the `vs` count `c2`, 0 where
    * absent. ONE events pass for ALL pairs: the click grid fans out under
    * a 3-row broadcast vs-tag and full-joins each comparison type's grid;
    * the prefix windows then partition by (vs, bkt) — same statistic, a
    * third of the jobs (the per-pair form re-scanned events six times and
    * was measured 2.6× slower at sf0.1).
    */
  private def clickVsGrid(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables(s, dir, "events")
      .selectExpr("event_type",
        "CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v")
    val others = Seq("purchase", "signup", "view")
    val c1 = ev.where(col("event_type") === "click")
      .groupBy("v").agg(count(lit(1)).as("c1"))
    val c2 = ev.where(col("event_type").isin(others: _*))
      .groupBy(col("event_type").as("vs"), col("v"))
      .agg(count(lit(1)).as("c2"))
    broadcast(others.toDF("vs")).crossJoin(c1)
      .select(col("vs"), col("v"), col("c1"))
      .join(c2, Seq("vs", "v"), "full")
      .na.fill(0L, Seq("c1", "c2"))
  }

  /** The fixture languages, one pivot column each. */
  private val pivotLangs = Seq("de", "en", "es", "fr", "zh")

  /** Doc counts per source with one column per language, 0 where none. */
  private def langPivot(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .groupBy("source")
      .pivot("lang", pivotLangs)
      .count()
      .na.fill(0)

  /** Spark SQL body of q_agg_rollup and q_agg_cube; `groupClause` is the
    * grouping sets. The oracle states the same text apart (rollupOracle).
    */
  private def rollupSql(groupClause: String): String =
    "SELECT n_name, o_orderpriority, count(*) AS n, " +
      "CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total, " +
      "CAST(GROUPING(n_name) AS BIGINT) AS g_nation, " +
      "CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio " +
      "FROM orders JOIN customer ON o_custkey = c_custkey " +
      "JOIN nation ON c_nationkey = n_nationkey " +
      s"GROUP BY $groupClause " +
      "ORDER BY g_nation, g_prio, n_name NULLS FIRST, o_orderpriority NULLS FIRST"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Flagship — TPC-H Q1 shape (also SparkEntry.entry).
    "q_agg_hashgroup" -> ((s, dir) =>
      Tables(s, dir, "lineitem")
        .where(col("l_shipdate") <= tsLit("2000-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dbl(sum(money(col("l_quantity")))).as("sum_qty"),
          dbl(sum(money(col("l_extendedprice")))).as("sum_base_price"),
          dbl(sum(revenue)).as("sum_disc_price"),
          dbl(sum(revenue * frac(lit(1.0) + col("l_tax")))).as("sum_charge"),
          (dbl(sum(money(col("l_quantity")))) / count(lit(1))).as("avg_qty"),
          (dbl(sum(money(col("l_extendedprice")))) / count(lit(1))).as("avg_price"),
          (dbl(sum(frac(col("l_discount")))) / count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    // Grand-total aggregate, no keys.
    "q_agg_global" -> ((s, dir) =>
      Tables(s, dir, "lineitem").agg(
        count(lit(1)).as("n_rows"),
        dbl(sum(money(col("l_quantity")))).as("sum_qty"),
        dbl(sum(revenue)).as("sum_revenue"),
        min("l_shipdate").as("first_ship"),
        max("l_shipdate").as("last_ship"))),

    // Distinct aggregates (Expand + two-phase agg under the hood).
    "q_agg_distinct" -> ((s, dir) =>
      Tables(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          big(sum_distinct(col("l_linenumber"))).as("sum_distinct_lines"))
        .orderBy("l_returnflag")),

    // ROLLUP with grouping() markers. SQL entry: the DataFrame
    // rollup("a","b") + grouping("a") combination trips Spark's
    // ambiguous-attribute detection after a multi-join (analyzer false
    // positive); GROUP BY ROLLUP through the SQL parser builds the same
    // Aggregate(Expand(...)) plan without the dataset-id check.
    "q_agg_rollup" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(rollupSql("ROLLUP(n_name, o_orderpriority)"))
    }),

    // CUBE, same shape.
    "q_agg_cube" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(rollupSql("CUBE(n_name, o_orderpriority)"))
    }),

    // Explicit GROUPING SETS — SQL entry (no DSL equivalent).
    "q_agg_gsets" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("SELECT n_name, c_mktsegment, count(*) AS n, " +
        "CAST(grouping(n_name) AS BIGINT) AS g_n, " +
        "CAST(grouping(c_mktsegment) AS BIGINT) AS g_s " +
        "FROM customer JOIN nation ON c_nationkey = n_nationkey " +
        "GROUP BY GROUPING SETS ((n_name, c_mktsegment), (n_name), (c_mktsegment), ()) " +
        "ORDER BY g_n, g_s, n_name NULLS FIRST, c_mktsegment NULLS FIRST")
    }),

    // Statistical aggregates — inexact by nature: rounded, never sort keys.
    "q_agg_stats" -> ((s, dir) =>
      Tables(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
          round(var_samp(col("l_quantity")), 4).as("var_qty"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qp"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("cov_qp"))
        .orderBy("l_returnflag")),

    // max_by/min_by with a deterministic tiebreak: the ordering value is
    // price*1e6+key — an integer-valued double < 2^53, so exact, unique.
    "q_agg_minmaxby" -> ((s, dir) => {
      val tie = dbl(money(col("o_totalprice")) * lit(1000000L) + col("o_orderkey"))
      Tables(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
          max_by(col("o_orderkey"), tie).as("top_order"),
          min_by(col("o_orderkey"), tie).as("bottom_order"),
          max(col("o_totalprice")).as("max_price"),
          min(col("o_totalprice")).as("min_price"))
        .orderBy("o_orderpriority")
    }),

    // Ordered list agg — emitted as a joined string (no array columns in
    // output: engines serialize lists differently, §7.4 R4).
    "q_agg_collect" -> ((s, dir) => {
      val sup = Tables(s, dir, "supplier"); val n = Tables(s, dir, "nation")
      sup.join(n, sup("s_nationkey") === n("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_sup"),
          concat_ws("|", sort_array(collect_list(col("s_name")))).as("suppliers"))
        .orderBy("n_name")
    }),

    // Filtered aggregates (FILTER clause analog).
    "q_agg_filtered" -> ((s, dir) =>
      Tables(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
          count(lit(1)).as("n_all"),
          count(when(col("o_orderstatus") === "F", lit(1))).as("n_f"),
          dbl(sum(when(col("o_orderstatus") === "O", money(col("o_totalprice"))))).as("total_open"))
        .orderBy("o_orderpriority")),

    // Exact interpolated percentiles.
    "q_agg_percentile" -> ((s, dir) => {
      val c = Tables(s, dir, "customer"); val o = Tables(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"))
        .groupBy("c_mktsegment")
        .agg(
          round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"))
        .orderBy("c_mktsegment")
    }),

    // HLL sketch — the 100 TB distinct-count path. The raw estimates
    // aren't cross-engine (different sketches), so the declared output is
    // the exact count plus a "sketch within 15% of exact" boolean that BOTH
    // engines' HLLs satisfy — giving this operator a real oracle instead of
    // a rows-only check. 15% = 3x the default rsd (0.05), a ~3-sigma bound:
    // at 10% a group could legitimately land outside a ~2-sigma bound and
    // flip the boolean even though both engines are correct.
    "q_agg_approxdistinct" -> ((s, dir) =>
      Tables(s, dir, "events")
        .groupBy("event_type")
        .agg(approx_count_distinct(col("user_id")).as("approx_users"),
          countDistinct(col("user_id")).as("exact_users"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users"))
            <= col("exact_users") * 0.15).as("approx_ok"))
        .orderBy("event_type")),

    // EXACT distinct at scale without the countDistinct expand: the
    // bitmap-index trick (Doris/ClickHouse bitmap aggregates, roaring
    // bitmaps) expressed in pure Spark SQL — dense int keys chunk into
    // 32-bit words (bucket = key div 32), a map-side-combining bit_or
    // folds each (group, bucket) to ONE long mask, and the distinct
    // count is sum(bit_count(mask)). Intermediate state is
    // O(groups x keyspace/32) longs — vs countDistinct's shuffle of
    // every (group, key) pair — and both shuffles partial-aggregate.
    // The oracle is the SEMANTIC check (count DISTINCT), not an
    // arithmetic mirror: the bitmap path must reproduce the true count
    // exactly, which is the operator's whole claim.
    "q_agg_bitmap" -> ((s, dir) =>
      Tables(s, dir, "events")
        .groupBy(col("event_type"), expr("user_id div 32").as("bucket"))
        .agg(bit_or(expr(
          "shiftleft(CAST(1 AS BIGINT), CAST(user_id % 32 AS INT))"))
          .as("mask"))
        .groupBy("event_type")
        .agg(big(sum(bit_count(col("mask")))).as("n_users"))
        .orderBy("event_type")),

    // MERGEABLE sketches — the property approx_count_distinct's scalar
    // output lacks: a Datasketches HLL per (event_type, shard) is a
    // PRE-AGGREGATED table a 100 TB pipeline materializes once per
    // partition/day, and any rollup (here: across shards to the type
    // level) is hll_union_agg over the stored sketches — no rescan of the
    // raw corpus, ever. DuckDB has no mergeable-sketch SQL surface, so
    // the oracle is the same exact-count + in-bounds-boolean contract as
    // q_agg_approxdistinct; the MERGE correctness (union estimate ==
    // whole-table sketch estimate) is pinned engine-side in spec.
    "q_agg_hllmerge" -> ((s, dir) => {
      Tables(s, dir, "events").createOrReplaceTempView("graft_hll_ev")
      s.sql("""
        WITH shard_sketches AS (
          SELECT event_type, user_id % 8 AS shard,
                 hll_sketch_agg(user_id) AS sk
          FROM graft_hll_ev GROUP BY event_type, shard),
        rolled AS (
          SELECT event_type,
                 hll_sketch_estimate(hll_union_agg(sk)) AS merged_users
          FROM shard_sketches GROUP BY event_type),
        exact AS (
          SELECT event_type, count(DISTINCT user_id) AS exact_users
          FROM graft_hll_ev GROUP BY event_type)
        SELECT exact.event_type, exact_users,
               (abs(merged_users - exact_users) <= exact_users * 0.15) AS merge_ok
        FROM exact JOIN rolled ON exact.event_type = rolled.event_type
        ORDER BY event_type""")
    }),

    // Theta sketches — DISTINCT-SET ALGEBRA at sketch size: "users who
    // clicked AND purchased but never errored" computed by
    // intersecting/differencing per-type sketches, not by re-scanning
    // events per combination. At 100 TB the per-type sketches are a tiny
    // stored table; every audience combination is sketch math. Theta
    // stays exact below its retention (4096 >> fixture user counts), but
    // the declared contract is the scale-safe exact-count +
    // in-bounds-boolean, like the other sketch rows.
    "q_agg_theta" -> ((s, dir) => {
      Tables(s, dir, "events").createOrReplaceTempView("graft_theta_ev")
      s.sql("""
        WITH sk AS (
          SELECT event_type, theta_sketch_agg(user_id) AS sk
          FROM graft_theta_ev GROUP BY event_type),
        audience AS (
          SELECT theta_sketch_estimate(
                   theta_difference(
                     theta_intersection(c.sk, p.sk), e.sk)) AS approx_aud
          FROM sk c, sk p, sk e
          WHERE c.event_type = 'click' AND p.event_type = 'purchase'
            AND e.event_type = 'error'),
        exact AS (
          SELECT count(*) AS exact_aud FROM (
            SELECT user_id FROM graft_theta_ev WHERE event_type = 'click'
            INTERSECT
            SELECT user_id FROM graft_theta_ev WHERE event_type = 'purchase'
            EXCEPT
            SELECT user_id FROM graft_theta_ev WHERE event_type = 'error'))
        SELECT exact_aud,
               (abs(approx_aud - exact_aud) <= greatest(exact_aud, 10) * 0.15)
                 AS sketch_ok
        FROM exact, audience""")
    }),

    // KLL quantile sketches — the MERGEABLE dual of approx_percentile:
    // one KLL per (priority, shard) merged to the priority level, exactly
    // the stored-sketch rollup a percentile dashboard runs at 100 TB.
    // Contract: merged-sketch median within 5% of the exact interpolated
    // median (per-engine bound, like q_agg_approxquantile).
    "q_agg_kllmerge" -> ((s, dir) => {
      Tables(s, dir, "orders").createOrReplaceTempView("graft_kll_ord")
      s.sql("""
        WITH shard AS (
          SELECT o_orderpriority, o_orderkey % 8 AS sh,
                 kll_sketch_agg_double(o_totalprice) AS sk
          FROM graft_kll_ord GROUP BY o_orderpriority, sh),
        merged AS (
          SELECT o_orderpriority,
                 kll_sketch_get_quantile_double(kll_merge_agg_double(sk), 0.5)
                   AS kll_med
          FROM shard GROUP BY o_orderpriority),
        exact AS (
          SELECT o_orderpriority,
                 percentile(o_totalprice, 0.5) AS exact_med,
                 count(*) AS n_orders
          FROM graft_kll_ord GROUP BY o_orderpriority)
        SELECT exact.o_orderpriority, round(exact_med, 4) AS exact_med,
               n_orders,
               (abs(kll_med - exact_med) <= exact_med * 0.05) AS kll_ok
        FROM exact JOIN merged ON exact.o_orderpriority = merged.o_orderpriority
        ORDER BY o_orderpriority""")
    }),

    // Approximate quantile sketch (Greenwald-Khanna / t-digest family):
    // each engine runs its OWN sketch and asserts it lands within 5% of
    // its exact median — sketches are not cross-engine comparable, the
    // in-bounds boolean is.
    "q_agg_approxquantile" -> ((s, dir) =>
      Tables(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(expr("approx_percentile(o_totalprice, 0.5D, 1000)").as("approx_med"),
          expr("percentile(o_totalprice, 0.5D)").as("exact_med"),
          count(lit(1)).as("n_orders"))
        .select(col("o_orderpriority"), round(col("exact_med"), 4).as("exact_med"),
          col("n_orders"),
          (abs(col("approx_med") - col("exact_med"))
            <= col("exact_med") * 0.05).as("approx_ok"))
        .orderBy("o_orderpriority")),

    // Exact top-k contribution per group via the custom
    // TypedImperativeAggregate (functions.TopKSum): an O(k) heap buffer
    // rides the partial/merge path, so no window or row shuffle — the
    // "revenue share of the 10 biggest orders" question at 100 TB ships
    // 10 longs per (partition, group).
    "q_agg_topksum" -> ((s, dir) => {
      graft.functions.TopKSum.register(s)
      Tables(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(expr("topk_sum(o_totalprice, 10)").as("top10_total"),
          dbl(sum(money(col("o_totalprice")))).as("all_total"),
          count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    }),

    // Frequent-items (heavy-hitter) sketch — the fourth sketch family
    // next to hll/theta/kll: corpus token heavy hitters via the custom
    // TypedImperativeAggregate (functions.FreqSketch, Datasketches
    // ItemsSketch) whose O(maxMapSize) buffer rides the partial/merge
    // path where an exact groupBy ships a row per distinct token. The
    // contract is the q_agg_hllmerge shape: exact counts (the
    // oracle-checked side) plus the sketch's NO_FALSE_NEGATIVES bounds
    // containing them — exact below eviction (fixture vocab 31 <<
    // 0.75 * 64), bounds-true at any scale. The 1-row sketch map
    // broadcasts onto the top-10 exact rows.
    "q_agg_freqitems" -> ((s, dir) => {
      graft.functions.FreqSketch.register(s)
      val toks = Tables(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
      val fm = toks.agg(expr("freq_sketch(tok, 64)").as("fm"))
      // try_element_at, not element_at: under ANSI mode a token evicted
      // from the sketch map (possible once the corpus vocab exceeds the
      // eviction threshold — the regime this query exists for) must yield
      // null and flow to sketch_ok=false, not crash the query
      val hit = expr("try_element_at(fm, tok)")
      toks.groupBy("tok").agg(count(lit(1)).as("n_occurs"))
        .orderBy(col("n_occurs").desc, col("tok")).limit(10)
        .crossJoin(broadcast(fm))
        .select(col("tok"), col("n_occurs"),
          (hit.isNotNull && hit.getField("lb") <= col("n_occurs") &&
            col("n_occurs") <= hit.getField("ub")).as("sketch_ok"))
        .orderBy(col("n_occurs").desc, col("tok"))
    }),

    // Count-Min sketch (Cormode-Muthukrishnan) — the point-frequency
    // sketch the hll/theta/kll/freq quartet was missing: a d=4 x w=256
    // counter grid where every event increments cell (j, h_j(user)) and
    // a key's estimate is the MIN over its d cells — one-sided error
    // (never under-counts), O(d·w) state regardless of key cardinality.
    // Served as the top-10 users' exact count beside their CM estimate.
    // Scale: the grid build is one groupBy over (j, bucket) — 1024 cells
    // whatever the corpus size — and lookups join the tiny grid
    // broadcast; hashes are the engine-portable md5-prefix integers the
    // text family already uses, so the oracle rebuilds the identical
    // grid. Deterministic: integer cells, (count DESC, user_id) top-10.
    "q_agg_countmin" -> ((s, dir) => {
      def lanes(col0: String) = (0 to 3).map(j =>
        s"struct($j AS j, CAST(conv(substr(md5(concat('$j:', CAST($col0 AS STRING))), 1, 15), 16, 10) AS BIGINT) % 256 AS b")
        .mkString("array(", "), ", "))")
      val ev = Tables(s, dir, "events").select(col("user_id"))
      val cells = ev.select(explode(expr(lanes("user_id"))).as("c"))
        .groupBy(col("c.j").as("j"), col("c.b").as("b"))
        .agg(count(lit(1)).as("cnt"))
      val truth = ev.groupBy("user_id").agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("user_id")).limit(10)
      truth.select(col("user_id"), col("exact_n"),
          explode(expr(lanes("user_id"))).as("c"))
        .select(col("user_id"), col("exact_n"),
          col("c.j").as("j"), col("c.b").as("b"))
        .join(broadcast(cells), Seq("j", "b"))
        .groupBy("user_id", "exact_n")
        .agg(min(col("cnt")).as("cm_n"))
        .select(col("user_id"), col("exact_n"), col("cm_n"))
        .orderBy("user_id")
    }),

    // Footer-stats aggregate pushdown: COUNT/MIN/MAX answered from
    // parquet ROW-GROUP METADATA — the scan reads zero data pages
    // (`PushedAggregation` in the plan, required in-query). At 100 TB
    // this is the difference between "count the lake" as a metadata
    // listing and as a full scan. Works only for whole-file aggregates
    // (no filters, no grouping by data columns) — exactly the "how many
    // rows / what's the key range" operational query. Aggregate
    // pushdown is a DataSource V2 feature: THIS scan is routed through
    // the V2 parquet source (useV1SourceList) with pushdown on, and the
    // frame is rebuilt from the optimized plan made under those confs,
    // so every later action runs the pushed aggregate. The confs are
    // restored after; flipping them mid-flight only ever changes OTHER
    // queries' plans to equally-correct ones.
    "q_agg_footerstats" -> ((s, dir) => GraftSession.withConfs(s,
        "spark.sql.parquet.aggregatePushdown" -> "true",
        "spark.sql.sources.useV1SourceList" -> "") {
      // key/count only: parquet footer stats push for integral types;
      // timestamp min/max stays un-pushable (logical-type caveats), so
      // including one would silently fall back to a full scan
      val df = Tables(s, dir, "orders")
        .agg(count(lit(1)).as("n_rows"),
          min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"),
          min("o_custkey").as("min_cust"), max("o_custkey").as("max_cust"))
      val plan = df.queryExecution.executedPlan.toString
      require(plan.contains("PushedAggregation: [COUNT(*)"),
        s"aggregate did not push into the parquet footer:\n${plan.take(3000)}")
      Bridge.ofRows(s, df.queryExecution.optimizedPlan)
    }),

    // Histogram binning: fixed-width buckets over order value — the
    // distribution-profiling pass of data exploration; bucket boundaries
    // are exact double ops (floor of identical IEEE values) so the
    // binning is engine-independent.
    "q_agg_histogram" -> ((s, dir) =>
      Tables(s, dir, "orders")
        .withColumn("bucket",
          least(greatest(floor(col("o_totalprice") / 60000.0), lit(0.0)), lit(9.0))
            .cast("bigint"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_orders"),
          dbl(sum(money(col("o_totalprice")))).as("sum_value"))
        .orderBy("bucket")),

    // Pivot to a wide table (source × lang doc counts).
    "q_agg_pivot" -> ((s, dir) => langPivot(s, dir).orderBy("source")),

    // Unpivot (melt) the pivoted table back to long form — the wide->long
    // inverse, a Generator-backed Expand under the hood.
    "q_agg_unpivot" -> ((s, dir) =>
      langPivot(s, dir)
        .unpivot(Array(col("source")), pivotLangs.map(col).toArray, "lang", "n_docs")
        .orderBy("source", "lang")),

    // Per-group OLS trend (regr_slope's exact-sum formulation): the
    // value trend per event_type over time — the metric-drift pass of
    // any monitoring stack. The five sufficient statistics (n, Σx, Σy,
    // Σxy, Σx²) aggregate as EXACT integers, so the shuffle is
    // order-independent; the one float boundary is the final slope
    // division, the same IEEE op sequence in both engines, served
    // floor-scaled like the BM25 micros. The slope is shift-invariant
    // in x, so x is CENTERED per group (x − the group's min hour, a
    // tiny broadcast join) before the products accumulate: with a raw
    // hours-since-2000 x (~2.3e5 by 2026) per-row x·y products reach
    // ~1e14 and Σxy would cross 2^63 at only ~1e5 rows/group — a
    // silent wrap in non-ANSI Spark vs an error in DuckDB (the r17
    // advice). Centered, xc ≤ the group's time span in hours, so the
    // capacity bound is n·span_h·y_max < 2^63 — ~2e7 rows/group at a
    // 30-day span, through sf100. Past that the accumulators widen to
    // DECIMAL(38,0) on both engines; the FORM (exact integer sums, one
    // IEEE chain) is what survives 100 TB, where built-in regr_slope's
    // shuffle-order double accumulation is nondeterministic across
    // engines AND across runs.
    "q_agg_linreg" -> ((s, dir) => {
      val x = "(unix_micros(CAST(ts AS TIMESTAMP)) - " +
        "unix_micros(TIMESTAMP '2000-01-01 00:00:00')) DIV 3600000000"
      val y = "CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)"
      val e = Tables(s, dir, "events")
        .selectExpr("event_type", s"$x AS x", s"$y AS y")
      val mins = e.groupBy("event_type").agg(min("x").as("x0"))
      e.join(broadcast(mins), "event_type")
        .selectExpr("event_type", "x0", "x - x0 AS xc", "y")
        .groupBy("event_type")
        .agg(min("x0").as("x0"), count(lit(1)).as("n"),
          sum("xc").as("sx"), sum("y").as("sy"),
          sum(expr("xc * y")).as("sxy"), sum(expr("xc * xc")).as("sxx"))
        .withColumn("slope_micros", expr(
          "CAST(floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - " +
            "CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / " +
            "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - " +
            "CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * 1000000.0) AS BIGINT)"))
        .select("event_type", "x0", "n", "sx", "sy", "sxy", "sxx",
          "slope_micros")
        .orderBy("event_type")
    }),

    // Chi-square independence cells for lang × source over documents —
    // the "is my corpus mix confounded" audit. Served PER CELL
    // (observed, expected micros, contribution micros) rather than as
    // one summed statistic: each cell's float chain is a deterministic
    // function of exact integers, where a global double SUM would be
    // shuffle-order-dependent — the same discipline that bans raw
    // double aggregation everywhere else. Zero cells materialize via
    // the margins' cross join (both margin tables are tiny broadcasts).
    // Each count (o, n, r, c) casts to DOUBLE EXACTLY (counts < 2^53),
    // and the deviation/denominator products are then identical IEEE
    // multiplies in both engines — BIGINT products like o·n or n·r·c
    // would cross 2^63 once n exceeds ~3e9 docs, wrapping silently in
    // non-ANSI Spark vs erroring in DuckDB (the r17 advice).
    // JOIN-SIZE ESTIMATION by CountMin inner product (the AMS /
    // Cormode–Muthukrishnan optimizer-stats technique): |A ⋈ B| =
    // Σ_k a(k)·b(k) estimated as min over lanes of the sketch inner
    // product Σ_b cmA[j][b]·cmB[j][b] — the decision a planner makes
    // from KB-scale sketches WITHOUT touching either table again. The
    // one-sided guarantee (estimate ≥ exact, every colliding pair only
    // ADDS) is a THEOREM the key serves as a boolean beside the
    // published error bound est − exact ≤ (e/w)·N₁·N₂ at w = 4096 (wide
    // enough that the estimate lands the right order of magnitude —
    // measured ~3-4× at sf0.1 — where a 256-wide sketch read 59×; the
    // width knob IS the estimator story). Everything is
    // exact integers (cell counts, products ≤ N₁·N₂ ≈ 1.5e10); the
    // same md5 lane hashes as q_agg_countmin, mirrored verbatim.
    "q_agg_joinest" -> ((s, dir) => {
      def lanes(col0: String) = (0 to 3).map(j =>
        s"struct($j AS j, CAST(conv(substr(md5(concat('$j:', " +
          s"CAST($col0 AS STRING))), 1, 15), 16, 10) AS BIGINT) % 4096 AS b")
        .mkString("array(", "), ", "))")
      def sketch(df: DataFrame, keyCol: String) = df
        .select(explode(expr(lanes(keyCol))).as("c"))
        .groupBy(col("c.j").as("j"), col("c.b").as("b"))
        .agg(count(lit(1)).as("cnt"))
      val ev = Tables(s, dir, "events").select(col("user_id"))
      val o = Tables(s, dir, "orders").select(col("o_custkey"))
      val est = sketch(ev, "user_id")
        .join(sketch(o, "o_custkey").withColumnRenamed("cnt", "cnt2"),
          Seq("j", "b"))
        .groupBy("j").agg(sum(expr("cnt * cnt2")).as("ip"))
        .agg(min("ip").as("cm_est"))
      val exact = ev.join(o, ev("user_id") === o("o_custkey"))
        .agg(count(lit(1)).as("exact_n"))
      val ns = ev.agg(count(lit(1)).as("n1"))
        .crossJoin(o.agg(count(lit(1)).as("n2")))
      exact.crossJoin(broadcast(est)).crossJoin(broadcast(ns))
        .selectExpr("n1", "n2", "exact_n", "cm_est",
          "cm_est >= exact_n AS overestimates",
          "CAST(cm_est - exact_n AS DOUBLE) <= " +
            "2.72D / 4096.0D * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) " +
            "AS within_bound")
    }),

    // Benford first-digit audit over order values — the classic
    // fabricated-data / unit-mix screen (a synthetic generator or a
    // currency mixup shifts the leading-digit law visibly): observed
    // counts per leading digit as exact integers, observed share as
    // the exact obs·10⁶ DIV total, Benford's expectation
    // round(log10(1+1/d)·10⁶) per digit (nine fixed ln calls — the
    // 6-dp law), and the signed deviation. TPC-H prices are uniform-ish
    // (NOT Benford) — the audit's point is measuring the deviation,
    // not asserting conformance. All nine digits materialize via a
    // 9-row spine left-joined to the observed counts (the q_agg_chisq
    // zero-cell discipline): a digit with ZERO observations is exactly
    // the strongest deviation (dev_ppm = −benford_ppm) and must not
    // vanish from the audit.
    "q_agg_benford" -> ((s, dir) =>
      s.range(1, 10).selectExpr("id AS digit")
        .join(Tables(s, dir, "orders")
          .selectExpr(
            "CAST(substr(CAST(CAST(floor(CAST(o_totalprice AS DECIMAL(12,2))) " +
              "AS BIGINT) AS STRING), 1, 1) AS BIGINT) AS digit")
          .groupBy("digit").agg(count(lit(1)).as("n_obs_raw")),
          Seq("digit"), "left")
        .withColumn("n_obs", coalesce(col("n_obs_raw"), lit(0L)))
        .drop("n_obs_raw")
        .crossJoin(broadcast(
          Tables(s, dir, "orders").agg(count(lit(1)).as("total"))))
        .selectExpr("digit", "n_obs",
          "n_obs * 1000000 DIV total AS obs_ppm",
          "CAST(round(log10(1.0D + 1.0D / digit) * 1000000, 0) AS BIGINT) " +
            "AS benford_ppm",
          "n_obs * 1000000 DIV total - " +
            "CAST(round(log10(1.0D + 1.0D / digit) * 1000000, 0) AS BIGINT) " +
            "AS dev_ppm")
        .orderBy("digit")),

    // Poisson bootstrap confidence interval for the per-type mean —
    // THE published uncertainty technique for massive data (resampling
    // n rows with replacement is impossible in one pass; Poisson(1)
    // per-row weights are exchangeable with multinomial resampling and
    // need NO second pass): 32 replicates, each row's replicate weight
    // drawn DETERMINISTICALLY by inverse-CDF of Poisson(1) over the
    // md5(event_id:r) uniform on the 10⁹ grid — the five thresholds
    // are e⁻¹ cumulative masses (published constants, 9-digit
    // fixed-point, attributed: 0.367879441, 0.735758882, 0.919698603,
    // 0.981011843, 0.996340153), so both engines draw identical
    // integer weights and the whole bootstrap is replayable. Each
    // replicate mean is exact integer sums + one IEEE division; the
    // CI is the deterministic rank pick over the 32 replicate means
    // (ranks 2 and 31 ≈ the 5–95% band). Scale: ONE map pass — the
    // 32× explode is map-side, partial aggs combine, nothing shuffles
    // but (type, replicate) cells. AggStatsSpec pins the scalar
    // replay and lo ≤ point ≤ hi.
    "q_agg_bootstrap" -> ((s, dir) => {
      val b = 32
      val rep = Tables(s, dir, "events")
        .selectExpr("event_type", "event_id",
          "CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v")
        .select(col("event_type"), col("event_id"), col("v"),
          explode(expr(s"sequence(0, ${b - 1})")).as("r"))
        .withColumn("u", expr(
          "CAST(conv(substr(md5(concat(CAST(event_id AS STRING), ':', " +
            "CAST(r AS STRING))), 1, 15), 16, 10) AS BIGINT) % 1000000000"))
        .withColumn("w", expr(
          "CASE WHEN u < 367879441 THEN 0 WHEN u < 735758882 THEN 1 " +
            "WHEN u < 919698603 THEN 2 WHEN u < 981011843 THEN 3 " +
            "WHEN u < 996340153 THEN 4 ELSE 5 END"))
        .groupBy("event_type", "r")
        .agg(sum(expr("w * v")).as("sv"), sum("w").as("sw"))
        // sw = 0 (a replicate whose Poisson weights are all zero —
        // probability ~e^-n per cell, reachable only for tiny groups)
        // would compute 0/0: non-ANSI Spark silently nulls the NaN cast
        // where DuckDB ERRORS casting NaN to BIGINT — guard identically
        // in both engines (r19 ADVICE item 1; same guard in the oracle)
        .withColumn("mean_r", expr(
          "CASE WHEN sw = 0 THEN CAST(NULL AS BIGINT) ELSE " +
            "CAST(floor(CAST(sv AS DOUBLE) / CAST(sw AS DOUBLE)) AS BIGINT) END"))
      val wRank = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy(col("mean_r"), col("r"))
      val point = Tables(s, dir, "events")
        .selectExpr("event_type",
          "CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          expr("CAST(floor(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT)")
            .as("mean_micros"))
      rep.withColumn("rn", row_number().over(wRank))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_replicates"),
          min(when(col("rn") === 2, col("mean_r"))).as("boot_lo_micros"),
          min(when(col("rn") === b - 1, col("mean_r"))).as("boot_hi_micros"))
        .join(broadcast(point), "event_type")
        .select("event_type", "n", "n_replicates", "mean_micros",
          "boot_lo_micros", "boot_hi_micros")
        .orderBy("event_type")
    }),

    // Herfindahl–Hirschman concentration of supplier revenue per
    // nation — the market-concentration audit (antitrust's published
    // index, and the data-pipeline question "is one source dominating
    // this slice"): HHI = Σᵢ shareᵢ². Per-supplier revenue sums as
    // EXACT decimal cents then floors to whole dollars (the q_agg_corr
    // lesson: dollars keep the squares small), so total_dollars and
    // sum_sq = Σ dollarsᵢ² are exact integers (int64 to ~3e9 dollars
    // per supplier); the served hhi_ppm is one IEEE chain over them —
    // int64→double conversion is correctly rounded identically in both
    // engines even past 2^53. The supplier→nation attach is two tiny
    // broadcasts; the only corpus-scale work is one lineitem groupBy.
    "q_agg_hhi" -> ((s, dir) => {
      val perSupp = Tables(s, dir, "lineitem")
        .groupBy(col("l_suppkey")).agg(sum(revenue).as("rev"))
        .selectExpr("l_suppkey", "CAST(floor(rev) AS BIGINT) AS dollars")
      val sup = Tables(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))
      val nat = Tables(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))
      perSupp
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_suppliers"),
          sum("dollars").as("total_dollars"),
          sum(expr("dollars * dollars")).as("sum_sq"))
        .selectExpr("n_name", "n_suppliers", "total_dollars", "sum_sq",
          "CAST(floor(CAST(sum_sq AS DOUBLE) / (CAST(total_dollars AS DOUBLE) " +
            "* CAST(total_dollars AS DOUBLE)) * 1000000.0D) AS BIGINT) AS hhi_ppm")
        .orderBy("n_name")
    }),

    // Two-sample Kolmogorov–Smirnov distance between event types'
    // value distributions — the distribution-drift test beside
    // q_agg_ttest's mean test (a mean can hold still while the shape
    // drifts; KS catches it). ENTIRELY exact integers: at each
    // distinct value (micros grid), the ECDF gap |F₁−F₂| compares as
    // the cross-multiplied |c₁·n₂ − c₂·n₁| (no division until the one
    // served scaling), the max is an integer max, and D_micros =
    // maxgap·10⁶ DIV (n₁·n₂) is an integer floor division — a
    // statistic with NO float boundary at all, which not even the
    // linreg family achieves. One union + one value-order window per
    // pair; served for the three click-vs-X pairs. Bounds: the gap
    // compare c·n holds in int64 to ~9e8 rows/type; the served ·10⁶
    // scaling to ~3e6 rows/type — past that the SAME integer statistic
    // widens to DECIMAL(38,0) on both engines (never to doubles).
    // The per-pair ECDF merge runs as the DISTRIBUTED-ECDF plan (the
    // r18 comment's prescription, now the code): the distinct-value
    // grid buckets by a deterministic integer range rule (min/max ride
    // a one-row broadcast), per-bucket partial prefix sums accumulate
    // under a bkt-PARTITIONED window (parallel; the grid never passes
    // through one partition), and the fold offsets come from a second
    // window over the 32 per-bucket TOTALS — the tiny pass. The
    // statistic is bit-identical to a global sorted scan (prefix sums
    // are associative), so the oracle's plain cumulative window
    // certifies it; PlanSpec pins that no value-ordered global
    // window survives in the physical plan.
    "q_agg_ks" -> ((s, dir) => {
      val merged = clickVsGrid(s, dir)
      val totals = merged.groupBy("vs")
        .agg(sum("c1").as("n1"), sum("c2").as("n2"))
      distributedPrefix(merged, Seq("c1", "c2"), grpCols = Seq("vs"))
        .withColumnRenamed("f_c1", "f1").withColumnRenamed("f_c2", "f2")
        .join(broadcast(totals), "vs")
        .groupBy("vs")
        .agg(min("n1").as("n1"), min("n2").as("n2"),
          max(expr("abs(f1 * n2 - f2 * n1)")).as("max_gap"))
        .selectExpr("vs", "n1", "n2", "max_gap",
          "max_gap * 1000000 DIV (n1 * n2) AS d_micros")
        .orderBy("vs")
    }),

    // Mann–Whitney U (Wilcoxon rank-sum) per pair — the nonparametric
    // location test beside q_agg_ttest's parametric mean test and
    // q_agg_ks's shape test: does one event type's value distribution
    // sit systematically above another's? ENTIRELY exact integers up
    // to the one served z chain: on the pooled distinct-value grid,
    // tied values take the average rank, carried as TWICE-average-rank
    // 2F − c + 1 (an exact integer — F the pooled running count
    // through v, c the pooled tie size), so 2R₁ = Σ c₁·(2F − c + 1)
    // and 2U₁ = 2R₁ − n₁(n₁+1) are exact; the tie correction
    // Σ(t³ − t) is an exact integer sum (t³ holds in int64 to
    // t ≈ 2e6 ties per value — past that it widens to DECIMAL(38,0)
    // on both engines). The served z uses the normal approximation
    // with tie-corrected variance — one IEEE chain over the exact
    // integers, floor-scaled micros. Same distributed-ECDF plan as
    // q_agg_ks (shared helper, PlanSpec-pinned); MannWhitneySpec pins
    // the scalar re-derivation and the rank-sum conservation theorem
    // 2R₁ + 2R₂ = n(n+1)·... (both sides' twice-rank-sums total
    // 2·n(n+1)/2).
    "q_agg_mannwhitney" -> ((s, dir) => {
      val merged = clickVsGrid(s, dir).withColumn("c", expr("c1 + c2"))
      distributedPrefix(merged, Seq("c"), grpCols = Seq("vs"))
        .withColumn("rank2", expr("2 * f_c - c + 1"))
        .groupBy("vs")
        .agg(sum("c1").as("n1"), sum("c2").as("n2"),
          sum(expr("c1 * rank2")).as("r1x2"),
          sum(expr("c * (c * c - 1)")).as("tie3"))
        .selectExpr("vs", "n1", "n2",
          "r1x2 - n1 * (n1 + 1) AS u1x2", "tie3")
        .selectExpr("vs", "n1", "n2", "u1x2", "tie3",
          // z = (U1 − n1·n2/2) / sqrt(n1·n2/12·((n+1) − tie3/(n·(n−1))))
          // computed as (2U1 − n1n2) / (2σ): every count casts to
          // DOUBLE exactly below 2^53, then one shared IEEE chain
          "CAST(floor((CAST(u1x2 AS DOUBLE) - CAST(n1 AS DOUBLE) * " +
            "CAST(n2 AS DOUBLE)) / (2.0D * sqrt(" +
            "CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0D * " +
            "(CAST(n1 + n2 + 1 AS DOUBLE) - CAST(tie3 AS DOUBLE) / " +
            "(CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE))))) " +
            "* 1000000.0D) AS BIGINT) AS z_micros")
        .orderBy("vs")
    }),

    // Pearson correlation per group via the exact-sufficient-statistic
    // form (the corr() analog of q_agg_linreg's regr_slope): quantity
    // vs extendedprice per return flag, six exact integer statistics
    // (n, Σx, Σy, Σxy, Σx², Σy²) — x = the whole-unit quantity, y =
    // FLOOR-scaled whole dollars (dollars is what keeps Σy² inside
    // int64 at scale, the q_agg_ttest lesson; cents would overflow at
    // sf0.1's 600k-row groups) — then ONE IEEE chain for the
    // coefficient. Built-in corr() aggregates doubles in shuffle
    // order: nondeterministic across engines and runs; this form is
    // the one that survives 100 TB.
    "q_agg_corr" -> ((s, dir) => {
      Tables(s, dir, "lineitem")
        .selectExpr("l_returnflag",
          "CAST(l_quantity AS BIGINT) AS x",
          "CAST(floor(CAST(l_extendedprice AS DECIMAL(12,2))) AS BIGINT) AS y")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(expr("x * y")).as("sxy"), sum(expr("x * x")).as("sxx"),
          sum(expr("y * y")).as("syy"))
        .withColumn("corr_micros", expr(
          "CAST(floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - " +
            "CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / " +
            "(sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - " +
            "CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * " +
            "sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - " +
            "CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) * 1000000.0D) " +
            "AS BIGINT)"))
        .orderBy("l_returnflag")
    }),

    // Gini coefficient of order value per market segment — the
    // concentration audit beside q_agg_entropy's diversity (is revenue
    // dominated by a few whale orders?): the exact-rank formulation
    // G = (2·Σ i·y_(i) − (n+1)·Σy) / (n·Σy) over cents-exact values
    // with a stated (y, o_orderkey) total order for the rank. The two
    // Σ terms and both num/den are EXACT BIGINTs (bounded ~1e16 at
    // sf0.1 — inside int64 with headroom); the one float boundary is
    // the final division, int64→double conversions being correctly
    // rounded in both engines (the q_agg_linreg chain discipline).
    // ONE shuffle on the segment + the per-segment rank window; at
    // 100 TB the rank-weighted sum is the standard two-pass (histogram
    // or sort) Gini, same exact-integer form.
    "q_agg_gini" -> ((s, dir) => {
      val o = Tables(s, dir, "orders"); val c = Tables(s, dir, "customer")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("c_mktsegment").orderBy(col("y"), col("o_orderkey"))
      o.join(c, o("o_custkey") === c("c_custkey"))
        .select(col("c_mktsegment"), col("o_orderkey"),
          expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)").as("y"))
        .withColumn("i", row_number().over(w).cast("long"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), sum("y").as("sy"),
          sum(expr("i * y")).as("siy"))
        .selectExpr("c_mktsegment", "n", "sy",
          "CAST(floor((2.0D * CAST(siy AS DOUBLE) - " +
            "(CAST(n AS DOUBLE) + 1.0D) * CAST(sy AS DOUBLE)) / " +
            "(CAST(n AS DOUBLE) * CAST(sy AS DOUBLE)) * 1000000.0D) " +
            "AS BIGINT) AS gini_micros")
        .orderBy("c_mktsegment")
    }),

    // Shannon entropy of the language mix per source — the
    // diversity/concentration audit beside q_agg_chisq's independence
    // cells (a crawl source collapsing to one language is the
    // data-mix drift every corpus dashboard watches). Discipline:
    // each cell's −p·ln p term is a deterministic function of the two
    // exact integers (cnt, total), rounded to micros PER CELL, and
    // the per-source entropy is then an exact INTEGER sum of those
    // micros — order-independent across the shuffle, where a raw
    // double Σ −p·ln p would be shuffle-order nondeterministic (the
    // q_agg_linreg/ttest law applied to an information measure). Also
    // serves the exact integer max-entropy denominator ln(n_langs)
    // micros so the consumer can form the normalized evenness without
    // another pass. Both margins are Heaps-small; one (source, lang)
    // count shuffle, the totals ride a broadcast.
    "q_agg_entropy" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val c = d.groupBy("source", "lang").agg(count(lit(1)).as("cnt"))
      val t = c.groupBy("source").agg(sum("cnt").as("total"),
        count(lit(1)).as("n_langs"))
      c.join(broadcast(t), "source")
        .withColumn("term_micros", expr(
          "CAST(round(-(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)) * " +
            "ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)) * 1000000, 0) " +
            "AS BIGINT)"))
        .groupBy("source")
        .agg(min("total").as("n_docs"), min("n_langs").as("n_langs"),
          sum("term_micros").as("entropy_micros"),
          min(expr("CAST(round(ln(CAST(n_langs AS DOUBLE)) * 1000000, 0) " +
            "AS BIGINT)")).as("max_entropy_micros"))
        .orderBy("source")
    }),

    "q_agg_chisq" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val obs = d.groupBy("lang", "source").agg(count(lit(1)).as("o"))
      val rl = d.groupBy("lang").agg(count(lit(1)).as("r"))
      val cs = d.groupBy("source").agg(count(lit(1)).as("c"))
      val n = d.agg(count(lit(1)).as("n"))
      broadcast(rl).crossJoin(broadcast(cs)).crossJoin(broadcast(n))
        .join(obs, Seq("lang", "source"), "left")
        .withColumn("o", coalesce(col("o"), lit(0L)))
        .selectExpr("lang", "source", "o AS n_obs",
          "CAST(floor(CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / " +
            "CAST(n AS DOUBLE) * 1000000.0) AS BIGINT) AS n_exp_micros",
          "CAST(floor((CAST(o AS DOUBLE) * CAST(n AS DOUBLE) - " +
            "CAST(r AS DOUBLE) * CAST(c AS DOUBLE)) * " +
            "(CAST(o AS DOUBLE) * CAST(n AS DOUBLE) - " +
            "CAST(r AS DOUBLE) * CAST(c AS DOUBLE)) / " +
            "(CAST(n AS DOUBLE) * CAST(r AS DOUBLE) * CAST(c AS DOUBLE)) " +
            "* 1000000.0) AS BIGINT) AS contrib_micros")
        .orderBy("lang", "source")
    }),

    // Welch's two-sample t per segment (finished vs open order prices) —
    // the A/B-readout pass, built the q_agg_linreg way: per-group
    // sufficient statistics (n, Σy, Σy²) aggregate as EXACT integers
    // (y = whole dollars via floor on the exact DECIMAL — decimal→long
    // CASTS disagree across engines, truncate vs round, so floor is
    // explicit), then ONE identical IEEE chain for the statistic. Σy²
    // stays ≤ ~4·10¹⁵ at sf0.1 (dollar scaling is what keeps the exact
    // path in BIGINT; cents would overflow and force a decimal→double
    // boundary DuckDB rounds differently past 2^53 — the r12 lesson).
    "q_agg_ttest" -> ((s, dir) => {
      val y = "CAST(floor(CAST(o_totalprice AS DECIMAL(12,2))) AS BIGINT)"
      val o = Tables(s, dir, "orders"); val c = Tables(s, dir, "customer")
      val stats = o.join(c, o("o_custkey") === c("c_custkey"))
        .where(col("o_orderstatus").isin("F", "O"))
        .selectExpr("c_mktsegment", "o_orderstatus", s"$y AS y")
        .groupBy("c_mktsegment", "o_orderstatus")
        .agg(count(lit(1)).as("n"), sum("y").as("sy"),
          sum(expr("y * y")).as("syy"))
      val f = stats.where(col("o_orderstatus") === "F")
        .select(col("c_mktsegment"), col("n").as("n_f"),
          col("sy").as("sy_f"), col("syy").as("syy_f"))
      val oo = stats.where(col("o_orderstatus") === "O")
        .select(col("c_mktsegment").as("seg_o"), col("n").as("n_o"),
          col("sy").as("sy_o"), col("syy").as("syy_o"))
      f.join(oo, col("c_mktsegment") === col("seg_o"))
        .selectExpr("c_mktsegment", "n_f", "n_o",
          "CAST(floor(CAST(sy_f AS DOUBLE) / CAST(n_f AS DOUBLE) * 1000000.0) AS BIGINT) AS mean_f_micros",
          "CAST(floor(CAST(sy_o AS DOUBLE) / CAST(n_o AS DOUBLE) * 1000000.0) AS BIGINT) AS mean_o_micros",
          "CAST(floor((CAST(sy_f AS DOUBLE) / CAST(n_f AS DOUBLE) - " +
            "CAST(sy_o AS DOUBLE) / CAST(n_o AS DOUBLE)) / " +
            "sqrt((CAST(syy_f AS DOUBLE) - CAST(sy_f AS DOUBLE) * CAST(sy_f AS DOUBLE) / CAST(n_f AS DOUBLE)) / " +
            "(CAST(n_f AS DOUBLE) - 1.0) / CAST(n_f AS DOUBLE) + " +
            "(CAST(syy_o AS DOUBLE) - CAST(sy_o AS DOUBLE) * CAST(sy_o AS DOUBLE) / CAST(n_o AS DOUBLE)) / " +
            "(CAST(n_o AS DOUBLE) - 1.0) / CAST(n_o AS DOUBLE)) * 1000000.0) AS BIGINT) AS t_micros")
        .orderBy("c_mktsegment")
    }),

    // Mode (most frequent value) per group, deterministic tiebreak
    // (count desc, then value asc) — two-phase: hash-agg the counts
    // (partial+final, shuffle on both keys), then a per-group top-1
    // window over the already-tiny counted table. Never a sort of raw
    // rows: at 100 TB the heavy shuffle is the count agg, which
    // partial-aggregates map-side.
    "q_agg_mode" -> ((s, dir) => {
      val o = Tables(s, dir, "orders"); val c = Tables(s, dir, "customer")
      val counted = o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(count(lit(1)).as("n_orders"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("c_mktsegment")
        .orderBy(col("n_orders").desc, col("o_orderpriority"))
      counted.withColumn("rk", row_number().over(w)).where(col("rk") === 1)
        .select(col("c_mktsegment"), col("o_orderpriority").as("mode_priority"),
          col("n_orders"))
        .orderBy("c_mktsegment")
    }),
  )

  /** DuckDB's two-sample grid (per comparison type `other` and value
    * `v`: click count c1, other count c2), computed apart from
    * clickVsGrid; the q_agg_ks and q_agg_mannwhitney oracles extend it. */
  private val clickVsGridOracle = "WITH ev AS (SELECT event_type, " +
    "CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v FROM events), " +
    "pr AS (SELECT * FROM (VALUES ('purchase'), ('signup'), ('view')) p(other)), " +
    "c1 AS (SELECT v, CAST(count(*) AS BIGINT) AS c1 FROM ev " +
    "WHERE event_type = 'click' GROUP BY v), " +
    "c2 AS (SELECT pr.other, v, CAST(count(*) AS BIGINT) AS c2 " +
    "FROM ev JOIN pr ON ev.event_type = pr.other GROUP BY pr.other, v), " +
    "grid AS (SELECT pr.other, g.v, coalesce(c1.c1, 0) AS c1, " +
    "coalesce(c2.c2, 0) AS c2 FROM pr " +
    "JOIN (SELECT DISTINCT other, v FROM " +
    "(SELECT pr2.other, c1.v FROM c1, pr pr2 " +
    "UNION ALL SELECT other, v FROM c2)) g ON g.other = pr.other " +
    "LEFT JOIN c1 ON c1.v = g.v " +
    "LEFT JOIN c2 ON c2.other = g.other AND c2.v = g.v), "

  private val decSum = "CAST(SUM(CAST(%s AS DECIMAL(12,2))) AS DOUBLE)"

  /** DuckDB's ROLLUP/CUBE recompute; `groupClause` is the grouping sets. */
  private def rollupOracle(groupClause: String): String =
    "SELECT n_name, o_orderpriority, count(*) AS n, " +
      decSum.format("o_totalprice") + " AS total, " +
      "CAST(GROUPING(n_name) AS BIGINT) AS g_nation, " +
      "CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio " +
      "FROM orders JOIN customer ON o_custkey = c_custkey " +
      "JOIN nation ON c_nationkey = n_nationkey " +
      s"GROUP BY $groupClause " +
      "ORDER BY g_nation, g_prio, n_name NULLS FIRST, o_orderpriority NULLS FIRST"
  private val rev = "CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1.0 - l_discount AS DECIMAL(4,2))"

  def oracles: Map[String, String] = Map(
    // identical md5-prefix lane hashes rebuild the identical 4x256 grid
    "q_agg_countmin" -> ("WITH cells AS (SELECT j, " +
      "CAST(concat('0x', substr(md5(concat(CAST(j AS VARCHAR), ':', CAST(user_id AS VARCHAR))), 1, 15)) AS BIGINT) % 256 AS b, " +
      "count(*) AS cnt FROM events, range(4) t(j) GROUP BY 1, 2), " +
      "truth AS (SELECT user_id, count(*) AS exact_n FROM events " +
      "GROUP BY user_id ORDER BY exact_n DESC, user_id LIMIT 10), " +
      "lk AS (SELECT user_id, exact_n, j, " +
      "CAST(concat('0x', substr(md5(concat(CAST(j AS VARCHAR), ':', CAST(user_id AS VARCHAR))), 1, 15)) AS BIGINT) % 256 AS b " +
      "FROM truth, range(4) t(j)) " +
      "SELECT lk.user_id, lk.exact_n, min(cells.cnt) AS cm_n " +
      "FROM lk JOIN cells ON lk.j = cells.j AND lk.b = cells.b " +
      "GROUP BY lk.user_id, lk.exact_n ORDER BY lk.user_id"),

    "q_agg_bitmap" -> ("SELECT event_type, " +
      "CAST(count(DISTINCT user_id) AS BIGINT) AS n_users " +
      "FROM events GROUP BY event_type ORDER BY event_type"),

    // identical lane hashes, cell counts, inner products, and bound
    "q_agg_joinest" -> {
      def lanesD(col0: String) = (0 to 3).map(j =>
        s"{'j': $j, 'b': CAST(concat('0x', substr(md5(concat('$j:', " +
          s"CAST($col0 AS VARCHAR))), 1, 15)) AS BIGINT) % 4096}")
        .mkString("[", ", ", "]")
      "WITH ca AS (SELECT c.j, c.b, CAST(count(*) AS BIGINT) AS cnt FROM " +
      s"(SELECT unnest(${lanesD("user_id")}, recursive := true) FROM events) c " +
      "GROUP BY c.j, c.b), " +
      "cb AS (SELECT c.j, c.b, CAST(count(*) AS BIGINT) AS cnt2 FROM " +
      s"(SELECT unnest(${lanesD("o_custkey")}, recursive := true) FROM orders) c " +
      "GROUP BY c.j, c.b), " +
      "ip AS (SELECT ca.j, CAST(sum(ca.cnt * cb.cnt2) AS BIGINT) AS ip " +
      "FROM ca JOIN cb ON ca.j = cb.j AND ca.b = cb.b GROUP BY ca.j), " +
      "est AS (SELECT CAST(min(ip) AS BIGINT) AS cm_est FROM ip), " +
      "ex AS (SELECT CAST(count(*) AS BIGINT) AS exact_n FROM events e " +
      "JOIN orders o ON e.user_id = o.o_custkey), " +
      "ns AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM events) AS n1, " +
      "(SELECT CAST(count(*) AS BIGINT) FROM orders) AS n2) " +
      "SELECT n1, n2, exact_n, cm_est, cm_est >= exact_n AS overestimates, " +
      "CAST(cm_est - exact_n AS DOUBLE) <= " +
      "2.72 / 4096.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) AS within_bound " +
      "FROM ex, est, ns"
    },

    // identical digit extraction, integer shares, fixed-point law
    "q_agg_benford" -> ("WITH d AS (SELECT CAST(substr(CAST(" +
      "CAST(floor(CAST(o_totalprice AS DECIMAL(12,2))) AS BIGINT) " +
      "AS VARCHAR), 1, 1) AS BIGINT) AS digit FROM orders), " +
      "sp AS (SELECT CAST(unnest(range(1, 10)) AS BIGINT) AS digit), " +
      "c0 AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM d " +
      "GROUP BY digit), " +
      "c AS (SELECT sp.digit, coalesce(c0.n_obs, CAST(0 AS BIGINT)) AS n_obs " +
      "FROM sp LEFT JOIN c0 USING (digit)), " +
      "t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM d) " +
      "SELECT digit, n_obs, n_obs * 1000000 // total AS obs_ppm, " +
      "CAST(round(log10(1.0 + 1.0 / digit) * 1000000, 0) AS BIGINT) AS benford_ppm, " +
      "n_obs * 1000000 // total - " +
      "CAST(round(log10(1.0 + 1.0 / digit) * 1000000, 0) AS BIGINT) AS dev_ppm " +
      "FROM c, t ORDER BY digit"),

    // identical ECDF grid, identical cross-multiplied integer gaps
    "q_agg_ks" -> (clickVsGridOracle +
      "cum AS (SELECT other, v, " +
      "sum(c1) OVER (PARTITION BY other ORDER BY v) AS f1, " +
      "sum(c2) OVER (PARTITION BY other ORDER BY v) AS f2 FROM grid), " +
      "tot AS (SELECT other, CAST(sum(c1) AS BIGINT) AS n1, " +
      "CAST(sum(c2) AS BIGINT) AS n2 FROM grid GROUP BY other) " +
      "SELECT cum.other AS vs, min(n1) AS n1, min(n2) AS n2, " +
      "CAST(max(abs(f1 * n2 - f2 * n1)) AS BIGINT) AS max_gap, " +
      "CAST(max(abs(f1 * n2 - f2 * n1)) AS BIGINT) * 1000000 // " +
      "(min(n1) * min(n2)) AS d_micros " +
      "FROM cum JOIN tot ON cum.other = tot.other " +
      "GROUP BY cum.other ORDER BY vs"),

    // identical pooled grid, identical twice-average-rank integers,
    // identical tie correction, identical one-chain z
    "q_agg_mannwhitney" -> (clickVsGridOracle +
      "cum AS (SELECT other, v, c1, c1 + c2 AS c, " +
      "sum(c1 + c2) OVER (PARTITION BY other ORDER BY v) AS f FROM grid), " +
      "st AS (SELECT other, CAST(sum(c1) AS BIGINT) AS n1, " +
      "CAST(sum(c - c1) AS BIGINT) AS n2, " +
      "CAST(sum(c1 * (2 * f - c + 1)) AS BIGINT) AS r1x2, " +
      "CAST(sum(c * (c * c - 1)) AS BIGINT) AS tie3 FROM cum GROUP BY other), " +
      "st2 AS (SELECT other, n1, n2, r1x2 - n1 * (n1 + 1) AS u1x2, tie3 FROM st) " +
      "SELECT other AS vs, n1, n2, u1x2, tie3, " +
      "CAST(floor((CAST(u1x2 AS DOUBLE) - CAST(n1 AS DOUBLE) * " +
      "CAST(n2 AS DOUBLE)) / (2.0 * sqrt(" +
      "CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0 * " +
      "(CAST(n1 + n2 + 1 AS DOUBLE) - CAST(tie3 AS DOUBLE) / " +
      "(CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE))))) " +
      "* 1000000.0) AS BIGINT) AS z_micros FROM st2 ORDER BY vs"),

    // identical md5 uniforms, identical e^-1 inverse-CDF thresholds,
    // identical replicate means + rank picks
    "q_agg_bootstrap" -> ("WITH ev AS (SELECT event_type, event_id, " +
      "CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v FROM events), " +
      "rep AS (SELECT event_type, t.r, v, " +
      "CAST(concat('0x', substr(md5(concat(CAST(event_id AS VARCHAR), ':', " +
      "CAST(t.r AS VARCHAR))), 1, 15)) AS BIGINT) % 1000000000 AS u " +
      "FROM ev, range(32) t(r)), " +
      "wt AS (SELECT event_type, r, v, " +
      "CASE WHEN u < 367879441 THEN 0 WHEN u < 735758882 THEN 1 " +
      "WHEN u < 919698603 THEN 2 WHEN u < 981011843 THEN 3 " +
      "WHEN u < 996340153 THEN 4 ELSE 5 END AS w FROM rep), " +
      "mr AS (SELECT event_type, r, CAST(sum(w * v) AS BIGINT) AS sv, " +
      "CAST(sum(w) AS BIGINT) AS sw FROM wt GROUP BY event_type, r), " +
      "m2 AS (SELECT event_type, r, " +
      "CASE WHEN sw = 0 THEN NULL ELSE " +
      "CAST(floor(CAST(sv AS DOUBLE) / CAST(sw AS DOUBLE)) AS BIGINT) END " +
      "AS mean_r FROM mr), " +
      "rk AS (SELECT event_type, mean_r, " +
      "row_number() OVER (PARTITION BY event_type ORDER BY mean_r, r) AS rn " +
      "FROM m2), " +
      "ci AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_replicates, " +
      "min(CASE WHEN rn = 2 THEN mean_r END) AS boot_lo_micros, " +
      "min(CASE WHEN rn = 31 THEN mean_r END) AS boot_hi_micros " +
      "FROM rk GROUP BY event_type), " +
      "pt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, " +
      "CAST(floor(CAST(CAST(sum(v) AS BIGINT) AS DOUBLE) / count(*)) " +
      "AS BIGINT) AS mean_micros FROM ev GROUP BY event_type) " +
      "SELECT ci.event_type, n, n_replicates, mean_micros, " +
      "boot_lo_micros, boot_hi_micros FROM ci JOIN pt USING (event_type) " +
      "ORDER BY event_type"),

    // identical floored per-supplier dollars, exact integer sums,
    // identical one-chain ppm
    "q_agg_hhi" -> ("WITH ps AS (SELECT l_suppkey, " +
      "CAST(floor(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * " +
      "CAST(1.0 - l_discount AS DECIMAL(4,2)))) AS BIGINT) AS dollars " +
      "FROM lineitem GROUP BY l_suppkey) " +
      "SELECT n_name, CAST(count(*) AS BIGINT) AS n_suppliers, " +
      "CAST(sum(dollars) AS BIGINT) AS total_dollars, " +
      "CAST(sum(dollars * dollars) AS BIGINT) AS sum_sq, " +
      "CAST(floor(CAST(CAST(sum(dollars * dollars) AS BIGINT) AS DOUBLE) / " +
      "(CAST(CAST(sum(dollars) AS BIGINT) AS DOUBLE) * " +
      "CAST(CAST(sum(dollars) AS BIGINT) AS DOUBLE)) * 1000000.0) " +
      "AS BIGINT) AS hhi_ppm " +
      "FROM ps JOIN supplier ON l_suppkey = s_suppkey " +
      "JOIN nation ON s_nationkey = n_nationkey " +
      "GROUP BY n_name ORDER BY n_name"),

    // identical six exact statistics, identical IEEE chain
    "q_agg_corr" -> ("WITH b AS (SELECT l_returnflag, " +
      "CAST(l_quantity AS BIGINT) AS x, " +
      "CAST(floor(CAST(l_extendedprice AS DECIMAL(12,2))) AS BIGINT) AS y " +
      "FROM lineitem), " +
      "s AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n, " +
      "CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy, " +
      "CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx, " +
      "CAST(sum(y * y) AS BIGINT) AS syy FROM b GROUP BY l_returnflag) " +
      "SELECT l_returnflag, n, sx, sy, sxy, sxx, syy, " +
      "CAST(floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - " +
      "CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / " +
      "(sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - " +
      "CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * " +
      "sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - " +
      "CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) * 1000000.0) " +
      "AS BIGINT) AS corr_micros " +
      "FROM s ORDER BY l_returnflag"),

    // identical exact-rank sums, identical one-division IEEE chain
    "q_agg_gini" -> ("WITH j AS (SELECT c_mktsegment, o_orderkey, " +
      "CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS y " +
      "FROM orders JOIN customer ON o_custkey = c_custkey), " +
      "rk AS (SELECT c_mktsegment, y, CAST(row_number() OVER " +
      "(PARTITION BY c_mktsegment ORDER BY y, o_orderkey) AS BIGINT) AS i " +
      "FROM j) " +
      "SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n, " +
      "CAST(sum(y) AS BIGINT) AS sy, " +
      "CAST(floor((2.0 * CAST(CAST(sum(i * y) AS BIGINT) AS DOUBLE) - " +
      "(CAST(count(*) AS DOUBLE) + 1.0) * CAST(CAST(sum(y) AS BIGINT) AS DOUBLE)) / " +
      "(CAST(count(*) AS DOUBLE) * CAST(CAST(sum(y) AS BIGINT) AS DOUBLE)) * 1000000.0) " +
      "AS BIGINT) AS gini_micros " +
      "FROM rk GROUP BY c_mktsegment ORDER BY c_mktsegment"),

    // identical per-cell fixed-point terms, identical integer sum
    "q_agg_entropy" -> ("WITH c AS (SELECT source, lang, " +
      "CAST(count(*) AS BIGINT) AS cnt FROM documents GROUP BY source, lang), " +
      "t AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS total, " +
      "CAST(count(*) AS BIGINT) AS n_langs FROM c GROUP BY source) " +
      "SELECT c.source, min(total) AS n_docs, min(n_langs) AS n_langs, " +
      "CAST(sum(CAST(round(-(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)) * " +
      "ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)) * 1000000, 0) " +
      "AS BIGINT)) AS BIGINT) AS entropy_micros, " +
      "CAST(min(CAST(round(ln(CAST(n_langs AS DOUBLE)) * 1000000, 0) " +
      "AS BIGINT)) AS BIGINT) AS max_entropy_micros " +
      "FROM c JOIN t ON c.source = t.source " +
      "GROUP BY c.source ORDER BY c.source"),

    // same exact integer margins, same per-cell IEEE chain
    "q_agg_chisq" -> ("WITH obs AS (SELECT lang, source, " +
      "CAST(count(*) AS BIGINT) AS o FROM documents GROUP BY lang, source), " +
      "rl AS (SELECT lang, CAST(count(*) AS BIGINT) AS r FROM documents GROUP BY lang), " +
      "cs AS (SELECT source, CAST(count(*) AS BIGINT) AS c FROM documents GROUP BY source), " +
      "n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents) " +
      "SELECT rl.lang, cs.source, CAST(coalesce(obs.o, 0) AS BIGINT) AS n_obs, " +
      "CAST(floor(CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / " +
      "CAST(n AS DOUBLE) * 1000000.0) AS BIGINT) AS n_exp_micros, " +
      "CAST(floor((CAST(coalesce(obs.o, 0) AS DOUBLE) * CAST(n AS DOUBLE) - " +
      "CAST(r AS DOUBLE) * CAST(c AS DOUBLE)) * " +
      "(CAST(coalesce(obs.o, 0) AS DOUBLE) * CAST(n AS DOUBLE) - " +
      "CAST(r AS DOUBLE) * CAST(c AS DOUBLE)) / " +
      "(CAST(n AS DOUBLE) * CAST(r AS DOUBLE) * CAST(c AS DOUBLE)) " +
      "* 1000000.0) AS BIGINT) AS contrib_micros " +
      "FROM rl CROSS JOIN cs CROSS JOIN n LEFT JOIN obs " +
      "ON obs.lang = rl.lang AND obs.source = cs.source " +
      "ORDER BY rl.lang, cs.source"),

    // identical exact sufficient statistics and IEEE chain, mirrored
    // parenthesis for parenthesis
    "q_agg_ttest" -> ("WITH j AS (SELECT c_mktsegment, o_orderstatus, " +
      "CAST(floor(CAST(o_totalprice AS DECIMAL(12,2))) AS BIGINT) AS y " +
      "FROM orders JOIN customer ON o_custkey = c_custkey " +
      "WHERE o_orderstatus IN ('F', 'O')), " +
      "s AS (SELECT c_mktsegment, o_orderstatus, " +
      "CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS sy, " +
      "CAST(sum(y * y) AS BIGINT) AS syy FROM j " +
      "GROUP BY c_mktsegment, o_orderstatus) " +
      "SELECT f.c_mktsegment, f.n AS n_f, o.n AS n_o, " +
      "CAST(floor(CAST(f.sy AS DOUBLE) / CAST(f.n AS DOUBLE) * 1000000.0) AS BIGINT) AS mean_f_micros, " +
      "CAST(floor(CAST(o.sy AS DOUBLE) / CAST(o.n AS DOUBLE) * 1000000.0) AS BIGINT) AS mean_o_micros, " +
      "CAST(floor((CAST(f.sy AS DOUBLE) / CAST(f.n AS DOUBLE) - " +
      "CAST(o.sy AS DOUBLE) / CAST(o.n AS DOUBLE)) / " +
      "sqrt((CAST(f.syy AS DOUBLE) - CAST(f.sy AS DOUBLE) * CAST(f.sy AS DOUBLE) / CAST(f.n AS DOUBLE)) / " +
      "(CAST(f.n AS DOUBLE) - 1.0) / CAST(f.n AS DOUBLE) + " +
      "(CAST(o.syy AS DOUBLE) - CAST(o.sy AS DOUBLE) * CAST(o.sy AS DOUBLE) / CAST(o.n AS DOUBLE)) / " +
      "(CAST(o.n AS DOUBLE) - 1.0) / CAST(o.n AS DOUBLE)) * 1000000.0) AS BIGINT) AS t_micros " +
      "FROM s f JOIN s o ON f.c_mktsegment = o.c_mktsegment " +
      "AND f.o_orderstatus = 'F' AND o.o_orderstatus = 'O' " +
      "ORDER BY f.c_mktsegment"),

    // the same exact integer sufficient statistics over the same
    // per-group-centered x; the one float op is the final slope
    // division, mirrored term by term
    "q_agg_linreg" -> ("WITH e AS (SELECT event_type, " +
      "(epoch_us(ts) - epoch_us(TIMESTAMP '2000-01-01')) // 3600000000 AS x, " +
      "CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS y FROM events), " +
      "m AS (SELECT event_type, min(x) AS x0 FROM e GROUP BY event_type), " +
      "c AS (SELECT e.event_type, x0, x - x0 AS xc, y " +
      "FROM e JOIN m ON e.event_type = m.event_type), " +
      "s AS (SELECT event_type, CAST(min(x0) AS BIGINT) AS x0, " +
      "CAST(count(*) AS BIGINT) AS n, " +
      "CAST(sum(xc) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy, " +
      "CAST(sum(xc * y) AS BIGINT) AS sxy, CAST(sum(xc * xc) AS BIGINT) AS sxx " +
      "FROM c GROUP BY event_type) " +
      "SELECT event_type, x0, n, sx, sy, sxy, sxx, " +
      "CAST(floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - " +
      "CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / " +
      "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - " +
      "CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * 1000000.0) AS BIGINT) " +
      "AS slope_micros FROM s ORDER BY event_type"),

    "q_agg_approxdistinct" -> ("SELECT event_type, " +
      "CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users, " +
      "(abs(approx_count_distinct(user_id) - count(DISTINCT user_id)) " +
      "<= count(DISTINCT user_id) * 0.15) AS approx_ok " +
      "FROM events GROUP BY event_type ORDER BY event_type"),

    "q_agg_hllmerge" -> ("SELECT event_type, " +
      "CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users, " +
      "(abs(approx_count_distinct(user_id) - count(DISTINCT user_id)) " +
      "<= count(DISTINCT user_id) * 0.15) AS merge_ok " +
      "FROM events GROUP BY event_type ORDER BY event_type"),

    "q_agg_theta" -> ("WITH exact AS (SELECT count(*) AS exact_aud FROM (" +
      "SELECT user_id FROM events WHERE event_type = 'click' " +
      "INTERSECT SELECT user_id FROM events WHERE event_type = 'purchase' " +
      "EXCEPT SELECT user_id FROM events WHERE event_type = 'error')) " +
      "SELECT exact_aud, true AS sketch_ok FROM exact"),

    "q_agg_kllmerge" -> ("SELECT o_orderpriority, " +
      "round(percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice), 4) " +
      "AS exact_med, count(*) AS n_orders, true AS kll_ok " +
      "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"),

    "q_agg_approxquantile" -> ("SELECT o_orderpriority, " +
      "round(percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice), 4) " +
      "AS exact_med, count(*) AS n_orders, " +
      "(abs(approx_quantile(o_totalprice, 0.5) - " +
      "percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice)) " +
      "<= percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice) * 0.05) " +
      "AS approx_ok FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"),

    "q_agg_hashgroup" -> ("SELECT l_returnflag, l_linestatus, " +
      decSum.format("l_quantity") + " AS sum_qty, " +
      decSum.format("l_extendedprice") + " AS sum_base_price, " +
      s"CAST(SUM($rev) AS DOUBLE) AS sum_disc_price, " +
      s"CAST(SUM($rev * CAST(1.0 + l_tax AS DECIMAL(4,2))) AS DOUBLE) AS sum_charge, " +
      decSum.format("l_quantity") + " / COUNT(*) AS avg_qty, " +
      decSum.format("l_extendedprice") + " / COUNT(*) AS avg_price, " +
      "CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(*) AS avg_disc, " +
      "COUNT(*) AS count_order FROM lineitem " +
      "WHERE l_shipdate <= TIMESTAMP '2000-09-01' " +
      "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),

    "q_agg_global" -> ("SELECT COUNT(*) AS n_rows, " +
      decSum.format("l_quantity") + " AS sum_qty, " +
      s"CAST(SUM($rev) AS DOUBLE) AS sum_revenue, " +
      "min(l_shipdate) AS first_ship, max(l_shipdate) AS last_ship FROM lineitem"),

    "q_agg_distinct" -> ("SELECT l_returnflag, " +
      "count(DISTINCT l_partkey) AS n_parts, count(DISTINCT l_suppkey) AS n_supps, " +
      "CAST(sum(DISTINCT l_linenumber) AS BIGINT) AS sum_distinct_lines " +
      "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),

    "q_agg_rollup" -> rollupOracle("ROLLUP(n_name, o_orderpriority)"),

    "q_agg_cube" -> rollupOracle("CUBE(n_name, o_orderpriority)"),

    "q_agg_gsets" -> ("SELECT n_name, c_mktsegment, count(*) AS n, " +
      "CAST(GROUPING(n_name) AS BIGINT) AS g_n, " +
      "CAST(GROUPING(c_mktsegment) AS BIGINT) AS g_s " +
      "FROM customer JOIN nation ON c_nationkey = n_nationkey " +
      "GROUP BY GROUPING SETS ((n_name, c_mktsegment), (n_name), (c_mktsegment), ()) " +
      "ORDER BY g_n, g_s, n_name NULLS FIRST, c_mktsegment NULLS FIRST"),

    "q_agg_stats" -> ("SELECT l_returnflag, " +
      "round(stddev_samp(l_quantity), 4) AS sd_qty, " +
      "round(var_samp(l_quantity), 4) AS var_qty, " +
      "round(corr(l_quantity, l_extendedprice), 4) AS corr_qp, " +
      "round(covar_samp(l_quantity, l_extendedprice), 4) AS cov_qp " +
      "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),

    "q_agg_minmaxby" -> ("SELECT o_orderpriority, " +
      "arg_max(o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(12,2))*1000000 + o_orderkey AS DOUBLE)) AS top_order, " +
      "arg_min(o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(12,2))*1000000 + o_orderkey AS DOUBLE)) AS bottom_order, " +
      "max(o_totalprice) AS max_price, min(o_totalprice) AS min_price " +
      "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"),

    "q_agg_collect" -> ("SELECT n_name, count(*) AS n_sup, " +
      "string_agg(s_name, '|' ORDER BY s_name) AS suppliers " +
      "FROM supplier JOIN nation ON s_nationkey = n_nationkey " +
      "GROUP BY n_name ORDER BY n_name"),

    "q_agg_filtered" -> ("SELECT o_orderpriority, count(*) AS n_all, " +
      "count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f, " +
      "CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS total_open " +
      "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"),

    "q_agg_percentile" -> ("SELECT c_mktsegment, " +
      "round(percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice), 4) AS p50, " +
      "round(percentile_cont(0.9) WITHIN GROUP (ORDER BY o_totalprice), 4) AS p90 " +
      "FROM customer JOIN orders ON c_custkey = o_custkey " +
      "GROUP BY c_mktsegment ORDER BY c_mktsegment"),

    "q_agg_mode" -> ("SELECT c_mktsegment, o_orderpriority AS mode_priority, " +
      "n_orders FROM (SELECT c_mktsegment, o_orderpriority, count(*) AS n_orders, " +
      "row_number() OVER (PARTITION BY c_mktsegment " +
      "ORDER BY count(*) DESC, o_orderpriority) AS rk " +
      "FROM orders JOIN customer ON o_custkey = c_custkey " +
      "GROUP BY c_mktsegment, o_orderpriority) WHERE rk = 1 ORDER BY c_mktsegment"),

    "q_agg_topksum" -> ("WITH ranked AS (SELECT o_orderpriority, o_totalprice, " +
      "row_number() OVER (PARTITION BY o_orderpriority " +
      "ORDER BY o_totalprice DESC, o_orderkey) AS rk FROM orders) " +
      "SELECT o_orderpriority, " +
      "CAST(SUM(CASE WHEN rk <= 10 THEN CAST(o_totalprice AS DECIMAL(12,2)) END) " +
      "AS DOUBLE) AS top10_total, " +
      "CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS all_total, " +
      "count(*) AS n_orders " +
      "FROM ranked GROUP BY o_orderpriority ORDER BY o_orderpriority"),

    // exact top-10 token counts; sketch_ok is the bounds check the
    // Spark side computes from the sketch (exact below eviction)
    "q_agg_freqitems" -> ("SELECT tok, count(*) AS n_occurs, true AS sketch_ok " +
      "FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) " +
      "GROUP BY tok ORDER BY n_occurs DESC, tok LIMIT 10"),

    "q_agg_footerstats" -> ("SELECT count(*) AS n_rows, " +
      "min(o_orderkey) AS min_key, max(o_orderkey) AS max_key, " +
      "min(o_custkey) AS min_cust, max(o_custkey) AS max_cust " +
      "FROM orders"),

    "q_agg_histogram" -> ("SELECT CAST(least(greatest(" +
      "floor(o_totalprice / 60000.0), 0.0), 9.0) AS BIGINT) AS bucket, " +
      "count(*) AS n_orders, " +
      "CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_value " +
      "FROM orders GROUP BY bucket ORDER BY bucket"),

    "q_agg_pivot" -> ("SELECT source, " +
      "count(*) FILTER (WHERE lang='de') AS de, " +
      "count(*) FILTER (WHERE lang='en') AS en, " +
      "count(*) FILTER (WHERE lang='es') AS es, " +
      "count(*) FILTER (WHERE lang='fr') AS fr, " +
      "count(*) FILTER (WHERE lang='zh') AS zh " +
      "FROM documents GROUP BY source ORDER BY source"),

    // Pivot-then-unpivot round trip == counts for every (source, lang)
    // combination including zeros.
    "q_agg_unpivot" -> ("SELECT s.source, l.lang, " +
      "CAST(coalesce(c.n, 0) AS BIGINT) AS n_docs FROM " +
      "(SELECT DISTINCT source FROM documents) s CROSS JOIN " +
      "(SELECT unnest(['de','en','es','fr','zh']) AS lang) l LEFT JOIN " +
      "(SELECT source, lang, count(*) AS n FROM documents GROUP BY source, lang) c " +
      "ON s.source = c.source AND l.lang = c.lang " +
      "ORDER BY s.source, l.lang"),
  )
}
