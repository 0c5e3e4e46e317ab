package graft.sync

import graft.{Artifacts, Dets, QueryFamily, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-checked surface of [[IncrementalView]] (SURVEY §3.1's
  * materialized-refresh counterpart): each query BUILDS a view through the
  * real refresh machinery — multiple deltas, signed retractions, or
  * watermark-tracked pulls — then returns the served state, and the DuckDB
  * oracle recomputes the same aggregate DIRECTLY over the corpus. A green
  * row therefore certifies the central claim of incremental maintenance:
  * folding the data in pieces equals scanning it whole.
  *
  * Each invocation folds into a fresh [[Artifacts.root]]: the verify and
  * bench harnesses call a query repeatedly — possibly from overlapping
  * JVMs — and re-folding a delta onto another invocation's surviving
  * state would double-count (the one way an incremental view can
  * silently rot). Build-from-empty under a unique root keeps each run
  * self-contained and byte-deterministic.
  */
object ViewQueries extends QueryFamily {

  /** orders reshaped to view inputs: exact-decimal measure (double sums
    * are order-dependent; DECIMAL(12,2) folds identically in any order
    * and matches q_sink_esdocs' money convention), plus the event-time
    * column the tracked query watermarks on.
    */
  private def ordersSrc(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders").select(
      col("o_orderkey"),
      col("o_orderstatus").as("status"),
      col("o_orderpriority").as("priority"),
      Dets.money(col("o_totalprice")).as("total"),
      col("o_orderdate"))

  private val cutoff = "TIMESTAMP '1997-06-01'"

  /** Shared two-delta folded states (the search-family sharedIndex
    * pattern): several queries read the SAME folded view — incremental +
    * where both serve keys (status, priority); finalize + rewrite both
    * serve keys (status). The fold still runs through the real refresh
    * machinery (so folding-in-pieces == one-shot stays certified), it
    * just runs once per (session, dir, keys) — again after the files
    * under `dir` change; after the build the state is immutable, so
    * concurrent invocations can't race it ([[Artifacts]] serializes the
    * one build). Queries that exercise
    * DIFFERENT maintenance machinery (signed retraction, tracked
    * watermark pulls, join-source deltas) keep per-invocation roots.
    */
  private[graft] def sharedFold(s: SparkSession, dir: String,
      keys: Seq[String]): String =
    Artifacts.get(s, s"view.sharedFold.${keys.mkString(",")}", dir) {
      val root = Artifacts.root(s, "q_view_shared")
      val o = ordersSrc(s, dir)
      val v = IncrementalView.ViewDef(keys, "total")
      // the two deltas' partial aggregations overlap (refreshAll);
      // commits stay sequential — fold semantics unchanged
      IncrementalView.refreshAll(s, root, Seq(
        o.where(s"o_orderdate <= $cutoff"),
        o.where(s"o_orderdate > $cutoff")), v)
      root
    }

  /** Served state → the oracle-checked shape. mv_s2 stays internal: its
    * decimal-product precision rules differ across engines (Spark caps
    * and rescales at 38 digits, DuckDB refuses), so the moment column is
    * certified Spark-vs-Spark in IncrementalViewSpec instead.
    *
    * All decimal measures (sum/min/max) SERVE as DOUBLE via [[Dets.dbl]],
    * never as raw DECIMAL — the suite-wide convention established in
    * round 1 (see ScalarFuncs' note): a raw DECIMAL output column is the
    * one type the driver's hash canonicalization and DuckDB disagree on.
    * The fold itself stays exact decimal; only the final emit casts, and
    * the cast is value-exact because the raw cent units are far below
    * 2^53 at every SF (the avgMoney argument). The oracle mirrors with
    * CAST(... AS DOUBLE).
    */
  private def served(s: SparkSession, root: String, keys: Seq[String],
      withMinMax: Boolean): DataFrame = {
    val base = IncrementalView.read(s, root).select(
      (keys.map(col) ++ Seq(col("mv_n").as("n_rows"),
        Dets.dbl(col("mv_s")).as("total_sum")) ++
        (if (withMinMax) Seq(
          Dets.dbl(col("mv_min")).as("total_min"),
          Dets.dbl(col("mv_max")).as("total_max"))
        else Seq.empty)): _*)
    base.orderBy(keys.map(col): _*)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Two-delta fold == one-shot aggregate: refresh with the pre-cutoff
    // rows, then the post-cutoff rows; serve. The oracle never sees the
    // split — it aggregates the whole table in one pass.
    "q_view_incremental" -> ((s, dir) => {
      val root = sharedFold(s, dir, Seq("status", "priority"))
      served(s, root, Seq("status", "priority"), withMinMax = true)
    }),

    // SKETCH-state incremental view — the approximate materialized view
    // a 100 TB pipeline actually keeps for distinct counts: per-key HLL
    // sketches as BINARY state, each refresh folding a delta's sketches
    // into the materialized state via hll_union_agg (count-distinct is
    // NOT summable, so the exact-state machinery above can't maintain
    // it; the sketch is the published answer — Datasketches HLL, the
    // q_agg_hllmerge surface as VIEW state). Three date-range deltas
    // fold through disk (each refresh reads the previous state parquet,
    // never the prior deltas), and the serve reports the exact count
    // beside the in-bounds flag — the oracle-checkable contract, since
    // no SQL engine reproduces another's HLL registers.
    // IncrementalViewSpec pins the lossless-union claim exactly
    // (folded estimate == one-shot estimate).
    "q_view_distinct" -> ((s, dir) => {
      val root = Artifacts.root(s, "q_view_distinct")
      val src = Tables(s, dir, "events")
        .select(col("event_type"), col("user_id"), col("ts"))
      val cuts = Seq("1970-01-01", "2024-01-11", "2024-01-21", "2100-01-01")
      // the three deltas' sketch aggregations are independent O(delta)
      // jobs — materialize them concurrently (§2.6), then run the
      // through-disk state folds sequentially exactly as before (each
      // refresh still reads the previous state parquet, never the
      // prior deltas)
      val deltas = cuts.sliding(2).toSeq.map { case Seq(a, b) =>
        src.where(col("ts") >= Dets.tsLit(a) && col("ts") < Dets.tsLit(b))
          .groupBy("event_type")
          .agg(expr("hll_sketch_agg(user_id)").as("sk"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }
      try {
        graft.Par.run(deltas.map(d => () => { d.count(); () }): _*)
        deltas.zipWithIndex.foreach { case (delta, i) =>
          val folded =
            if (i == 0) delta
            else Tables.parquet(s, s"$root/v${i - 1}").union(delta)
              .groupBy("event_type")
              .agg(expr("hll_union_agg(sk)").as("sk"))
          folded.write.mode("overwrite").parquet(s"$root/v$i")
        }
      } finally deltas.foreach(_.unpersist())
      val est = Tables.parquet(s, s"$root/v2")
        .select(col("event_type"),
          expr("hll_sketch_estimate(sk)").as("est_users"))
      val exact = src.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact_users"))
      exact.join(est, "event_type")
        .select(col("event_type"), col("exact_users"),
          (abs(col("est_users") - col("exact_users")) <=
            col("exact_users") * 0.15).as("view_ok"))
        .orderBy("event_type")
    }),

    // Signed maintenance: fold everything, then RETRACT the tombstone
    // subset (sign −1). The served state must equal a direct aggregate
    // that never saw the tombstoned rows — count and sum are invertible,
    // and the retractable view structurally carries nothing that isn't.
    "q_view_retract" -> ((s, dir) => {
      val root = Artifacts.root(s, "q_view_retract")
      val o = ordersSrc(s, dir)
      val v = IncrementalView.ViewDef(Seq("priority"), "total",
        retractable = true)
      // both deltas' partials overlap; the retraction still commits
      // SECOND (refreshAllSigned folds in order), so over-retraction
      // semantics are exactly the sequential form's
      IncrementalView.refreshAllSigned(s, root, Seq(
        (o, lit(1L)),
        (o.where("o_orderkey % 7 = 0"), lit(-1L))), v)
      served(s, root, Seq("priority"), withMinMax = false)
    }),

    // MULTI-measure view — the real dashboard shape (TPC-H Q1 carries
    // four measures): one state table holds per-key partials for BOTH
    // qty and price, folded in two deltas, REGISTERED, and the user's
    // two-measure aggregate is answered from the state (routing
    // asserted in-query, like q_view_rewrite). One fold, one state
    // scan, N measures — not N single-measure views.
    "q_view_multi" -> ((s, dir) => {
      val root = Artifacts.root(s, "q_view_multi")
      val li = Tables(s, dir, "lineitem").select(
        col("l_returnflag").as("rflag"), col("l_linestatus").as("lstatus"),
        Dets.money(col("l_quantity")).as("qty"),
        Dets.money(col("l_extendedprice")).as("price"),
        col("l_shipdate"))
      val v = IncrementalView.ViewDef(Seq("rflag", "lstatus"), "qty",
        extraMeasures = Seq("price"))
      IncrementalView.refreshAll(s, root, Seq(
        li.where(s"l_shipdate <= $cutoff"),
        li.where(s"l_shipdate > $cutoff")), v)
      val base = li.select("rflag", "lstatus", "qty", "price")
      graft.plans.ViewRewrite.register("q_view_multi", base, root, v)
      try {
        val q = base.groupBy("rflag", "lstatus").agg(
          count(lit(1)).as("n_rows"),
          sum("qty").as("qty_sum"), sum("price").as("price_sum"),
          min("qty").as("qty_min"), max("price").as("price_max"))
        val plan = q.queryExecution.optimizedPlan.toString
        require(plan.contains("mv_s_qty") && plan.contains("mv_s_price") &&
          !plan.contains("l_orderkey"),
          s"two-measure aggregate did not route to the view state:\n$plan")
        q.select(col("rflag"), col("lstatus"), col("n_rows"),
            Dets.dbl(col("qty_sum")).as("qty_sum"),
            Dets.dbl(col("price_sum")).as("price_sum"),
            Dets.dbl(col("qty_min")).as("qty_min"),
            Dets.dbl(col("price_max")).as("price_max"))
          .orderBy("rflag", "lstatus")
      } finally graft.plans.ViewRewrite.deregister("q_view_multi")
    }),

    // CDC-maintained view: the served aggregate after a SNAPSHOT DIFF
    // refresh — upstream deleted every 13th order, flipped every 5th
    // surviving order's status to 'U' (an in-place update that MOVES
    // rows between the view's groups), and appended the post-cutoff
    // world. The view never rescans the corpus: refreshCdc retracts the
    // old rows and folds the new ones from the diff alone, and the
    // served state must equal the oracle's direct aggregate over the
    // new snapshot.
    "q_view_cdc" -> ((s, dir) => {
      val root = Artifacts.root(s, "q_view_cdc")
      val v = IncrementalView.ViewDef(Seq("status"), "total",
        retractable = true)
      val prev = ordersSrc(s, dir).where(s"o_orderdate <= $cutoff")
      val cur = Tables(s, dir, "orders")
        .where("o_orderkey % 13 <> 0")
        .select(col("o_orderkey"),
          expr("CASE WHEN o_orderkey % 5 = 0 THEN 'U' ELSE o_orderstatus END")
            .as("status"),
          Dets.money(col("o_totalprice")).as("total"))
      // the initial fold and the snapshot-diff delta are both
      // state-independent — overlap their partials, commit in order
      // (initial fold first, so the diff's retractions land on it)
      IncrementalView.refreshAllSigned(s, root, Seq(
        (prev, lit(1L)),
        (IncrementalView.cdcSignedDelta(prev, cur, "o_orderkey", v),
          col("mv_sign"))), v)
      served(s, root, Seq("status"), withMinMax = false)
    }),

    // Finalization over the served partials: avg, population variance and
    // stddev derived from (n, s, s2) WITHOUT touching the corpus — the
    // dashboard read path of a maintained view. The avg hash-matches
    // UNROUNDED (the Dets.avgMoney argument: mv_s's raw units stay under
    // 2^53, both engines' decimal→double casts are exact-then-correctly-
    // rounded, and the one division is IEEE). The second moments do NOT:
    // at sf0.1 mv_s2's raw integer exceeds 2^53, and DuckDB's
    // decimal→double cast (int128→double, then /10^scale — two
    // roundings) is not correctly rounded where Spark's BigDecimal path
    // is, so var/std legitimately differ in the last ulp across engines
    // and are served ROUNDED (§7.4: round exactly the values whose
    // computation genuinely differs cross-engine, nothing else).
    "q_view_finalize" -> ((s, dir) => {
      val root = sharedFold(s, dir, Seq("status"))
      val n = col("mv_n").cast("double")
      val sm = col("mv_s").cast("double")
      val s2 = col("mv_s2").cast("double")
      IncrementalView.read(s, root).select(
          col("status"), col("mv_n").as("n_rows"),
          (sm / n).as("total_avg"),
          round((s2 - sm * sm / n) / n, 4).as("total_var_pop"),
          round(sqrt((s2 - sm * sm / n) / n), 4).as("total_std_pop"))
        .orderBy("status")
    }),

    // Transparent routing (plans.ViewRewrite): the SAME corpus aggregate a
    // user would write is answered from the state table — the query
    // REFUSES to return a base-scan answer (plan asserted), so a green row
    // certifies both the routing and the routed values.
    "q_view_rewrite" -> ((s, dir) => {
      val root = sharedFold(s, dir, Seq("status"))
      val o = ordersSrc(s, dir)
      val v = IncrementalView.ViewDef(Seq("status"), "total")
      val base = o.select("status", "total")
      graft.plans.ViewRewrite.register("q_view_rewrite", base, root, v)
      try {
        val q = base.groupBy("status").agg(
          count(lit(1)).as("n_rows"), sum("total").as("total_sum"),
          min("total").as("total_min"), max("total").as("total_max"))
        val plan = q.queryExecution.optimizedPlan.toString
        require(plan.contains("mv_n") && !plan.contains("o_orderkey"),
          s"aggregate did not route to the view state:\n$plan")
        // serve decimals as exact doubles — see served()'s note
        q.select(col("status"), col("n_rows"),
            Dets.dbl(col("total_sum")).as("total_sum"),
            Dets.dbl(col("total_min")).as("total_min"),
            Dets.dbl(col("total_max")).as("total_max"))
          .orderBy("status")
      } finally graft.plans.ViewRewrite.deregister("q_view_rewrite")
    }),

    // Key-sliced routing: the dashboard's "WHERE status = 'F'" form —
    // the filter must ride INTO the state table (plan asserted: routed,
    // and the un-routed base is gone), and the served slice must equal
    // the direct filtered aggregate the oracle computes.
    "q_view_where" -> ((s, dir) => {
      val root = sharedFold(s, dir, Seq("status", "priority"))
      val o = ordersSrc(s, dir)
      val v = IncrementalView.ViewDef(Seq("status", "priority"), "total")
      val base = o.select("status", "priority", "total")
      graft.plans.ViewRewrite.register("q_view_where", base, root, v)
      try {
        // avg intentionally absent: its routed value is bit-pinned
        // Spark-vs-Spark in ViewRewriteSpec; cross-engine, DuckDB's
        // decimal AVG is a double fold with different rounding, so the
        // oracle row sticks to the exact-decimal columns
        val q = base.where("status = 'F'").groupBy("priority").agg(
          count(lit(1)).as("n_rows"), sum("total").as("total_sum"),
          min("total").as("total_min"), max("total").as("total_max"))
        val plan = q.queryExecution.optimizedPlan.toString
        require(plan.contains("mv_n") && !plan.contains("o_orderkey"),
          s"key-filtered aggregate did not route to the view state:\n$plan")
        q.select(col("priority"), col("n_rows"),
            Dets.dbl(col("total_sum")).as("total_sum"),
            Dets.dbl(col("total_min")).as("total_min"),
            Dets.dbl(col("total_max")).as("total_max"))
          .orderBy("priority")
      } finally graft.plans.ViewRewrite.deregister("q_view_where")
    }),

    // A materialized view over a JOIN (fact ⋈ dimension), maintained
    // incrementally and served through the same transparent routing: the
    // registered source is the orders⋈customer plan itself, and the
    // maintenance claim is the classic Δ(F ⋈ D) = ΔF ⋈ D for a static
    // dimension — each fact delta is joined to the dim and folded, and
    // the served state must equal the one-shot aggregate over the whole
    // join (the oracle recomputes exactly that). At 100 TB this is THE
    // dashboard view: the fact join never re-runs at read time, and
    // nightly maintenance joins only the delta partitions to the
    // broadcast-sized dim.
    "q_view_join" -> ((s, dir) => {
      val root = Artifacts.root(s, "q_view_join")
      val orders = Tables(s, dir, "orders").select(
        col("o_custkey"), col("o_orderstatus").as("status"),
        Dets.money(col("o_totalprice")).as("total"), col("o_orderdate"))
      val cust = Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("segment"))
      def facts(pred: String): DataFrame =
        orders.where(pred).join(broadcast(cust),
          col("o_custkey") === col("c_custkey"))
          .select("segment", "status", "total")
      val v = IncrementalView.ViewDef(Seq("segment", "status"), "total")
      IncrementalView.refreshAll(s, root, Seq(
        facts(s"o_orderdate <= $cutoff"),
        facts(s"o_orderdate > $cutoff")), v)
      val joined = orders.join(cust, col("o_custkey") === col("c_custkey"))
        .select("segment", "status", "total")
      graft.plans.ViewRewrite.register("q_view_join", joined, root, v)
      try {
        val q = joined.groupBy("segment", "status").agg(
          count(lit(1)).as("n_rows"), sum("total").as("total_sum"),
          min("total").as("total_min"), max("total").as("total_max"))
        val plan = q.queryExecution.optimizedPlan.toString
        require(plan.contains("mv_n") && !plan.contains("o_custkey"),
          s"join aggregate did not route to the view state:\n$plan")
        q.select(col("segment"), col("status"), col("n_rows"),
            Dets.dbl(col("total_sum")).as("total_sum"),
            Dets.dbl(col("total_min")).as("total_min"),
            Dets.dbl(col("total_max")).as("total_max"))
          .orderBy("segment", "status")
      } finally graft.plans.ViewRewrite.deregister("q_view_join")
    }),

    // Watermark-tracked refresh against two source snapshots: the first
    // pull sees the pre-cutoff world and commits its max event time
    // atomically with the state; the second sees the full table but folds
    // only rows strictly past the stored mark; a third pull with an
    // unchanged source is a no-op (empty delta — no rewrite, no advance).
    // Every row folds exactly once, so serving equals the direct scan.
    "q_view_tracked" -> ((s, dir) => {
      val root = Artifacts.root(s, "q_view_tracked")
      val o = ordersSrc(s, dir)
      val v = IncrementalView.ViewDef(Seq("status"), "total")
      IncrementalView.refreshTracked(s, root,
        o.where(s"o_orderdate <= $cutoff"), v, "o_orderdate")
      IncrementalView.refreshTracked(s, root, o, v, "o_orderdate")
      IncrementalView.refreshTracked(s, root, o, v, "o_orderdate")
      served(s, root, Seq("status"), withMinMax = true)
    }),
  )

  private val duckTotal = "CAST(o_totalprice AS DECIMAL(12,2))"

  def oracles: Map[String, String] = Map(
    // the q_agg_hllmerge contract: exact count + in-bounds boolean (no
    // SQL engine reproduces another's HLL registers); the INCREMENTAL
    // claim (folded == one-shot) is pinned exactly in IncrementalViewSpec
    "q_view_distinct" -> ("SELECT event_type, " +
      "count(DISTINCT user_id) AS exact_users, true AS view_ok " +
      "FROM events GROUP BY event_type ORDER BY event_type"),

    "q_view_incremental" ->
      ("SELECT o_orderstatus AS status, o_orderpriority AS priority, " +
        "count(*) AS n_rows, " +
        s"CAST(SUM($duckTotal) AS DOUBLE) AS total_sum, " +
        s"CAST(MIN($duckTotal) AS DOUBLE) AS total_min, " +
        s"CAST(MAX($duckTotal) AS DOUBLE) AS total_max " +
        "FROM orders GROUP BY 1, 2 ORDER BY 1, 2"),
    // recompute the identical exact partials (DuckDB's 38-digit multiply
    // cap forces the narrower DECIMAL(19,2) square inputs — same exact
    // rationals), then the identical IEEE finalization ops
    "q_view_finalize" ->
      ("WITH m AS (SELECT o_orderstatus AS status, " +
        s"$duckTotal AS t FROM orders), " +
        "p AS (SELECT status, count(*) AS n, SUM(t) AS s, " +
        "SUM(CAST(t AS DECIMAL(19,2)) * CAST(t AS DECIMAL(19,2))) AS s2 " +
        "FROM m GROUP BY 1) " +
        "SELECT status, n AS n_rows, " +
        "CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS total_avg, " +
        "round((CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE), 4) AS total_var_pop, " +
        "round(sqrt((CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)), 4) AS total_std_pop " +
        "FROM p ORDER BY status"),
    "q_view_retract" ->
      ("SELECT o_orderpriority AS priority, count(*) AS n_rows, " +
        s"CAST(SUM($duckTotal) AS DOUBLE) AS total_sum " +
        "FROM orders WHERE o_orderkey % 7 <> 0 GROUP BY 1 ORDER BY 1"),
    // the two-measure dashboard recompute, straight off lineitem
    "q_view_multi" ->
      ("SELECT l_returnflag AS rflag, l_linestatus AS lstatus, " +
        "count(*) AS n_rows, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty_sum, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS price_sum, " +
        "CAST(MIN(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty_min, " +
        "CAST(MAX(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS price_max " +
        "FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2"),

    // the direct aggregate over the NEW snapshot — the CDC-refreshed
    // state never saw it whole, only the diff
    "q_view_cdc" ->
      ("SELECT CASE WHEN o_orderkey % 5 = 0 THEN 'U' ELSE o_orderstatus END " +
        "AS status, count(*) AS n_rows, " +
        s"CAST(SUM($duckTotal) AS DOUBLE) AS total_sum " +
        "FROM orders WHERE o_orderkey % 13 <> 0 GROUP BY 1 ORDER BY 1"),
    // the routed join aggregate must equal the join it replaced — the
    // oracle IS that join
    "q_view_join" ->
      ("SELECT c.c_mktsegment AS segment, o.o_orderstatus AS status, " +
        "count(*) AS n_rows, " +
        s"CAST(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_sum, " +
        s"CAST(MIN(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_min, " +
        s"CAST(MAX(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_max " +
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey " +
        "GROUP BY 1, 2 ORDER BY 1, 2"),

    // the routed aggregate must equal the scan it replaced — the oracle
    // IS that scan
    "q_view_rewrite" ->
      ("SELECT o_orderstatus AS status, count(*) AS n_rows, " +
        s"CAST(SUM($duckTotal) AS DOUBLE) AS total_sum, " +
        s"CAST(MIN($duckTotal) AS DOUBLE) AS total_min, " +
        s"CAST(MAX($duckTotal) AS DOUBLE) AS total_max " +
        "FROM orders GROUP BY 1 ORDER BY 1"),
    "q_view_where" ->
      ("SELECT o_orderpriority AS priority, count(*) AS n_rows, " +
        s"CAST(SUM($duckTotal) AS DOUBLE) AS total_sum, " +
        s"CAST(MIN($duckTotal) AS DOUBLE) AS total_min, " +
        s"CAST(MAX($duckTotal) AS DOUBLE) AS total_max " +
        "FROM orders WHERE o_orderstatus = 'F' GROUP BY 1 ORDER BY 1"),
    "q_view_tracked" ->
      ("SELECT o_orderstatus AS status, count(*) AS n_rows, " +
        s"CAST(SUM($duckTotal) AS DOUBLE) AS total_sum, " +
        s"CAST(MIN($duckTotal) AS DOUBLE) AS total_min, " +
        s"CAST(MAX($duckTotal) AS DOUBLE) AS total_max " +
        "FROM orders GROUP BY 1 ORDER BY 1"),
  )
}
