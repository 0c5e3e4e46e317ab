package graft.operators

import graft.{Dets, GraftSession, QueryFamily, Tables}
import graft.plans.IntervalOverlap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Dets._

/** SURVEY.md §2.C — joins.
  *
  * Scale strategy per shape: small dims broadcast (explicit `broadcast()`
  * for part, automatic under the 10 MB threshold elsewhere); fact-fact
  * joins shuffle on their equi-keys and AQE handles skew/coalesce; the
  * range join is implemented as a *binned equi-join* (time-bucket key +
  * residual predicate) instead of a nested-loop — the plan that survives
  * 100 TB; the as-of join is the equi-join + per-key window-top-1 form,
  * whose 100 TB alternative is a sorted merge with carry-forward state.
  */
object Joins extends QueryFamily {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Equi inner hash join.
    "q_join_inner" -> ((s, dir) => {
      val o = Tables(s, dir, "orders"); val c = Tables(s, dir, "customer")
      o.join(c, o("o_custkey") === c("c_custkey"), "inner")
        .select(o("o_orderkey"), c("c_name"), o("o_totalprice"))
        .orderBy("o_orderkey")
    }),

    // Explicit broadcast of the dimension side.
    "q_join_broadcast" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem"); val p = Tables(s, dir, "part")
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"),
          dbl(sum(money(col("l_quantity")))).as("sum_qty"))
        .orderBy("p_brand")
    }),

    // Forced sort-merge join.
    "q_join_sortmerge" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem"); val o = Tables(s, dir, "orders")
      li.hint("merge").join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lines"),
          dbl(sum(money(col("l_extendedprice")) * frac(lit(1.0) - col("l_discount")))).as("revenue"))
        .orderBy("o_orderpriority")
    }),

    // Left outer — partial at sf0.1 (embeddings 2k < documents 5k), so
    // nulls genuinely appear (SURVEY.md §7.5).
    "q_join_left" -> ((s, dir) => {
      val d = Tables(s, dir, "documents"); val e = Tables(s, dir, "embeddings")
      d.join(e, d("doc_id") === e("vec_id"), "left")
        .select(d("doc_id"), d("lang"), e("label"),
          e("vec_id").isNotNull.as("has_vec"))
        .orderBy("doc_id")
    }),

    // Full outer with coalesced key.
    "q_join_full" -> ((s, dir) => {
      val d = Tables(s, dir, "documents"); val e = Tables(s, dir, "embeddings")
      d.join(e, d("doc_id") === e("vec_id"), "full")
        .select(coalesce(d("doc_id"), e("vec_id")).as("join_key"),
          d("lang"), e("label"),
          d("doc_id").isNotNull.as("has_doc"),
          e("vec_id").isNotNull.as("has_vec"))
        .orderBy("join_key")
    }),

    // Left semi (EXISTS): customers with >=1 urgent order.
    "q_join_semi" -> ((s, dir) => {
      val c = Tables(s, dir, "customer"); val o = Tables(s, dir, "orders")
      c.join(o.where(col("o_orderpriority") === "1-URGENT"),
          c("c_custkey") === o("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    // Left anti (NOT EXISTS): parts never shipped.
    "q_join_anti" -> ((s, dir) => {
      val p = Tables(s, dir, "part"); val li = Tables(s, dir, "lineitem")
      p.join(li, p("p_partkey") === li("l_partkey"), "left_anti")
        .select("p_partkey", "p_name")
        .orderBy("p_partkey")
    }),

    // Cartesian product (5 x 25 — deliberately tiny).
    "q_join_cross" -> ((s, dir) => {
      val r = Tables(s, dir, "region"); val n = Tables(s, dir, "nation")
      r.crossJoin(n).select("r_name", "n_name").orderBy("r_name", "n_name")
    }),

    // Non-equi band join (broadcast nested loop territory; the supplier
    // side stays small at every SF, so BNLJ with a broadcast side is the
    // right plan even at scale — band-bin it only if both sides grow).
    "q_join_theta" -> ((s, dir) => {
      val sup = Tables(s, dir, "supplier"); val c = Tables(s, dir, "customer")
      sup.join(c, abs(sup("s_acctbal") - c("c_acctbal")) < lit(1.0))
        .select(sup("s_suppkey"), c("c_custkey"),
          round(abs(sup("s_acctbal") - c("c_acctbal")), 2).as("bal_diff"))
        .orderBy("s_suppkey", "c_custkey")
    }),

    // Interval/range join: purchase within 1h after a signup, same user.
    // Implemented as the 100 TB-safe shape: truncate to hour buckets,
    // explode the probe side to its 2 candidate buckets, equi-join on
    // (user, bucket), then apply the exact range residual. Each pair
    // matches exactly once because the build side has a single bucket.
    "q_join_range" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
      val sgn = ev.where(col("event_type") === "signup")
        .select(col("user_id"), col("ts").as("s_ts"), col("event_id").as("s_id"))
        .withColumn("bucket", explode(array(
          date_trunc("hour", col("s_ts")),
          date_trunc("hour", col("s_ts") + expr("INTERVAL 1 HOUR")))))
      val pur = ev.where(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("event_id").as("p_id"),
          date_trunc("hour", col("ts")).as("p_bucket"))
      sgn.join(pur, sgn("user_id") === pur("p_user") &&
          sgn("bucket") === pur("p_bucket") &&
          pur("p_ts") > sgn("s_ts") &&
          pur("p_ts") <= sgn("s_ts") + expr("INTERVAL 1 HOUR"))
        .select(col("user_id"), col("s_id"), col("p_id"), col("s_ts"), col("p_ts"))
        .orderBy("s_id", "p_id")
    }),

    // As-of join: for each event, the latest order of that customer with
    // o_orderdate <= ts (deterministic tiebreak on o_orderkey). Sorted
    // merge with carry-forward state — the 100 TB shape: union both
    // sides into one keyed stream, sort each user's rows by (time, kind,
    // key) with orders BEFORE events at equal time (the join is
    // inclusive), and let `last(order, ignoreNulls) OVER (... ROWS
    // UNBOUNDED PRECEDING)` carry the latest qualifying order onto every
    // event row. ONE shuffle on user_id and a linear per-user pass —
    // a hot user with m events and n orders costs m + n rows, where the
    // naive theta-join (events x all earlier orders, then top-1 per
    // event) materializes m*n intermediate rows before pruning.
    "q_join_asof" -> ((s, dir) =>
      latestOrderCarried(s, dir)
        .select(col("event_id"), col("user_id"),
          col("asof.o_orderkey").as("o_orderkey"),
          col("asof.o_orderdate").as("o_orderdate"))
        .orderBy("event_id")),

    // As-of with a TOLERANCE bound (pandas merge_asof's `tolerance`,
    // the feature-store staleness rule): the carried order only counts
    // if it is at most 7 days older than the event — a stale feature
    // is served as NULL rather than silently used (the
    // training-serving-skew guard every feature store enforces). Same
    // one-shuffle union + carry-forward shape as q_join_asof; the
    // bound is a POST-carry filter on the carried timestamp, so it
    // adds zero plan structure. Serves matched/stale as a nullable
    // match plus a flag, with per-event determinism from the same
    // tie rules.
    "q_join_asof_tolerance" -> ((s, dir) =>
      latestOrderCarried(s, dir)
        .withColumn("fresh", col("asof").isNotNull &&
          expr("ts <= asof.o_orderdate + INTERVAL 7 DAYS"))
        .select(col("event_id"), col("user_id"),
          when(col("fresh"), col("asof.o_orderkey")).as("o_orderkey"),
          when(col("fresh"), col("asof.o_orderdate")).as("o_orderdate"),
          col("fresh"))
        .orderBy("event_id")),

    // The SAME as-of join through the NATIVE operator (graft.plans
    // .AsOfJoin: logical node → planner strategy → physical two-pointer
    // merge): each side shuffles once on its own key and sorts within
    // partitions — no unioned reshaped stream, no window buffer. Three
    // independent implementations (this, the composed window form
    // above, the oracle's row_number recompute) must agree exactly.
    "q_join_asof_native" -> ((s, dir) => {
      val ev = Tables(s, dir, "events").select("user_id", "ts", "event_id")
      val o = Tables(s, dir, "orders")
        .select("o_custkey", "o_orderdate", "o_orderkey")
      graft.plans.AsOfJoin.asOf(ev, o,
          leftKey = "user_id", rightKey = "o_custkey",
          leftTime = "ts", rightTime = "o_orderdate",
          rightOrder = Seq("o_orderkey"))
        .select("event_id", "user_id", "o_orderkey", "o_orderdate")
        .orderBy("event_id")
    }),

    // Interval-OVERLAP join — two interval SETS, not q_join_range's
    // point-in-window: session co-presence. Each user's 30-min activity
    // sessions (the same session_window q_stream_session serves)
    // overlap-joined against OTHER users' sessions (half-open
    // a_start < b_end AND b_start < a_end) — "who was online together",
    // served as per-user-pair concurrent-session counts. The pairing is
    // the native sweep-line operator (plans.IntervalOverlap): one events
    // scan and one sessionization, one stripe shuffle, and a per-stripe
    // sweep whose work follows the overlap count, not the Σ n_bucket²
    // candidates of an hour-bucket equi-join. Each pair is reported once
    // (in the stripe of its later start), so no DISTINCT runs, and the
    // key starts no job while it is built.
    "q_join_interval" -> ((s, dir) => {
      val sess = Tables(s, dir, "events")
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"), col("w.start").as("s_start"), col("w.end").as("s_end"))
      intervalOverlapPairs(sess).orderBy("ua", "ub")
    }),

    // FORWARD as-of join — conversion attribution, the mirror the
    // backward pair above can't express: for each click, the FIRST
    // purchase by the same user STRICTLY after it and within the 6h
    // attribution window (ties on purchase id). Same sorted-merge
    // carry shape as q_join_asof, reflected: one user_id shuffle, a
    // linear per-user pass, `first(purchase) OVER (... CURRENT ROW AND
    // UNBOUNDED FOLLOWING)` — purchases sort BEFORE clicks at equal
    // time (kind 0 < 1), so an equal-timestamp purchase is correctly
    // outside the strict window. The carried purchase is the globally
    // next one, so the 6h bound is a post-filter: if the NEXT purchase
    // is already beyond the window, none qualifies. The naive form
    // (clicks x later purchases, top-1) is the m*n blowup the carry
    // avoids on hot users.
    "q_join_asof_forward" -> ((s, dir) => {
      val w = carryOrder("pur.p_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      clickPurchaseStream(s, dir)
        .withColumn("nxt", first(col("pur"), ignoreNulls = true).over(w))
        .where(col("kind") === 1)
        .withColumn("hit",
          col("nxt").isNotNull &&
            col("nxt.p_ts") <= col("c_ts") + expr("INTERVAL 6 HOURS"))
        .select(col("event_id"), col("user_id"),
          when(col("hit"), col("nxt.p_id")).as("p_id"),
          when(col("hit"), col("nxt.p_ts")).as("p_ts"),
          col("hit").as("converted"))
        .orderBy("event_id")
    }),

    // NEAREST as-of join — both directions at once: for each click, the
    // purchase by the same user with the smallest |Δt| on EITHER side
    // (tie → the earlier purchase). Composes the backward and forward
    // carries over ONE unioned keyed stream: both frames share the same
    // (t, kind, p_id) partition order, so Spark computes one user_id
    // shuffle + one sort + a single Window operator evaluating both,
    // then an integer-microsecond comparison picks the side. The naive
    // form (clicks × all purchases, global argmin) is the m×n blowup
    // both carries exist to avoid — it survives only as the oracle.
    // Determinism: prev carry = max (p_ts, p_id) among p_ts <= c_ts
    // (equal-time purchases sort before the click and count as Δ=0),
    // next carry = min (p_ts, p_id) strictly after; |Δ| ties prefer
    // prev — all integer comparisons, no rounding boundary.
    "q_join_asof_nearest" -> ((s, dir) => {
      // pre-project the purchase-id sort key: two windows extracting
      // pur.p_id independently get distinct aliases, distinct window
      // specs, and TWO Window operators — on one shared column the
      // planner fuses both frames into a single Window pass
      val ord = carryOrder("pid")
      val wPrev = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wNext = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      clickPurchaseStream(s, dir)
        .withColumn("pid", col("pur.p_id"))
        .select(col("*"),
          last(col("pur"), ignoreNulls = true).over(wPrev).as("prev"),
          first(col("pur"), ignoreNulls = true).over(wNext).as("nxt"))
        .where(col("kind") === 1)
        .withColumn("c_us", expr("unix_micros(CAST(c_ts AS TIMESTAMP))"))
        .withColumn("dp", col("c_us") - expr("unix_micros(CAST(prev.p_ts AS TIMESTAMP))"))
        .withColumn("dn", expr("unix_micros(CAST(nxt.p_ts AS TIMESTAMP))") - col("c_us"))
        .withColumn("pick", when(col("prev").isNotNull &&
            (col("nxt").isNull || col("dp") <= col("dn")), col("prev"))
          .otherwise(col("nxt")))
        .select(col("event_id"), col("user_id"),
          col("pick.p_id").as("p_id"), col("pick.p_ts").as("p_ts"),
          (expr("unix_micros(CAST(pick.p_ts AS TIMESTAMP))") - col("c_us"))
            .as("delta_us"))
        .orderBy("event_id")
    }),

    // Salted join: the hot-key escape hatch (SURVEY.md §7.6) as an
    // oracle-checked query — output identical to the plain equi-join.
    // Built on the one tested rewrite, Salting.saltedInnerJoin: the fact
    // side gets a deterministic salt in [0, 8) from event_id (never
    // rand() — retries must re-salt identically); the dim side is
    // replicated to all 8 salts and shuffle_hash-pinned, so the shuffle
    // key (user_id, salt) spreads any hot user across 8 reducers at the
    // cost of an 8x dim replication (dims are small — that is why they
    // are the replicated side). SkewSpec proves the utility's
    // row-identity and salt-spread on a synthetically skewed key.
    "q_join_salted" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
      val cust = Tables(s, dir, "customer")
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      Salting.saltedInnerJoin(ev, cust, "user_id", col("event_id"), buckets = 8)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_events"),
          dbl(sum(dec6(col("value")))).as("sum_value"))
        .orderBy("c_mktsegment")
    }),

    // Runtime Bloom-filter join pruning: a selective dimension filter
    // (one order priority, ~20% of orders) seeds a bloom filter that is
    // INJECTED into the fact-side scan, so lineitem rows that cannot
    // join are dropped at the scan instead of riding the shuffle — at
    // 100 TB this is the difference between shuffling the whole fact
    // table and shuffling the ~selectivity fraction that can match.
    // The thresholds are lowered scoped-to-this-query (fixture tables
    // sit far under the 10 GB production default) and the frame is
    // rebuilt from the optimized plan made under them, so every later
    // action (count, collect, a write) runs the filtered plan;
    // might_contain is REQUIRED in that plan, so the query fails loudly
    // if the filter ever stops injecting. Bloom filters inject only for
    // SHUFFLE joins (a broadcast join already prunes at the probe); at
    // fixture scale the filtered dim would broadcast — exactly not the
    // 100 TB situation the filter exists for. The optimizer injects only
    // when neither side fits the broadcast threshold (a join hint does
    // not count), so the thresholds are off in scope; the shuffle_merge
    // hint keeps the shuffle join when later actions re-plan under the
    // restored thresholds.
    "q_join_bloom" -> ((s, dir) => GraftSession.withConfs(s,
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val o = Tables(s, dir, "orders")
        .where(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey", "o_orderdate")
        .hint("shuffle_merge")
      val plan = Tables(s, dir, "lineitem")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_lines"),
          dbl(sum(money(col("l_quantity")))).as("sum_qty"))
        .orderBy("l_returnflag")
        .queryExecution.optimizedPlan
      require(plan.toString.contains("might_contain"),
        s"bloom filter was not injected into the fact scan:\n${plan.toString.take(3000)}")
      Bridge.ofRows(s, plan)
    }),

    // 4-way star join, TPC-H Q5 shape: revenue per nation for 1996.
    "q_join_multiway" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem"); val o = Tables(s, dir, "orders")
      val c = Tables(s, dir, "customer"); val n = Tables(s, dir, "nation")
      val r = Tables(s, dir, "region")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .join(r, n("n_regionkey") === r("r_regionkey"))
        .where(o("o_orderdate") >= tsLit("1996-01-01") &&
               o("o_orderdate") < tsLit("1997-01-01"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_lines"),
          dbl(sum(money(col("l_extendedprice")) * frac(lit(1.0) - col("l_discount")))).as("revenue"))
        .orderBy("r_name", "n_name")
    }),
  )

  /** The carry order of the composed as-of joins: per user, by time,
    * then `kind` (0 = the carried side sorts first at equal time), then
    * the carried row's id `tiebreak` (nulls — the probe rows — last). */
  private def carryOrder(tiebreak: String) = Window.partitionBy("user_id")
    .orderBy(col("t"), col("kind"), col(tiebreak).asc_nulls_last)

  /** q_join_asof's carry: orders (kind 0, `ord` struct) unioned with
    * events (kind 1) into one keyed stream, the latest order so far
    * carried onto each event row as `asof`; event rows only. Order rows
    * sort by ascending o_orderkey inside a tied t, so the LAST order
    * seen at any point is the (date desc, orderkey desc) winner. */
  private def latestOrderCarried(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(col("user_id"), col("ts").as("t"), lit(1).as("kind"),
        col("event_id"), col("ts"),
        lit(null).cast("struct<o_orderkey:bigint,o_orderdate:timestamp_ntz>").as("ord"))
    val o = Tables(s, dir, "orders")
      .select(col("o_custkey").as("user_id"),
        col("o_orderdate").as("t"), lit(0).as("kind"),
        lit(null).cast("bigint").as("event_id"),
        lit(null).cast("timestamp_ntz").as("ts"),
        struct(col("o_orderkey"), col("o_orderdate")).as("ord"))
    val w = carryOrder("ord.o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    o.unionByName(ev)
      .withColumn("asof", last(col("ord"), ignoreNulls = true).over(w))
      .where(col("kind") === 1)
  }

  /** The forward and nearest as-of stream: purchases (kind 0, `pur`
    * struct of p_id and p_ts) unioned with clicks (kind 1, `c_ts`). */
  private def clickPurchaseStream(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val c = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("t"), lit(1).as("kind"),
        col("event_id"), col("ts").as("c_ts"),
        lit(null).cast("struct<p_id:bigint,p_ts:timestamp_ntz>").as("pur"))
    val p = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("t"), lit(0).as("kind"),
        lit(null).cast("bigint").as("event_id"),
        lit(null).cast("timestamp_ntz").as("c_ts"),
        struct(col("event_id").as("p_id"), col("ts").as("p_ts")).as("pur"))
    p.unionByName(c)
  }

  /** The interval-overlap pair counts behind q_join_interval, factored so
    * SkewSpec can drive the same code path with a synthetic hot-hour
    * session set. Input: one interval per row (user_id, s_start, s_end);
    * output: per user-pair concurrent-interval counts (ua < ub, half-open
    * overlap), from the sweep's one row per overlapping pair. */
  private[graft] def intervalOverlapPairs(sess: DataFrame): DataFrame =
    IntervalOverlap.pairs(sess, "user_id", "s_start", "s_end")
      .groupBy("ua", "ub")
      .agg(count(lit(1)).as("n_concurrent"))

  /** DuckDB's backward as-of recompute: each event's best earlier order
    * by row_number over the LEFT join; `extra` adds inner columns and
    * `cols` is the outer projection. */
  private def asOfOracle(cols: String, extra: String): String =
    s"SELECT $cols FROM " +
      s"(SELECT e.event_id, e.user_id, o.o_orderkey, o.o_orderdate, $extra" +
      "row_number() OVER (PARTITION BY e.event_id ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn " +
      "FROM events e LEFT JOIN orders o ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts) " +
      "WHERE rn = 1 ORDER BY event_id"

  /** DuckDB's click and purchase CTEs for the forward and nearest as-of oracles. */
  private val clickPurchaseOracleCtes = "WITH c AS (SELECT event_id, user_id, ts AS c_ts " +
    "FROM events WHERE event_type = 'click'), " +
    "p AS (SELECT event_id AS p_id, user_id, ts AS p_ts " +
    "FROM events WHERE event_type = 'purchase'), "

  def oracles: Map[String, String] = Map(
    "q_join_inner" -> ("SELECT o_orderkey, c_name, o_totalprice FROM orders " +
      "JOIN customer ON o_custkey = c_custkey ORDER BY o_orderkey"),

    "q_join_broadcast" -> ("SELECT p_brand, count(*) AS n, " +
      "CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty " +
      "FROM lineitem JOIN part ON l_partkey = p_partkey " +
      "GROUP BY p_brand ORDER BY p_brand"),

    "q_join_sortmerge" -> ("SELECT o_orderpriority, count(*) AS n_lines, " +
      "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1.0 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue " +
      "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
      "GROUP BY o_orderpriority ORDER BY o_orderpriority"),

    "q_join_left" -> ("SELECT doc_id, lang, label, (vec_id IS NOT NULL) AS has_vec " +
      "FROM documents LEFT JOIN embeddings ON doc_id = vec_id ORDER BY doc_id"),

    "q_join_full" -> ("SELECT coalesce(doc_id, vec_id) AS join_key, lang, label, " +
      "(doc_id IS NOT NULL) AS has_doc, (vec_id IS NOT NULL) AS has_vec " +
      "FROM documents FULL JOIN embeddings ON doc_id = vec_id ORDER BY join_key"),

    "q_join_semi" -> ("SELECT c_custkey, c_name FROM customer WHERE EXISTS " +
      "(SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT') " +
      "ORDER BY c_custkey"),

    "q_join_anti" -> ("SELECT p_partkey, p_name FROM part WHERE NOT EXISTS " +
      "(SELECT 1 FROM lineitem WHERE l_partkey = p_partkey) ORDER BY p_partkey"),

    "q_join_cross" -> ("SELECT r_name, n_name FROM region CROSS JOIN nation " +
      "ORDER BY r_name, n_name"),

    "q_join_theta" -> ("SELECT s_suppkey, c_custkey, " +
      "round(abs(s_acctbal - c_acctbal), 2) AS bal_diff " +
      "FROM supplier JOIN customer ON abs(s_acctbal - c_acctbal) < 1.0 " +
      "ORDER BY s_suppkey, c_custkey"),

    "q_join_range" -> ("SELECT e1.user_id AS user_id, e1.event_id AS s_id, " +
      "e2.event_id AS p_id, e1.ts AS s_ts, e2.ts AS p_ts " +
      "FROM events e1 JOIN events e2 ON e1.user_id = e2.user_id " +
      "AND e2.ts > e1.ts AND e2.ts <= e1.ts + INTERVAL 1 HOUR " +
      "WHERE e1.event_type = 'signup' AND e2.event_type = 'purchase' " +
      "ORDER BY s_id, p_id"),

    "q_join_asof" -> asOfOracle("event_id, user_id, o_orderkey, o_orderdate", ""),

    // the same backward recompute with the staleness bound applied to
    // the WINNER (not the candidate set — a stale best match nulls,
    // it does not fall back to an older one, exactly the carry-forward
    // semantics)
    "q_join_asof_tolerance" -> asOfOracle("event_id, user_id, " +
      "CASE WHEN fresh THEN o_orderkey END AS o_orderkey, " +
      "CASE WHEN fresh THEN o_orderdate END AS o_orderdate, fresh",
      "(o.o_orderkey IS NOT NULL AND " +
      "e.ts <= o.o_orderdate + INTERVAL 7 DAY) AS fresh, "),

    // identical recompute — the native operator must match it exactly
    "q_join_asof_native" -> asOfOracle("event_id, user_id, o_orderkey, o_orderdate", ""),

    // plain overlap self-join over the same gaps-and-islands sessions
    // the stream_session oracle builds (>= at exactly 30:00 mirrors
    // session_window's strict-overlap merge rule); no bucketing needed
    // at oracle scale
    "q_join_interval" -> ("WITH e AS (SELECT user_id, ts, event_id, " +
      "CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL " +
      "OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) >= INTERVAL 30 MINUTE " +
      "THEN 1 ELSE 0 END AS new_s FROM events), " +
      "sess AS (SELECT user_id, ts, SUM(new_s) OVER (PARTITION BY user_id " +
      "ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM e), " +
      "s AS (SELECT user_id, min(ts) AS s_start, max(ts) + INTERVAL 30 MINUTE AS s_end " +
      "FROM sess GROUP BY user_id, sid) " +
      "SELECT a.user_id AS ua, b.user_id AS ub, count(*) AS n_concurrent " +
      "FROM s a JOIN s b ON a.user_id < b.user_id " +
      "AND a.s_start < b.s_end AND b.s_start < a.s_end " +
      "GROUP BY a.user_id, b.user_id ORDER BY ua, ub"),

    // LEFT-join recompute of the forward carry: first purchase strictly
    // after the click and inside the 6h window, (p_ts, p_id) tiebreak
    "q_join_asof_forward" -> (clickPurchaseOracleCtes +
      "m AS (SELECT c.event_id, p.p_id, p.p_ts, " +
      "row_number() OVER (PARTITION BY c.event_id ORDER BY p.p_ts, p.p_id) AS rn " +
      "FROM c JOIN p ON c.user_id = p.user_id " +
      "AND p.p_ts > c.c_ts AND p.p_ts <= c.c_ts + INTERVAL 6 HOUR) " +
      "SELECT c.event_id, c.user_id, m.p_id, m.p_ts, " +
      "m.p_id IS NOT NULL AS converted " +
      "FROM c LEFT JOIN (SELECT * FROM m WHERE rn = 1) m USING (event_id) " +
      "ORDER BY event_id"),

    // the naive all-pairs argmin the two carries avoid, as the oracle:
    // rank by (|Δ| asc, prev-side first, then the carry's own id rule —
    // prev takes the LARGEST p_id at equal time (it is a last()-carry),
    // next the smallest)
    "q_join_asof_nearest" -> (clickPurchaseOracleCtes +
      "pairs AS (SELECT c.event_id, p.p_id, p.p_ts, " +
      "epoch_us(p.p_ts) - epoch_us(c.c_ts) AS delta_us, " +
      "abs(epoch_us(p.p_ts) - epoch_us(c.c_ts)) AS ad, " +
      "CASE WHEN p.p_ts <= c.c_ts THEN 0 ELSE 1 END AS side " +
      "FROM c JOIN p ON c.user_id = p.user_id), " +
      "best AS (SELECT event_id, p_id, p_ts, CAST(delta_us AS BIGINT) AS delta_us, " +
      "row_number() OVER (PARTITION BY event_id ORDER BY ad, side, " +
      "CASE WHEN side = 0 THEN -p_id ELSE p_id END) AS rn FROM pairs) " +
      "SELECT c.event_id, c.user_id, b.p_id, b.p_ts, b.delta_us " +
      "FROM c LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (event_id) " +
      "ORDER BY event_id"),

    "q_join_salted" -> ("SELECT c_mktsegment, count(*) AS n_events, " +
      "CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value " +
      "FROM events JOIN customer ON user_id = c_custkey " +
      "GROUP BY c_mktsegment ORDER BY c_mktsegment"),

    "q_join_bloom" -> ("SELECT l_returnflag, count(*) AS n_lines, " +
      "CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty " +
      "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
      "WHERE o_orderpriority = '1-URGENT' " +
      "GROUP BY l_returnflag ORDER BY l_returnflag"),

    "q_join_multiway" -> ("SELECT r_name, n_name, count(*) AS n_lines, " +
      "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1.0 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue " +
      "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
      "JOIN customer ON o_custkey = c_custkey " +
      "JOIN nation ON c_nationkey = n_nationkey " +
      "JOIN region ON n_regionkey = r_regionkey " +
      "WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01' " +
      "GROUP BY r_name, n_name ORDER BY r_name, n_name"),
  )
}
