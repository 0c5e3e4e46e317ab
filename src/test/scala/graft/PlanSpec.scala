package graft

import org.scalatest.funsuite.AnyFunSuite

/** The physical plans we depend on at scale, locked in as assertions —
  * "it ran" is not "it ran with the right plan" (builder prompt: explain
  * and iterate). If Catalyst ever stops picking these shapes, these fail
  * before the benchmark does.
  */
class PlanSpec extends AnyFunSuite {
  import TestSpark._

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf0001).queryExecution.executedPlan.toString

  test("q_scan_pushdown pushes the shipdate predicate and prunes columns") {
    val p = plan("q_scan_pushdown")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p.take(2000))
    // ReadSchema carries only the 3 projected + 1 filter column
    assert(p.contains("l_orderkey") && !p.contains("l_extendedprice"))
  }

  test("q_join_broadcast builds a BroadcastHashJoin") {
    assert(plan("q_join_broadcast").contains("BroadcastHashJoin"))
  }

  test("q_join_sortmerge honors the merge hint") {
    assert(plan("q_join_sortmerge").contains("SortMergeJoin"))
  }

  test("q_limit_topk collapses to TakeOrderedAndProject (no global sort)") {
    assert(plan("q_limit_topk").contains("TakeOrderedAndProject"))
  }

  test("q_agg_hashgroup is a two-phase hash aggregate") {
    val p = plan("q_agg_hashgroup")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "expected partial+final HashAggregate")
  }

  test("composed TPC-H queries keep the scale-safe shapes") {
    // Q3: the top-10 cut is TakeOrderedAndProject (never a global sort),
    // aggregation is two-phase, and the date/segment predicates push
    // into the parquet scans
    val p3 = plan("q_sql_tpch3")
    assert(p3.contains("TakeOrderedAndProject"), p3.take(2000))
    assert("HashAggregate".r.findAllIn(p3).size >= 2, p3.take(2000))
    assert(p3.contains("PushedFilters: [IsNotNull(c_mktsegment)") ||
      p3.contains("EqualTo(c_mktsegment,BUILDING)"), p3.take(3000))
    // Q10: the 25-row nation dim must broadcast, never shuffle lineitem
    val p10 = plan("q_sql_tpch10")
    assert(p10.contains("BroadcastHashJoin"), p10.take(2000))
    assert(p10.contains("TakeOrderedAndProject"), p10.take(2000))
    // Q18: the HAVING subquery plans as a join (semi or aggregated-inner),
    // not a per-row re-execution, and the top-100 cut stays TakeOrdered
    val p18 = plan("q_sql_tpch18")
    assert(p18.contains("TakeOrderedAndProject"), p18.take(2000))
    assert(!p18.toLowerCase.contains("cartesianproduct"), p18.take(2000))
    // Q17: the correlated avg subquery must DECORRELATE — one per-part
    // aggregate of lineitem joined back on l_partkey, no scalar-subquery
    // node re-executing per outer row
    val p17 = plan("q_sql_tpch17")
    assert(!p17.contains("ScalarSubquery"), p17.take(3000))
    assert("HashAggregate".r.findAllIn(p17).size >= 2, p17.take(2000))
    assert(!p17.toLowerCase.contains("cartesianproduct"), p17.take(2000))
  }

  test("TPC-H Q20-Q22 decorrelate into joins (no per-outer-row re-execution)") {
    // Q20: the nested IN plans as a LEFT SEMI join of supplier against
    // the aggregated supply history, and the two correlated HAVING
    // scalars (per-part distinct-supplier count, per-part total
    // quantity) become per-part aggregate joins — each a two-phase
    // HashAggregate computed ONCE over lineitem, never re-run per outer
    // row; nothing degenerates to a cartesian product
    val p20 = plan("q_sql_tpch20")
    assert(p20.contains("LeftSemi"), p20.take(3000))
    assert("HashAggregate".r.findAllIn(p20).size >= 4,
      s"expected the decorrelated per-part aggregates:\n${p20.take(3000)}")
    assert(!p20.toLowerCase.contains("cartesianproduct"), p20.take(3000))
    // Q21: chained EXISTS + NOT EXISTS against the same fact decorrelate
    // into one LeftSemi and one LeftAnti join of lineitem against itself
    // on l_orderkey (the non-equi "other supplier / late" conditions ride
    // as join residuals); the top-20 cut stays TakeOrderedAndProject
    val p21 = plan("q_sql_tpch21")
    assert(p21.contains("LeftSemi") && p21.contains("LeftAnti"), p21.take(3000))
    assert(!p21.toLowerCase.contains("cartesianproduct"), p21.take(3000))
    assert(p21.contains("TakeOrderedAndProject"), p21.take(3000))
    // Q22: the uncorrelated global-average scalar stays a ONE-shot
    // single-partition subquery feeding the customer filter (no join,
    // no re-execution), and the NOT EXISTS is a LeftAnti against orders
    val p22 = plan("q_sql_tpch22")
    assert(p22.contains("LeftAnti"), p22.take(3000))
    assert(p22.contains("Subquery"), p22.take(3000))
    assert(!p22.toLowerCase.contains("cartesianproduct"), p22.take(3000))
  }

  test("TPC-H Q4/Q13/Q15/Q16/Q19 keep their signature shapes") {
    // Q4: the correlated EXISTS (inner references the outer's
    // o_orderdate) decorrelates to a LeftSemi with the lateness
    // comparison as a join residual
    val p4 = plan("q_sql_tpch4")
    assert(p4.contains("LeftSemi"), p4.take(3000))
    assert(!p4.toLowerCase.contains("cartesianproduct"), p4.take(3000))
    // Q13: left OUTER join (order-less customers must survive to count
    // 0) feeding the two stacked aggregations
    val p13 = plan("q_sql_tpch13")
    assert(p13.contains("LeftOuter"), p13.take(3000))
    assert("HashAggregate".r.findAllIn(p13).size >= 4,
      s"expected both aggregation levels two-phase:\n${p13.take(3000)}")
    // Q15: the MAX-of-the-CTE scalar is a one-shot single-partition
    // subquery feeding a filter — never a per-row re-aggregation
    val p15 = plan("q_sql_tpch15")
    assert(p15.contains("Subquery"), p15.take(3000))
    assert(!p15.toLowerCase.contains("cartesianproduct"), p15.take(3000))
    // Q16: NOT IN plans as the null-aware LeftAnti broadcast join;
    // count(DISTINCT) expands to the two-phase distinct aggregate
    val p16 = plan("q_sql_tpch16")
    assert(p16.contains("LeftAnti"), p16.take(3000))
    assert(p16.contains("TakeOrderedAndProject"), p16.take(3000))
    // Q19: the OR-of-ANDs predicate spans both join sides, so it stays
    // a join residual — but each side's disjunction ENVELOPE must be
    // derived and pushed into its parquet scan (quantity bounds into
    // lineitem, brand/size into part); the join itself stays equi-hash,
    // never cartesian
    val p19 = plan("q_sql_tpch19")
    assert(p19.contains("BroadcastHashJoin") || p19.contains("ShuffledHashJoin") ||
      p19.contains("SortMergeJoin"), p19.take(3000))
    assert(!p19.toLowerCase.contains("cartesianproduct"), p19.take(3000))
    assert(p19.contains("DataFilters: [isnotnull(l_partkey"), p19.take(4000))
    assert("DataFilters: \\[[^\\]]*l_quantity".r.findFirstIn(p19).isDefined,
      s"quantity envelope not pushed to the lineitem scan:\n${p19.take(4000)}")
    assert("DataFilters: \\[[^\\]]*p_brand".r.findFirstIn(p19).isDefined,
      s"brand envelope not pushed to the part scan:\n${p19.take(4000)}")
  }

  test("TPC-H Q1/Q2/Q6/Q9/Q12 keep their signature shapes") {
    // Q1: the 8-aggregate rollup is two-phase (map-side collapse to 6
    // groups before the shuffle) and the shipdate cut reaches the scan
    val p1 = plan("q_sql_tpch1")
    assert("HashAggregate".r.findAllIn(p1).size >= 2, p1.take(2000))
    assert("PushedFilters: \\[[^\\]]*l_shipdate".r.findFirstIn(p1).isDefined,
      s"shipdate cut not pushed:\n${p1.take(3000)}")
    // Q2: the correlated MIN over the derived supply relation must
    // DECORRELATE — a per-part min aggregate computed once and joined
    // back, never a scalar subquery re-run per outer row, and never a
    // cartesian; both supply consumers are two-phase aggregates
    val p2 = plan("q_sql_tpch2")
    assert(!p2.contains("ScalarSubquery"), p2.take(3000))
    assert(!p2.toLowerCase.contains("cartesianproduct"), p2.take(3000))
    assert("HashAggregate".r.findAllIn(p2).size >= 4,
      s"expected both supply aggregations two-phase:\n${p2.take(3000)}")
    assert(p2.contains("TakeOrderedAndProject"), p2.take(3000))
    // Q6: the pure scan-filter-sum — ALL THREE range predicates reach
    // the parquet scan so row-group stats can prune at scale
    val p6 = plan("q_sql_tpch6")
    for (col <- Seq("l_shipdate", "l_discount", "l_quantity"))
      assert(s"PushedFilters: \\[[^\\]]*$col".r.findFirstIn(p6).isDefined,
        s"$col predicate not pushed:\n${p6.take(3000)}")
    assert(!p6.contains("Join"), p6.take(2000))
    // Q9: dims broadcast; the only big shuffle is the fact spine; the
    // LIKE rides the part scan; aggregation is two-phase
    val p9 = plan("q_sql_tpch9")
    assert(p9.contains("BroadcastHashJoin"), p9.take(3000))
    assert("HashAggregate".r.findAllIn(p9).size >= 2, p9.take(3000))
    assert(!p9.toLowerCase.contains("cartesianproduct"), p9.take(3000))
    // Q12: the cross-side lateness predicate rides the equi-join as a
    // residual (it cannot push alone), the date window DOES push into
    // the lineitem scan, and the pivot collapses map-side
    val p12 = plan("q_sql_tpch12")
    assert("PushedFilters: \\[[^\\]]*l_shipdate".r.findFirstIn(p12).isDefined,
      s"date window not pushed to lineitem:\n${p12.take(3000)}")
    assert("HashAggregate".r.findAllIn(p12).size >= 2, p12.take(3000))
    assert(!p12.toLowerCase.contains("cartesianproduct"), p12.take(3000))
  }

  test("q_text_chunks is map-only: no shuffle before the output ordering") {
    val p = plan("q_text_chunks")
    // chunk generation must be sequence+explode projections of the doc
    // row — any hashpartitioning exchange means a join or window crept in
    assert(p.contains("Generate explode"), p.take(2000))
    assert(!p.contains("Exchange hashpartitioning"),
      s"chunking must not shuffle:\n${p.take(2000)}")
    assert(!p.contains("Join"), p.take(2000))
  }

  test("q_text_bpe: merge rounds ride 1-row broadcasts over the vocab table") {
    val p = plan("q_text_bpe")
    // each of the 4 merge applications is a 1-row broadcast onto the
    // word-count table (BroadcastNestedLoopJoin = the declared cross
    // join); a sort-merge or cartesian here would re-shuffle the vocab
    // per round
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size >= 4, p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
    assert(!p.toLowerCase.contains("cartesianproduct"), p.take(2000))
  }

  test("q_scd2 folds the event log in ONE user_id shuffle (no join, no re-shuffle)") {
    val df = SparkEntry.queries("q_scd2")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("Join"), s"SCD2 build must not join:\n${p.take(2000)}")
    val ex = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).size
    assert(ex == 1, s"expected exactly one user_id exchange, got $ex:\n${p.take(2500)}")
  }

  test("q_join_pointintime is a merge-and-carry, not a range join") {
    val df = SparkEntry.queries("q_join_pointintime")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the interval condition must never surface as a join (Spark would
    // plan it as a per-user loop join — quadratic per key); the union +
    // carry-forward form costs two user_id exchanges (dimension build,
    // union window) and nothing else
    assert(!p.contains("Join"), s"PIT enrichment must not join:\n${p.take(2000)}")
    val ex = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).size
    assert(ex == 2, s"expected two user_id exchanges, got $ex:\n${p.take(2500)}")
  }

  test("q_agg_bitmap: exact distinct with NO countDistinct expand") {
    val p = plan("q_agg_bitmap")
    // the bitmap chunking must keep both aggregations plain two-phase
    // hash aggregates; an Expand node means countDistinct crept back in
    assert(!p.contains("Expand"), p.take(2000))
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"expected two two-phase aggregates:\n${p.take(2000)}")
  }

  test("q_ts_ewma: 16 lag terms ride ONE user_id window pass") {
    val p = plan("q_ts_ewma")
    assert(!p.contains("Join"), s"EWMA must not self-join per offset:\n${p.take(2000)}")
    val ex = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).size
    assert(ex == 1, s"expected one user_id exchange, got $ex:\n${p.take(2500)}")
    assert("Window".r.findAllIn(p).size == 1,
      s"expected a single Window node:\n${p.take(2500)}")
  }

  test("q_win_funnel funnels through ONE user_id shuffle (no join cascade)") {
    val p = plan("q_win_funnel")
    // the three chained conditional MINs and the final per-user collapse
    // all ride one hash partitioning on user_id; a per-step join cascade
    // would show several exchanges and join nodes
    val hashEx = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).size
    assert(hashEx == 1, s"expected exactly 1 user_id exchange, got $hashEx:\n${p.take(3000)}")
    assert(!p.contains("Join"), p.take(3000))
  }

  test("q_sim_mrl broadcasts probes in both stages; candidates join by id") {
    val p = plan("q_sim_mrl")
    assert(p.contains("BroadcastExchange"), p.take(2000))
    // stage 2 joins candidate IDS back to the full-width table — the
    // full vectors must not ride through the coarse cross join
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("CrossJoin"),
      p.take(2000))
  }

  test("q_sim_pq: codebook and probe distance tables broadcast; serving joins codes only") {
    val p = plan("q_sim_pq")
    // encode stage: the 128-row codebook broadcasts onto the subvector
    // rows; serve stage: the 10-row probe distance tables broadcast onto
    // the code vectors (BroadcastNestedLoopJoin = the declared cross
    // join). The full-width fx vectors must never reach the serve join.
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(!p.toLowerCase.contains("sortmergejoin"), p.take(3000))
  }

  test("q_sim_pq_trained: the Lloyd's round keeps the broadcast-only shape") {
    val p = plan("q_sim_pq_trained")
    // training adds an assignment pass (codebook broadcast onto the
    // training subvectors) and one narrow (s, k, pos) update shuffle —
    // encode and serve stay identical to q_sim_pq: codebook broadcast
    // hash join + probe tables via BroadcastNestedLoopJoin, never a
    // sort-merge over the corpus
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(!p.toLowerCase.contains("sortmergejoin"), p.take(3000))
  }

  test("q_sim_ivf_trained: probes pick buckets under broadcast centroids; candidates equi-join on k") {
    val p = plan("q_sim_ivf_trained")
    // the kmeans assignment + the probe nprobe selection each ride a
    // 1-row broadcast centroid array
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size >= 2, p.take(3000))
    // bucket probing must be keyed on the cluster id — an unkeyed
    // product would be the exhaustive search IVF exists to avoid
    assert(!p.toLowerCase.contains("cartesianproduct"), p.take(3000))
  }

  test("q_sim_ivfpq: residual codebook + probe tables broadcast; serve equi-joins the bucket") {
    val p = plan("q_sim_ivfpq")
    // centroids (1-row array) and the residual codebook (128 rows)
    // broadcast; the serve stage pairs candidates with probe tables via
    // an EQUI join on the coarse bucket k — IVF's prune, never flat PQ's
    // declared cross join and never a cartesian
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.toLowerCase.contains("cartesianproduct"), p.take(3000))
    assert(!p.toLowerCase.contains("sortmergejoin"), p.take(3000))
  }

  test("q_agg_countmin: lookups join the broadcast grid") {
    val p = plan("q_agg_countmin")
    // 1024 cells whatever the corpus size — the grid must broadcast onto
    // the 40 lookup rows, never shuffle-join them
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.toLowerCase.contains("sortmergejoin"), p.take(3000))
  }

  test("q_cluster_kmeans assigns map-side: centroids broadcast, corpus never re-sorted") {
    val p = plan("q_cluster_kmeans")
    // the served assignment rides a 1-row broadcast centroid array
    // (BroadcastNestedLoopJoin); the TRAINING passes run once inside the
    // memoized centroid build (TextOps.builtCentroids — the nearDupEdges
    // pattern), so the consumer plan scans the pinned centroid row
    // instead of re-deriving two Lloyd's iterations per reference
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size >= 1, p.take(3000))
    assert(p.contains("Scan ExistingRDD"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.toLowerCase.contains("cartesianproduct"), p.take(3000))
  }

  test("q_dedup_semantic: centroids broadcast; pairs keyed on the cluster id") {
    val p = plan("q_dedup_semantic")
    // the shared kmeans assignment's two 1-row broadcast centroid arrays
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size >= 2, p.take(3000))
    // the intra-cluster pair stage must be an equi-join on k — an
    // unkeyed product would be the all-pairs cosine SemDeDup replaces
    assert(!p.toLowerCase.contains("cartesianproduct"), p.take(3000))
  }

  test("q_dedup_bloom: the filter broadcasts; the reference corpus never joins") {
    val p = plan("q_dedup_bloom")
    // the probe join must carry the <=66-row filter by broadcast
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.toLowerCase.contains("cartesianproduct"), p.take(3000))
  }

  test("q_text_bpe_encode: merges and lexicon broadcast; the corpus never re-shuffles") {
    val p = plan("q_text_bpe_encode")
    // 4 merge rounds = 4 one-row broadcasts over the vocab table
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size >= 4, p.take(3000))
    // the corpus-side tokenize pass joins the merged lexicon by broadcast
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("q_sim_topk broadcasts the probe side") {
    // every key ranked by the shared probe top-k kernel
    for (k <- Seq("q_sim_topk", "q_sim_lsh", "q_sim_quantized", "q_sim_mrl",
        "q_sim_ivf", "q_sim_ivf_trained", "q_sim_filtered", "q_sim_recall",
        "q_sim_pq", "q_sim_pq_trained", "q_sim_ivfpq", "q_sim_recall_pq",
        "q_sim_recall_curve", "q_sim_pq_bits")) {
      val p = plan(k)
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
        s"$k: ${p.take(2000)}")
    }
  }

  test("q_dedup_ngram stays in whole-stage codegen through the custom expression") {
    val df = SparkEntry.queries("q_dedup_ngram")(spark, sf0001)
    df.collect() // finalize THIS df's adaptive plan (count() would build a new one)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("sorted_jaccard_ge"))
    // '*(n)' marks whole-stage-codegen stages in the finalized plan
    assert(p.contains("*("), p.take(1500))
  }

  test("q_sample_mixture broadcasts the rate table (corpus side stays map-only)") {
    val p = plan("q_sample_mixture")
    // the docs-rates join must be broadcast: a sort-merge here would
    // shuffle the whole corpus to join a #strata-row table
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
  }

  test("q_sample_temperature broadcasts the sqrt-rate table like the mixture query") {
    val p = plan("q_sample_temperature")
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
  }

  test("q_multimodal_cluster broadcasts the centroid arrays (members never reshuffled)") {
    val df = SparkEntry.queries("q_multimodal_cluster")(spark, sf0001)
    df.collect() // finalize the adaptive plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"), p.take(1500))
  }

  test("flagship plan has no cartesian products or unexpected sorts before aggregation") {
    val p = plan("q_agg_hashgroup")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_dedup_simhash candidates join on pigeonhole bands, not lang alone") {
    val df = SparkEntry.queries("q_dedup_simhash")(spark, sf0001)
    df.collect() // finalize the adaptive plan
    val p = df.queryExecution.executedPlan.toString
    // the self-join's equi-keys must include the (band, band-value)
    // columns — a lang-only key set is the quadratic-within-language shape
    val joinLine = p.linesIterator.find(l =>
      l.contains("Join") && l.contains("lang")).getOrElse("")
    assert(joinLine.contains("band") && joinLine.contains("bv"),
      s"simhash join keys missing band/bv: $joinLine")
  }

  test("minhash banded join stays codegen-friendly: no interpreted lambdas in the condition") {
    // the first-agreeing-band filter runs once per banded MATCH (the hot
    // count on a self-similar corpus); a zip_with/exists lambda there is
    // interpreted per match and measured 2.3x slower end to end — the
    // condition must compile to plain element_at/CASE comparisons
    for (q <- Seq("q_dedup_minhash", "q_dedup_minhash_banded")) {
      val df = SparkEntry.queries(q)(spark, sf0001)
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("zip_with") && !p.contains("exists("),
        s"$q: higher-order function leaked into the banded join:\n${p.take(2000)}")
    }
  }

  test("dedup verify stages shuffle-attach token sets (no corpus broadcast)") {
    // the set-attach joins on doc_a/doc_b must honor the shuffle_hash hint;
    // a BroadcastExchange feeding them would ship the corpus to every task
    for (q <- Seq("q_dedup_near", "q_dedup_ngram", "q_dedup_minhash",
        "q_dedup_minhash_banded", "q_dedup_incremental", "q_dedup_ingest")) {
      val df = SparkEntry.queries(q)(spark, sf0001)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert("ShuffledHashJoin".r.findAllIn(p).size >= 2,
        s"$q: expected 2 shuffle-hash attach joins\n${p.take(2000)}")
      val attachBroadcasts = p.linesIterator.filter(_.contains("BroadcastHashJoin"))
        .filter(l => l.contains("doc_a") || l.contains("doc_b")).toSeq
      assert(attachBroadcasts.isEmpty,
        s"$q: corpus-size broadcast in verify stage: $attachBroadcasts")
    }
  }

  test("q_dedup_incremental pairs the delta against the corpus, never the corpus with itself") {
    val df = SparkEntry.queries("q_dedup_incremental")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the delta-side scan must push the id cut down to parquet (the
    // fixture cut at sf0.001 is 399) — without it both join inputs scan
    // the whole corpus and the candidate join degenerates to the full
    // self-join volume
    assert(p.contains("GreaterThan(doc_id,399)"),
      s"delta cut not pushed into a scan:\n${p.take(2000)}")
    // the candidate join honors its shuffle_hash hint (the corpus side is
    // 100 TB — an AQE fixture-size broadcast here would make this lie)
    assert(p.contains("ShuffledHashJoin"), p.take(1500))
  }

  test("q_dedup_substring never broadcasts: fingerprint join + pair agg only") {
    val p = plan("q_dedup_substring")
    assert(!p.contains("BroadcastExchange"), p.take(3000))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("q_agg_freqitems: sketch rides an object aggregate; 1-row map broadcasts") {
    val p = plan("q_agg_freqitems")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      p.take(3000))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      p.take(3000))
  }

  test("q_scan_partitioned prunes partitions on the lang predicate") {
    val df = SparkEntry.queries("q_scan_partitioned")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the lang filter must land in the scan's PartitionFilters (directory
    // pruning), never as a post-scan data filter over the whole corpus
    val scan = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scan.contains("lang"), s"lang not a partition filter:\n${p.take(2000)}")
  }

  test("q_scan_dpp injects a dynamic partition pruning subquery into the fact scan") {
    val df = SparkEntry.queries("q_scan_dpp")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"no runtime partition pruning in fact scan:\n${p.take(2000)}")
  }

  test("q_join_bucketed joins with zero exchanges (bucket layout, not broadcast)") {
    val df = SparkEntry.queries("q_join_bucketed")(spark, sf0001)
    df.collect()
    // inspect only the FINAL adaptive plan (the trailing "== Initial
    // Plan ==" section still shows pre-AQE exchanges)
    val full = df.queryExecution.executedPlan.toString
    val p = full.split("== Initial Plan ==")(0)
    assert(p.contains("SortMergeJoin"), p.take(1500))
    assert(p.contains("Bucketed: true"), p.take(1500))
    // the only exchange allowed is the final aggregation's (+ the
    // single-partition gather for the ordered output); the join itself
    // must read co-located buckets
    val joinPart = p.substring(p.indexOf("SortMergeJoin"))
    assert(!joinPart.contains("Exchange"),
      s"bucketed join still shuffles its inputs:\n${joinPart.take(2000)}")
  }

  test("q_text_contamination probes grams against a broadcast benchmark set") {
    val df = SparkEntry.queries("q_text_contamination")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the held-out gram set is small by construction — the corpus gram
    // stream must probe it via broadcast, never shuffle corpus-side grams
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
  }

  test("q_sink_batched has no row-scale single-partition window") {
    val df = SparkEntry.queries("q_sink_batched")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the per-row rank window must be partitioned by bucket; the only
    // unpartitioned window may run over the per-bucket counts (tiny)
    val rn = p.linesIterator.filter(_.contains("row_number()")).toSeq
    assert(rn.nonEmpty && rn.forall(_.contains("bkt")),
      s"row_number window not bucket-partitioned: $rn")
  }

  test("q_sync_full batch ranks are bucket-partitioned (no row-scale window)") {
    // the sync plan's per-shard rank must use the same bucket-offset
    // decomposition as q_sink_batched: a row_number over (routing, bkt),
    // never a window that funnels a shard's whole corpus-fraction
    // through one task
    val df = SparkEntry.queries("q_sync_full")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val rn = p.linesIterator.filter(_.contains("row_number()")).toSeq
    assert(rn.nonEmpty && rn.forall(_.contains("bkt")),
      s"sync row_number window not bucket-partitioned: $rn")
  }

  test("q_pack_epoch ranks are bucket-partitioned and the offsets broadcast") {
    // the epoch permutation must never funnel a shard's corpus fraction
    // through one task: row_number windows ride (epoch, shard, bkt), and
    // the per-bucket offset table joins back as a broadcast
    val df = SparkEntry.queries("q_pack_epoch")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val rn = p.linesIterator.filter(_.contains("row_number()")).toSeq
    assert(rn.nonEmpty && rn.forall(_.contains("bkt")),
      s"epoch rank window not bucket-partitioned: $rn")
    assert(p.contains("BroadcastHashJoin"),
      s"offset table should broadcast:\n${p.take(1500)}")
  }

  test("q_pipeline_train broadcasts the rates table; acceptance is map-side") {
    val df = SparkEntry.queries("q_pipeline_train")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"mixture rates should broadcast into the survivor stream:\n${p.take(1500)}")
    // the split/acceptance hashes are projections, not joins or windows
    assert(!p.contains("row_number"),
      s"train-prep composition must not add rank windows:\n${p.take(1500)}")
  }

  test("q_sync_upsert merges document state with no batch-rank machinery") {
    // the merge is batch-agnostic: built on SyncRunner.docs, its plan
    // must carry NO window (batch ranks) — two scans, an anti-join, a
    // union, one aggregation
    val df = SparkEntry.queries("q_sync_upsert")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("row_number"),
      s"merged state must not compute batch ranks:\n${p.take(1500)}")
    assert(p.contains("LeftAnti"), s"expected an _id anti-join:\n${p.take(1500)}")
  }

  test("q_ts_cohort assigns cohorts in ONE user_id shuffle (window min, no join)") {
    val df = SparkEntry.queries("q_ts_cohort")(spark, sf0001)
    df.collect()
    // final adaptive plan only (the Initial Plan echo repeats exchanges)
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("Join"), s"cohort assignment must not join:\n${p.take(1500)}")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      s"expected exactly one user_id exchange:\n${p.take(1500)}")
  }

  test("q_ts_gapfill generates the calendar, never joins one") {
    val df = SparkEntry.queries("q_ts_gapfill")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Generate explode"),
      s"per-user days must come from sequence()+explode:\n${p.take(1500)}")
    assert(!p.toLowerCase.contains("cartesianproduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"no calendar cross-join allowed:\n${p.take(1500)}")
  }

  test("q_join_interval: native sweep over one events scan, no bucket join") {
    val df = SparkEntry.queries("q_join_interval")(spark, sf0001)
    df.collect() // finalize the adaptive plan
    val fin = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the pairing is the sweep-line operator over stripe copies
    assert(fin.contains("IntervalOverlap") && fin.contains("IntervalStripes"), fin.take(2500))
    // no exploded hour buckets and no join of any kind pairs the sessions
    assert(!fin.contains("explode(sequence") && !fin.contains("bucket"), fin.take(2500))
    assert(!"(HashJoin|SortMergeJoin|NestedLoopJoin|CartesianProduct)".r
      .findFirstIn(fin).isDefined, fin.take(2500))
    // no pinned session table: events are scanned once, inside the action
    assert(!fin.contains("Scan ExistingRDD"), fin.take(2500))
    assert("Scan parquet".r.findAllIn(fin).size == 1, fin.take(2500))
    assert(fin.contains("events.parquet"), fin.take(2500))
    // each pair is reported once, so one (ua, ub) aggregate (partial +
    // final) and no dedup aggregate
    assert("HashAggregate\\(keys=\\[ua".r.findAllIn(fin).size == 2, fin.take(2500))
  }

  test("q_text_tfidf: one scan reads documents.text; df comes from the tf pass") {
    val df = SparkEntry.queries("q_text_tfidf")(spark, sf0001)
    df.collect()
    val fin = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("ReadSchema: struct<[^>]*text:string".r.findAllIn(fin).size == 1, fin.take(3000))
    assert("HashJoin|SortMergeJoin".r.findFirstIn(fin).isEmpty,
      s"df must not join back:\n${fin.take(3000)}")
  }

  test("q_graph_bfs: per-hop frontier join + anti-join over pinned id-only rows") {
    val df = SparkEntry.queries("q_graph_bfs")(spark, sf0001)
    df.collect()
    val fin = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!fin.contains("CartesianProduct") &&
      !fin.contains("BroadcastNestedLoopJoin"), fin.take(2500))
    // one frontier-minus-visited anti-join per hop (AQE may leave more
    // anti segments than hops after stage rewrites, never fewer)
    assert("LeftAnti".r.findAllIn(fin).size >= 3, fin.take(2500))
    // the corpus doesn't move: every hop joins the SAME pinned
    // (localCheckpointed) edge blocks, not a re-derived edge set
    assert(fin.contains("Scan ExistingRDD[src"), fin.take(2500))
    // frontier rows are id-only: the hop join's output projects one id col
    assert("Project \\[dst#\\d+L AS doc_id".r.findFirstIn(fin).isDefined, fin.take(2500))
  }

  test("q_join_asof_nearest: both carries ride ONE shuffle and ONE Window pass") {
    val df = SparkEntry.queries("q_join_asof_nearest")(spark, sf0001)
    df.collect()
    val fin = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the backward and forward frames share (partition, order), so they
    // must land in a single Window operator over a single user_id
    // exchange — two window passes would double the sort
    assert("Window \\[".r.findAllIn(fin).size == 1, fin.take(2500))
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(fin).size == 1,
      fin.take(2500))
    assert(!fin.contains("Join"), s"nearest as-of must not join:\n${fin.take(2000)}")
  }

  test("q_agg_ks: distributed ECDF — no global value-ordered window over the grid") {
    val df = SparkEntry.queries("q_agg_ks")(spark, sf0001)
    df.collect()
    val fin = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the row-scale prefix sums run under (vs, bkt)-PARTITIONED windows
    assert("windowspecdefinition\\(vs#\\d+, bkt#\\d+, v#\\d+L ASC".r
      .findFirstIn(fin).isDefined,
      s"expected a (vs, bkt)-partitioned value window:\n${fin.take(2500)}")
    // and the grid NEVER passes through a single-partition value sort —
    // the only narrower window is over the per-vs ~32 bucket totals
    assert("windowspecdefinition\\(v#\\d+L ASC".r.findFirstIn(fin).isEmpty,
      s"global value-ordered window survived — the 100 TB killer:\n${fin.take(2500)}")
    assert(!fin.contains("CartesianProduct"), fin.take(2000))
    // multi-pair form: the grids and totals read events a FIXED number
    // of times (≤4 map-side scans), never per pair — the per-pair form
    // scanned events 12× and was measured 2.6× slower
    assert("Scan parquet .*events".r.findAllIn(fin).size <= 4, fin.take(2500))
  }

  /** The executed plan of a noop-sink write of `df`, as the write ran. */
  private def noopWritePlan(df: org.apache.spark.sql.DataFrame): String = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      df.write.format("noop").mode("overwrite").save()
      val p = plans.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      assert(p != null, "no plan reported for the noop write")
      p
    } finally spark.listenerManager.unregister(listener)
  }

  test("q_join_bloom keeps the bloom filter and the shuffle join under count() and a write") {
    val df = SparkEntry.queries("q_join_bloom")(spark, sf0001)
    // the confs the key scopes are restored by now: a derived count()
    // and the sink write are planned under the session defaults
    val counted = df.groupBy().count()
    counted.collect()
    val pc = counted.queryExecution.executedPlan.toString
    assert(pc.contains("might_contain"), s"count() lost the bloom filter:\n${pc.take(3000)}")
    assert(pc.contains("SortMergeJoin") && !pc.contains("BroadcastHashJoin"),
      s"count() left the shuffle join:\n${pc.take(3000)}")
    val pw = noopWritePlan(df)
    assert(pw.contains("might_contain"), s"the write lost the bloom filter:\n${pw.take(3000)}")
    assert(pw.contains("SortMergeJoin") && !pw.contains("BroadcastHashJoin"),
      s"the write left the shuffle join:\n${pw.take(3000)}")
    // one probe, on the lineitem side: the copy that filter inference
    // puts on the orders (creation) side always passes and is dropped
    for (p <- Seq(pc, pw).map(_.split("== Initial Plan ==")(0))) {
      val probes = "might_contain\\(.*?xxhash64\\((\\w+)#".r.findAllMatchIn(p)
        .map(_.group(1)).toSeq
      assert(probes == Seq("l_orderkey"), s"bloom probes on $probes:\n${p.take(3000)}")
    }
  }

  test("q_agg_footerstats answers a derived count() and a write from parquet footers") {
    val df = SparkEntry.queries("q_agg_footerstats")(spark, sf0001)
    val counted = df.groupBy().count()
    counted.collect()
    val pc = counted.queryExecution.executedPlan.toString
    assert(pc.contains("PushedAggregation: [COUNT(*)"),
      s"count() rescans orders:\n${pc.take(3000)}")
    val ps = df.select("n_rows", "max_key").queryExecution.executedPlan.toString
    assert(ps.contains("PushedAggregation: [COUNT(*)"),
      s"a select rescans orders:\n${ps.take(3000)}")
    val pw = noopWritePlan(df)
    assert(pw.contains("PushedAggregation: [COUNT(*)"),
      s"the write rescans orders:\n${pw.take(3000)}")
  }

  test("q_agg_mannwhitney: the shared distributed-ECDF shape — no global value window") {
    val df = SparkEntry.queries("q_agg_mannwhitney")(spark, sf0001)
    df.collect()
    val fin = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("windowspecdefinition\\(vs#\\d+, bkt#\\d+, v#\\d+L ASC".r
      .findFirstIn(fin).isDefined,
      s"expected a (vs, bkt)-partitioned value window:\n${fin.take(2500)}")
    assert("windowspecdefinition\\(v#\\d+L ASC".r.findFirstIn(fin).isEmpty,
      s"global value-ordered window survived:\n${fin.take(2500)}")
    assert(!fin.contains("CartesianProduct"), fin.take(2000))
  }

  test("q_multimodal_wave is map-only: decode + window stats shuffle only to sort") {
    val p = plan("q_multimodal_wave")
    // construct -> decode UDF -> explode windows -> array stats are all
    // per-row; the ONLY exchange is the output ordering's range partition
    assert(!p.contains("Exchange hashpartitioning"),
      s"audio windows must not hash-shuffle:\n${p.take(2000)}")
    assert(!p.contains("Join"), p.take(2000))
    assert("Exchange rangepartitioning".r.findAllIn(p).size == 1, p.take(2000))
  }

  test("q_multimodal_hashrobust: one decode pass, one doc_id join, no cartesian") {
    val df = SparkEntry.queries("q_multimodal_hashrobust")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // base and variant sides both scan the ONE localCheckpointed hash
    // table; the pairing is a doc_id equi-join (broadcast or shuffled),
    // never a cartesian, and nothing re-decodes (no BatchEvalPython-ish
    // UDF nodes past the checkpoint scan)
    assert(!p.toLowerCase.contains("cartesianproduct"), p.take(2500))
    assert("ExistingRDD|Scan ExistingRDD".r.findAllIn(p).nonEmpty, p.take(2500))
  }

  test("q_text_unigram_seg: the Viterbi rides ONE 1-row broadcast vocab map") {
    val p = plan("q_text_unigram_seg")
    // the word table crossJoins the single-row map frame (declared cross
    // join => BroadcastNestedLoopJoin); the DP itself is HOF projections,
    // so the only hash exchanges are the word-count and vocab aggregates
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2500))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
    assert(!p.toLowerCase.contains("cartesianproduct"), p.take(2000))
  }

  test("q_scan_manifest scans only the manifest-selected files") {
    val df = SparkEntry.queries("q_scan_manifest")(spark, sf0001)
    // the in-query require already certifies inputFiles ⊆ selection;
    // here pin the magnitude: a 10% key band over 16 range-clustered
    // files reads at most a quarter of the layout
    val (dataPath, _) = operators.Warehouse.manifestLayout(spark, sf0001)
    val all = spark.read.parquet(dataPath).inputFiles.length
    assert(all == 16, s"expected 16 layout files, got $all")
    assert(df.inputFiles.length <= 4,
      s"scan read ${df.inputFiles.length} of $all files")
  }

  test("q_multimodal_spectro is map-only: no join, no hash exchange") {
    // decode + DCT are per-row; the only exchange the plan may carry is
    // the output ordering's range partitioning
    val p = plan("q_multimodal_spectro")
    assert(!p.contains("Join"), p.take(2000))
    assert(!p.contains("hashpartitioning"), p.take(2000))
  }

  test("q_multimodal_mfcc is map-only: no join, no hash exchange") {
    // spectrum -> filterbank -> ln -> cepstral DCT are all per-row HOF
    // arithmetic after the decode UDF — the spectro shape carried
    // through two more stages
    val p = plan("q_multimodal_mfcc")
    assert(!p.contains("Join"), p.take(2000))
    assert(!p.contains("hashpartitioning"), p.take(2000))
  }

  test("q_text_rake serves word scores broadcast; the corpus never self-joins") {
    // the stopword set and the Heaps-law word-score table are the only
    // join partners, both broadcast — a shuffled join would put the
    // corpus against a corpus-derived table at 100 TB
    val p = plan("q_text_rake")
    assert(p.contains("BroadcastHashJoin"), p.take(2500))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      p.take(2500))
    assert(!p.toLowerCase.contains("cartesianproduct"), p.take(2000))
  }

  test("q_agg_ks: ECDF pairs are joins on the value grid, no cartesian") {
    val p = plan("q_agg_ks")
    assert(!p.toLowerCase.contains("cartesianproduct"), p.take(2000))
    assert(p.contains("FullOuter") || p.contains("full_outer") ||
      p.contains("FullOuterJoin") || p.contains("Join FullOuter"), p.take(2500))
  }

  test("q_dedup_cdc: cut positions shuffle, the corpus text does not explode-shuffle") {
    // the gram explode + 1/64 filter happen MAP-side; only the narrow
    // (doc_id, pos) cut table and the final md5 fingerprints shuffle
    val p = plan("q_dedup_cdc")
    assert(!p.toLowerCase.contains("cartesianproduct"), p.take(2000))
    assert(p.contains("Generate"), p.take(2500)) // the posexplode
  }

  test("q_lake_compact: the merge-on-read leg applies its vector broadcast") {
    // v2 = data anti-join the KB-scale vector (BroadcastHashJoin
    // LeftAnti, the q_scan_deletevector plan); v3 = a bare scan of the
    // compacted manifest — so the WHOLE query carries exactly one join
    // and no shuffled one
    val p = plan("q_lake_compact")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      p.take(2500))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      p.take(2500))
    assert(!p.toLowerCase.contains("cartesianproduct"), p.take(2000))
  }

  test("q_text_ppl serves the corpus through a broadcast lexicon join") {
    // the word -> (n_pieces, cost) lexicon is Heaps-law sized: the
    // corpus-side join must be broadcast, never a corpus shuffle on the
    // word (the only SMJ-free shape that survives 100 TB of text)
    val p = plan("q_text_ppl")
    assert(p.contains("BroadcastHashJoin"), p.take(2500))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("q_text_collocations joins unigram counts broadcast, totals one-row") {
    val p = plan("q_text_collocations")
    // two broadcast joins (c_x, c_y onto the pair table); the scalar
    // totals ride one-row IdentityBroadcastMode nested-loop sides
    assert(p.split("BroadcastHashJoin").length >= 3, p.take(2500))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
    assert(!p.toLowerCase.contains("cartesianproduct"), p.take(2000))
  }

  test("q_dedup_video candidates ride the frame-hash equi-join, no cartesian") {
    val p = plan("q_dedup_video")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p.take(2500))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.toLowerCase.contains("cartesianproduct"), p.take(2000))
  }

  test("q_quality_report is one corpus scan: no join, single aggregation") {
    val p = plan("q_quality_report")
    assert(!p.contains("Join"), p.take(2000))
    assert(p.split("FileScan").length == 2, p.take(2000)) // exactly one scan
  }

  test("q_agg_linreg partial-aggregates; the centering min-join is broadcast") {
    // r18: x is centered per group (overflow advice), so the plan gains
    // exactly one JOIN — the tiny per-group min(x) table — and it must
    // be a BROADCAST, never a shuffled join of the events scan
    val p = plan("q_agg_linreg")
    assert(p.contains("BroadcastHashJoin"), p.take(2500))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      p.take(2500))
    assert(!p.toLowerCase.contains("cartesianproduct"), p.take(2000))
    assert(p.contains("partial_count") || p.contains("partial_"), p.take(2500))
  }

  test("q_scan_zorder pushes both range dimensions into one parquet scan") {
    // the PushedFilters list is elided in toString past ~100 chars, so
    // assert the user_id bounds there and the ts window via the Filter
    // node's full predicate text
    val p = plan("q_scan_zorder")
    assert(p.contains("GreaterThanOrEqual(user_id,1)") &&
      p.contains("LessThanOrEqual(user_id,2)"), p.take(2500))
    assert(p.contains("ts#") && p.contains(">= 2024-01-10 00:00:00") &&
      p.contains("< 2024-01-14 00:00:00"), p.take(2500))
  }
}
