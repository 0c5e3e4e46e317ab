package graft.operators

import graft.{Dets, QueryFamily, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Dets._

/** Reproducible sampling & split assignment + the composed cleaning
  * pipeline — the operations that turn a raw corpus into training data.
  *
  * Sampling is content-hash based (md5 bucket), NOT rand(): the same
  * document lands in the same sample/split on every run, on any cluster,
  * at any parallelism — the property a 100 TB pipeline needs for
  * resumability and for honest train/test separation (a re-crawled dup
  * can't hop splits). rand()-based sampling is banned by the same
  * determinism law as the rest of the engine (SURVEY.md §7.4 R3).
  */
object Sampling extends QueryFamily {

  /** 60-bit integer from the md5 prefix — same value in DuckDB. */
  private val hSpark = "CAST(conv(substr(md5(text), 1, 15), 16, 10) AS BIGINT)"
  private val hDuck = "CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT)"

  /** Salted variant for split assignment — independent of the
    * membership hash (see q_pipeline_train). */
  private val hSplitSpark =
    "CAST(conv(substr(md5(concat(text, '|split')), 1, 15), 16, 10) AS BIGINT)"
  private val hSplitDuck =
    "CAST(concat('0x', substr(md5(concat(text, '|split')), 1, 15)) AS BIGINT)"

  /** Greedy k-center (Gonzalez farthest-point) rounds over the
    * fixed-point embeddings: round r's selection is the global argmax of
    * min-distance-to-chosen. Each round is ONE distributed job (a
    * broadcast of ≤ k chosen vectors, a map-side min-of-sqdists, one
    * top-1) whose O(1) result feeds the next round's broadcast literal —
    * the k-sequential-argmax structure is inherent to the algorithm, and
    * k · O(N) with k tiny is the honest distributed cost. Distances are
    * EXACT BIGINTs (the kmeans fixed-point lattice), ties break on
    * vec_id — fully deterministic. */
  private def kcenterRounds(s: SparkSession, dir: String,
      k: Int): Seq[(Long, Long, Long)] = {
    val e = Tables(s, dir, "embeddings").select(col("vec_id"),
      expr("transform(embedding, x -> " +
        "CAST(floor(CAST(x AS DOUBLE) * 1000.0D + 0.5D) AS BIGINT))").as("fx"))
      .localCheckpoint() // materialize once; k rounds re-scan this, not parquet
    val seed = e.orderBy("vec_id").limit(1).collect()(0)
    var chosen = Vector((0L, seed.getLong(0), 0L))
    var vecs = Vector(seed.getSeq[Long](1))
    (1 until k).foreach { r =>
      val lits = vecs.map(_.mkString("array(", "L,", "L)"))
        .mkString("array(", ",", ")")
      val next = e.withColumn("d", expr(
          s"array_min(transform($lits, c -> " +
            "aggregate(zip_with(fx, c, (a, b) -> (a - b) * (a - b)), " +
            "CAST(0 AS BIGINT), (acc, x) -> acc + x)))"))
        .orderBy(col("d").desc, col("vec_id")).limit(1).collect()(0)
      chosen :+= ((r.toLong, next.getLong(0), next.getAs[Long]("d")))
      vecs :+= next.getSeq[Long](1)
    }
    chosen
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Greedy k-center coreset selection (the diverse-subset pass of
    // data curation: Gonzalez's farthest-point traversal, the 2-approx
    // to the k-center cover): 8 rounds, each selecting the point
    // farthest from everything chosen so far. Serves (sel_round,
    // vec_id, d) with d the EXACT integer squared distance to the
    // prior set at selection time — a strictly positive, non-increasing
    // radius profile on real data. See kcenterRounds for the scale
    // shape.
    "q_sample_kcenter" -> ((s, dir) => {
      import s.implicits._
      kcenterRounds(s, dir, 8).toDF("sel_round", "vec_id", "d")
        .orderBy("sel_round")
    }),

    // Deterministic ~10% sample: hash bucket 0 of 10.
    "q_sample_hash" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .withColumn("h", expr(hSpark))
        .where(pmod(col("h"), lit(10L)) === 0)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")),

    // Weighted sampling WITHOUT replacement, probability proportional
    // to size (Efraimidis–Spirakis 2006 — THE published ppswor
    // algorithm, in its exponential-race form): each doc draws a
    // deterministic md5 uniform u ∈ {1..10⁹}/10⁹ (salted independent
    // of the membership hash), its race key is Exp(w) = −ln(u)/w =
    // (ln 10⁹ − ln u)/w with w = n_chars, and the k SMALLEST keys are
    // the sample — longer docs win proportionally more races. The two
    // lns land on the 6-dp fixed-point grid (exact integers), so the
    // key is ONE IEEE division of exact ints — bit-identical sort keys
    // in both engines, doc_id tiebreak. Top-k = TakeOrderedAndProject
    // (per-partition heaps, never a global sort), deterministic under
    // retries, and nested in k like the uniform reservoir.
    // SamplingSpec pins the scalar replay and the PPS property (the
    // sample's mean weight exceeds the corpus mean).
    "q_sample_ppswor" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .withColumn("u_num", expr(
          "CAST(conv(substr(md5(concat(text, '|pps')), 1, 15), 16, 10) " +
            "AS BIGINT) % 1000000000 + 1"))
        .withColumn("lnu", expr(
          "CAST(round(ln(CAST(u_num AS DOUBLE)) * 1000000, 0) AS BIGINT)"))
        .withColumn("key", expr(
          "CAST(CAST(round(ln(1000000000.0D) * 1000000, 0) AS BIGINT) - lnu " +
            "AS DOUBLE) / CAST(n_chars AS DOUBLE)"))
        .orderBy(col("key"), col("doc_id"))
        .limit(100)
        .selectExpr("doc_id", "lang", "n_chars", "u_num",
          "CAST(floor(key * 1000000.0D) AS BIGINT) AS key_micros")
        .orderBy("doc_id")),

    // Fixed-SIZE uniform sample — "give me exactly 100 docs" (eval sets,
    // spot-check panels), where a rate-based sample's size varies with
    // the corpus. Distributed reservoir-equivalent: the k smallest
    // content hashes ARE a uniform k-sample, computed as a top-k
    // (TakeOrderedAndProject — per-partition heaps of k, never a global
    // sort), deterministic under retries where reservoir-with-rand is
    // not. Nested property: growing k only adds documents.
    "q_sample_reservoir" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .withColumn("h", expr(hSpark))
        .orderBy(col("h"), col("doc_id"))
        .limit(100)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")),

    // Composed EVAL-SET construction (the dual of q_pipeline_train):
    // held-out candidates (content-hash pct >= 90, the q_split_assign
    // test bucket) → drop every candidate that LEAKS: shares any word
    // 4-gram with the train side (an eval item present in training data
    // measures memorization, not capability) → exactly-10 reservoir cut
    // on a '|eval'-salted hash (independent of the split hash, so the
    // cut is uniform WITHIN the survivors). Scale shape: train grams
    // deduplicate into a broadcast probe exactly like
    // q_text_contamination; the survivors cut is a top-k.
    "q_pipeline_eval" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
        .withColumn("t", split(col("text"), " "))
        .withColumn("pct", pmod(expr(hSpark), lit(100L)))
      val grams = d.where(size(col("t")) >= 4)
        .select(col("doc_id"), col("pct"),
          explode(expr("transform(sequence(1, size(t) - 3), i -> " +
            "concat_ws(' ', element_at(t, i), element_at(t, i + 1), " +
            "element_at(t, i + 2), element_at(t, i + 3)))")).as("g"))
      val trainGrams = grams.where(col("pct") < 90).select("g").distinct()
      val leaky = grams.where(col("pct") >= 90)
        .join(trainGrams, "g").select("doc_id").distinct()
      d.where(col("pct") >= 90)
        .join(leaky, Seq("doc_id"), "left_anti")
        .withColumn("he",
          expr("CAST(conv(substr(md5(concat(text, '|eval')), 1, 15), 16, 10) AS BIGINT)"))
        .orderBy(col("he"), col("doc_id"))
        .limit(10)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    }),

    // Class-BALANCED downsample: exactly min-class-size docs per lang —
    // the hard-balance dual of the rate-based mixture (classifier
    // training sets, fairness probes). Per-lang rank over the salted
    // content hash (deterministic, retry-stable, nested-in-k like the
    // reservoir); the floor size is an O(#langs) aggregate joined back
    // via broadcast.
    "q_sample_balanced" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
        .withColumn("h", expr(hSplitSpark))
      val floor = d.groupBy("lang").agg(count(lit(1)).as("cnt"))
        .agg(min("cnt").as("k"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))
      d.withColumn("rk", row_number().over(w))
        .crossJoin(broadcast(floor))
        .where(col("rk") <= col("k"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
        .orderBy("lang")
    }),

    // Stratified sample: per-stratum rates (majority language downsampled
    // harder) from the same content-hash percentile — the "rebalance the
    // language mix" step of corpus curation. Rates ride on the hash, so
    // raising a stratum's rate only ADDS documents (nested samples).
    "q_sample_stratified" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .withColumn("pct", pmod(expr(hSpark), lit(100L)))
        .withColumn("rate", when(col("lang") === "en", lit(50L)).otherwise(lit(10L)))
        .where(col("pct") < col("rate"))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "source")),

    // Target-mixture sampling: downsample over-represented languages so
    // the kept corpus approaches a UNIFORM lang mixture — the "hit the
    // training mixture" step (cf. The Pile / DoReMi-style domain
    // reweighting), with rates DERIVED from corpus counts rather than
    // hardcoded. All arithmetic is integer (ppm rates from BIGINT DIV) so
    // both engines compute bit-identical accept sets. Scale story: the
    // per-lang count table is O(#langs) rows — aggregated once, broadcast
    // back — and acceptance is a pure map-side predicate on the content
    // hash; no row-scale shuffle beyond the final stats groupBy.
    // Neyman-allocated stratified sampling — the survey-statistics
    // upgrade of q_sample_stratified's proportional rates: a fixed 10%
    // total budget is allocated across strata ∝ N_h·σ_h (high-variance
    // strata earn more of the budget — the allocation that minimizes
    // the estimator's variance, Neyman 1934). σ_h comes from the
    // EXACT integer sufficient statistics (n, Σy, Σy²) over
    // floor-scaled value millis (millis is what keeps Σy² inside
    // int64 at scale — the q_agg_ttest dollar-scaling lesson), then
    // ONE identical IEEE chain (÷, sqrt, ×, floor) produces each
    // stratum's rate_ppm in both engines; membership is the md5
    // hash-threshold rule every sampling key shares (seeded by
    // event_id, so the draw is reproducible row identity, never
    // rand()). O(#strata) stats, broadcast rates, map-side acceptance.
    "q_sample_neyman" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
        .withColumn("y", expr(
          "CAST(floor(CAST(value AS DECIMAL(18,6)) * 1000) AS BIGINT)"))
      val st = ev.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("y").as("sy"),
          sum(expr("y * y")).as("syy"))
        .withColumn("sd", expr(
          "sqrt((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - " +
            "CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) / " +
            "(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0D)))"))
        // each stratum weight N_h·σ_h rounds to micros BEFORE the
        // global sum, so Σw is an exact INTEGER sum — order-independent
        // at any stratum count, never a shuffle-order double fold
        .withColumn("w_micros", expr(
          "CAST(round(CAST(n AS DOUBLE) * sd * 1000000.0D, 0) AS BIGINT)"))
      val rates = st.crossJoin(broadcast(
          st.agg(sum("n").as("n_total"), sum("w_micros").as("sw_micros"))))
        .withColumn("rate_ppm", least(lit(1000000L), expr(
          "CAST(floor(CAST(n_total DIV 10 AS DOUBLE) * " +
            "CAST(w_micros AS DOUBLE) / CAST(sw_micros AS DOUBLE) / " +
            "CAST(n AS DOUBLE) * 1000000.0D) AS BIGINT)")))
        .select("event_type", "n", "rate_ppm")
      val h = "CAST(conv(substr(md5(CAST(event_id AS STRING)), 1, 15), 16, 10) AS BIGINT)"
      ev.withColumn("h", expr(h))
        .join(broadcast(rates), "event_type")
        .where(pmod(col("h"), lit(1000000L)) < col("rate_ppm"))
        .groupBy("event_type")
        .agg(max("n").as("n_rows"), max("rate_ppm").as("rate_ppm"),
          count(lit(1)).as("n_sampled"), sum("y").as("sum_y_sampled"))
        .orderBy("event_type")
    }),

    "q_sample_mixture" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val c = docs.groupBy("lang").agg(count(lit(1)).as("cnt"))
      val t = c.agg(sum("cnt").as("total"), count(lit(1)).as("n_langs"))
      val rates = c.crossJoin(broadcast(t))
        .withColumn("rate_ppm",
          least(lit(1000000L), expr("(total DIV n_langs) * 1000000 DIV cnt")))
        .select("lang", "cnt", "rate_ppm")
      docs.withColumn("h", expr(hSpark))
        .join(broadcast(rates), "lang")
        .where(pmod(col("h"), lit(1000000L)) < col("rate_ppm"))
        .groupBy("lang")
        .agg(max("cnt").as("n_orig"), max("rate_ppm").as("rate_ppm"),
          count(lit(1)).as("n_kept"))
        .orderBy("lang")
    }),

    // Temperature-scaled mixture sampling (mT5 / XLM-R style): sample
    // language l with probability ∝ p_l^(1/τ) at τ = 2, implemented as
    // pure downsampling — acceptance rate_l = sqrt(cnt_min / cnt_l), so
    // the rarest language keeps everything and dominant ones shrink by
    // the square-root ratio (gentler than q_sample_mixture's uniform
    // target). τ = 2 is chosen deliberately: p^(1/2) is sqrt, and sqrt
    // — unlike pow or ln — is a CORRECTLY-ROUNDED IEEE-754 operation,
    // so ÷, sqrt, ×1e6, floor produce bit-identical ppm rates in any
    // engine (the q_search_bm25 log-free argument). Same scale shape as
    // q_sample_mixture: O(#langs) counts, broadcast rates, map-side
    // hash acceptance.
    "q_sample_temperature" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val c = docs.groupBy("lang").agg(count(lit(1)).as("cnt"))
      val mn = c.agg(min("cnt").as("mn"))
      val rates = c.crossJoin(broadcast(mn))
        .withColumn("rate_ppm",
          floor(sqrt(dbl(col("mn")) / dbl(col("cnt"))) * lit(1000000.0)))
        .select("lang", "cnt", "rate_ppm")
      docs.withColumn("h", expr(hSpark))
        .join(broadcast(rates), "lang")
        .where(pmod(col("h"), lit(1000000L)) < col("rate_ppm"))
        .groupBy("lang")
        .agg(max("cnt").as("n_orig"), max("rate_ppm").as("rate_ppm"),
          count(lit(1)).as("n_kept"))
        .orderBy("lang")
    }),

    // Train/val/test assignment 80/10/10 by content-hash percentile;
    // emits per-(split, lang) counts — the reviewer's sanity table.
    "q_split_assign" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .withColumn("pct", pmod(expr(hSpark), lit(100L)))
        .withColumn("split",
          when(col("pct") < 80, "train").when(col("pct") < 90, "val").otherwise("test"))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"),
          (dbl(sum(col("n_chars"))) / count(lit(1))).as("avg_chars"))
        .orderBy("split", "lang")),

    // The composed cleaning pipeline, one query: exact-dedup (keep the
    // lowest doc_id per text) -> quality floor (distinct-token ratio
    // >= 0.35) -> near-dup removal (drop the higher doc_id of every
    // blocked token-Jaccard >= 0.8 pair) -> survivors per lang.
    "q_pipeline_clean" -> ((s, dir) =>
      cleanSurvivors(s, dir)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"),
          (dbl(sum(col("n_chars"))) / count(lit(1))).as("avg_chars"))
        .orderBy("lang")),

    // The FULL training-prep composition: cleaning survivors -> mixture
    // resampling toward a uniform lang mix (rates derived from the
    // SURVIVOR counts — resampling what you actually kept, not the raw
    // corpus) -> train/val/test split on a SALTED content hash
    // (independent of the acceptance hash: reusing one hash correlates
    // membership with split whenever a rate isn't a multiple of the
    // split modulus) -> per-(split, lang) doc and token accounting, the
    // numbers a training run budgets by. Scale story: the rates table is
    // O(#langs) broadcast, acceptance and split are map-side hash
    // predicates, and the only row-scale shuffles are the ones the
    // cleaning pipeline already does.
    "q_pipeline_train" -> ((s, dir) => {
      val surv = cleanSurvivors(s, dir)
      val c = surv.groupBy("lang").agg(count(lit(1)).as("cnt"))
      val t = c.agg(sum("cnt").as("total"), count(lit(1)).as("n_langs"))
      val rates = c.crossJoin(broadcast(t))
        .withColumn("rate_ppm",
          least(lit(1000000L), expr("(total DIV n_langs) * 1000000 DIV cnt")))
        .select("lang", "rate_ppm")
      surv.withColumn("h", expr(hSpark))
        .join(broadcast(rates), "lang")
        .where(pmod(col("h"), lit(1000000L)) < col("rate_ppm"))
        .withColumn("pct", pmod(expr(hSplitSpark), lit(100L)))
        .withColumn("split",
          when(col("pct") < 80, "train").when(col("pct") < 90, "val")
            .otherwise("test"))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("bigint")).as("tok_sum"))
        .orderBy("split", "lang")
    }),
  )

  /** Shared head of the composed pipelines: exact-dedup -> quality
    * floor -> near-dup removal; returns the surviving
    * (doc_id, lang, n_chars, text) rows.
    */
  private def cleanSurvivors(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val canon = docs.groupBy("text").agg(min("doc_id").as("doc_id"))
      .select("doc_id")
      .join(docs, "doc_id")
      .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
    // quality feeds three consumers (pair blocking, token sets, the
    // final anti-join) — left declarative: ReuseExchange already dedupes
    // the identical shuffle subtrees (persist() measured slower here, it
    // serializes the pipeline behind cache materialization). At 100 TB
    // the equivalent lever is a checkpoint between the dedup and
    // pair-scoring phases.
    val quality = canon
      .withColumn("n_toks", size(split(col("text"), " ")))
      .withColumn("n_dist", size(array_distinct(split(col("text"), " "))))
      .where(dbl(col("n_dist")) / col("n_toks") >= 0.35)
    val ids = quality.selectExpr("doc_id", "lang", "n_chars DIV 50 AS bucket")
    val toks = quality.selectExpr("doc_id",
      "array_sort(array_distinct(split(text, ' '))) AS toks")
    val pairs = ids.as("a").join(ids.as("b"),
        col("a.lang") === col("b.lang") && col("a.bucket") === col("b.bucket") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .repartition(col("doc_a"), col("doc_b"))
    val dupB = pairs
      .join(broadcast(toks.select(col("doc_id").as("doc_a"), col("toks").as("ta"))), "doc_a")
      .join(broadcast(toks.select(col("doc_id").as("doc_b"), col("toks").as("tb"))), "doc_b")
      .where(expr("sorted_jaccard_ge(ta, tb, 0.8D)").isNotNull)
      .select(col("doc_b").as("doc_id")).distinct()
    quality.join(dupB, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "n_chars", "text")
  }

  /** The k-center chain: one (d, s, ch) CTE triple per round — min
    * sqdist to the chosen set, top-1 by (d DESC, vec_id), chosen set
    * grows by one. Same exact-integer lattice as the kmeans oracle. */
  private def kcenterOracle(k: Int): String = {
    val sqd = "list_sum([ (a.fx[i+1] - c.fx[i+1]) * (a.fx[i+1] - c.fx[i+1]) " +
      "for i in range(64) ])"
    val rounds = (1 until k).map { r =>
      s"d$r AS (SELECT a.vec_id, a.fx, min($sqd) AS d " +
        s"FROM e a, ch${r - 1} c GROUP BY a.vec_id, a.fx), " +
      s"s$r AS (SELECT vec_id, fx, d FROM d$r ORDER BY d DESC, vec_id LIMIT 1), " +
      s"ch$r AS (SELECT vec_id, fx FROM ch${r - 1} " +
        s"UNION ALL SELECT vec_id, fx FROM s$r)"
    }.mkString(", ")
    val out = (1 until k).map(r =>
      s"UNION ALL SELECT $r, vec_id, d FROM s$r").mkString(" ")
    "WITH e AS (SELECT vec_id, " +
      "[CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) for x in embedding] AS fx " +
      "FROM embeddings), " +
      "sel0 AS (SELECT vec_id, fx FROM e " +
      "WHERE vec_id = (SELECT min(vec_id) FROM e)), " +
      "ch0 AS (SELECT vec_id, fx FROM sel0), " +
      rounds + " " +
      "SELECT CAST(sel_round AS BIGINT) AS sel_round, vec_id, " +
      "CAST(d AS BIGINT) AS d FROM (" +
      s"SELECT 0 AS sel_round, vec_id, 0 AS d FROM sel0 $out) " +
      "ORDER BY sel_round"
  }

  def oracles: Map[String, String] = Map(
    "q_sample_kcenter" -> kcenterOracle(8),

    "q_sample_hash" -> (s"SELECT doc_id, lang, n_chars FROM documents " +
      s"WHERE $hDuck % 10 = 0 ORDER BY doc_id"),

    "q_sample_reservoir" -> ("SELECT doc_id, lang, source, n_chars FROM " +
      s"(SELECT doc_id, lang, source, n_chars FROM documents " +
      s"ORDER BY $hDuck, doc_id LIMIT 100) ORDER BY doc_id"),

    // identical salted uniform, identical fixed-point lns, identical
    // one-division race keys
    "q_sample_ppswor" -> ("SELECT doc_id, lang, n_chars, u_num, " +
      "CAST(floor(key * 1000000.0) AS BIGINT) AS key_micros FROM " +
      "(SELECT doc_id, lang, n_chars, u_num, " +
      "CAST(CAST(round(ln(1000000000.0) * 1000000, 0) AS BIGINT) - " +
      "CAST(round(ln(CAST(u_num AS DOUBLE)) * 1000000, 0) AS BIGINT) " +
      "AS DOUBLE) / CAST(n_chars AS DOUBLE) AS key FROM " +
      "(SELECT doc_id, lang, n_chars, " +
      "CAST(concat('0x', substr(md5(concat(text, '|pps')), 1, 15)) AS BIGINT) " +
      "% 1000000000 + 1 AS u_num FROM documents) " +
      "ORDER BY key, doc_id LIMIT 100) ORDER BY doc_id"),

    "q_pipeline_eval" ->
      (s"WITH d AS (SELECT doc_id, lang, n_chars, text, " +
        s"string_split(text, ' ') AS t, $hDuck % 100 AS pct FROM documents), " +
        "grams AS (SELECT doc_id, pct, " +
        "unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] " +
        "for i in generate_series(1, len(t) - 3)]) AS g " +
        "FROM d WHERE len(t) >= 4), " +
        "train_g AS (SELECT DISTINCT g FROM grams WHERE pct < 90), " +
        "leaky AS (SELECT DISTINCT doc_id FROM grams " +
        "WHERE pct >= 90 AND g IN (SELECT g FROM train_g)) " +
        "SELECT doc_id, lang, n_chars FROM (" +
        "SELECT doc_id, lang, n_chars FROM d WHERE pct >= 90 " +
        "AND doc_id NOT IN (SELECT doc_id FROM leaky) " +
        "ORDER BY CAST(concat('0x', substr(md5(concat(text, '|eval')), 1, 15)) AS BIGINT), doc_id " +
        "LIMIT 10) ORDER BY doc_id"),

    "q_sample_balanced" -> ("WITH k AS (SELECT min(cnt) AS k FROM " +
      "(SELECT lang, count(*) AS cnt FROM documents GROUP BY lang)), " +
      "ranked AS (SELECT doc_id, lang, row_number() OVER " +
      s"(PARTITION BY lang ORDER BY $hSplitDuck, doc_id) AS rk FROM documents) " +
      "SELECT lang, count(*) AS n_docs, min(doc_id) AS min_doc, " +
      "max(doc_id) AS max_doc FROM ranked, k WHERE rk <= k.k " +
      "GROUP BY lang ORDER BY lang"),

    "q_sample_stratified" -> ("SELECT lang, source, count(*) AS n_docs " +
      s"FROM documents WHERE $hDuck % 100 < " +
      "(CASE WHEN lang = 'en' THEN 50 ELSE 10 END) " +
      "GROUP BY lang, source ORDER BY lang, source"),

    // identical exact sufficient statistics, identical IEEE sd/rate
    // chain, identical fixed-point micro-weight sum and hash rule
    "q_sample_neyman" -> ("WITH e AS (SELECT event_type, event_id, " +
      "CAST(floor(CAST(value AS DECIMAL(18,6)) * 1000) AS BIGINT) AS y " +
      "FROM events), " +
      "st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, " +
      "CAST(sum(y) AS BIGINT) AS sy, CAST(sum(y * y) AS BIGINT) AS syy " +
      "FROM e GROUP BY event_type), " +
      "sd AS (SELECT *, sqrt((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - " +
      "CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) / " +
      "(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) AS sdv FROM st), " +
      "wm AS (SELECT *, CAST(round(CAST(n AS DOUBLE) * sdv * 1000000.0, 0) " +
      "AS BIGINT) AS w_micros FROM sd), " +
      "t AS (SELECT CAST(sum(n) AS BIGINT) AS n_total, " +
      "CAST(sum(w_micros) AS BIGINT) AS sw_micros FROM wm), " +
      "r AS (SELECT event_type, n, CAST(LEAST(1000000, " +
      "CAST(floor(CAST(n_total // 10 AS DOUBLE) * " +
      "CAST(w_micros AS DOUBLE) / CAST(sw_micros AS DOUBLE) / " +
      "CAST(n AS DOUBLE) * 1000000.0) AS BIGINT)) AS BIGINT) AS rate_ppm " +
      "FROM wm, t) " +
      "SELECT e.event_type, max(r.n) AS n_rows, max(r.rate_ppm) AS rate_ppm, " +
      "CAST(count(*) AS BIGINT) AS n_sampled, " +
      "CAST(sum(e.y) AS BIGINT) AS sum_y_sampled " +
      "FROM e JOIN r ON e.event_type = r.event_type " +
      "WHERE CAST(concat('0x', substr(md5(CAST(e.event_id AS VARCHAR)), 1, 15)) " +
      "AS BIGINT) % 1000000 < r.rate_ppm " +
      "GROUP BY e.event_type ORDER BY e.event_type"),

    "q_sample_mixture" -> ("WITH c AS (SELECT lang, count(*) AS cnt " +
      "FROM documents GROUP BY lang), " +
      "t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS n_langs FROM c), " +
      "r AS (SELECT lang, cnt, CAST(LEAST(1000000, (total // n_langs) * 1000000 // cnt) " +
      "AS BIGINT) AS rate_ppm FROM c, t) " +
      "SELECT d.lang, max(r.cnt) AS n_orig, max(r.rate_ppm) AS rate_ppm, " +
      "count(*) AS n_kept FROM documents d JOIN r ON d.lang = r.lang " +
      s"WHERE $hDuck % 1000000 < r.rate_ppm " +
      "GROUP BY d.lang ORDER BY d.lang"),

    // parenthesization mirrors the Column expression — all four ops
    // (÷, sqrt, ×, floor) are correctly-rounded IEEE, so the ppm rates
    // are bit-identical across engines
    "q_sample_temperature" -> ("WITH c AS (SELECT lang, count(*) AS cnt " +
      "FROM documents GROUP BY lang), " +
      "t AS (SELECT CAST(min(cnt) AS BIGINT) AS mn FROM c), " +
      "r AS (SELECT lang, cnt, CAST(floor(sqrt(CAST(mn AS DOUBLE) / " +
      "CAST(cnt AS DOUBLE)) * 1000000.0) AS BIGINT) AS rate_ppm FROM c, t) " +
      "SELECT d.lang, max(r.cnt) AS n_orig, max(r.rate_ppm) AS rate_ppm, " +
      "count(*) AS n_kept FROM documents d JOIN r ON d.lang = r.lang " +
      s"WHERE $hDuck % 1000000 < r.rate_ppm " +
      "GROUP BY d.lang ORDER BY d.lang"),

    "q_split_assign" -> ("SELECT split, lang, count(*) AS n_docs, " +
      "CAST(SUM(n_chars) AS DOUBLE) / count(*) AS avg_chars FROM " +
      s"(SELECT lang, n_chars, CASE WHEN $hDuck % 100 < 80 THEN 'train' " +
      s"WHEN $hDuck % 100 < 90 THEN 'val' ELSE 'test' END AS split FROM documents) " +
      "GROUP BY split, lang ORDER BY split, lang"),

    "q_pipeline_clean" -> (cleanCtes +
      "SELECT lang, count(*) AS n_kept, " +
      "CAST(SUM(n_chars) AS DOUBLE) / count(*) AS avg_chars " +
      "FROM surv GROUP BY lang ORDER BY lang"),

    "q_pipeline_train" -> (cleanCtes + ", " +
      "c AS (SELECT lang, count(*) AS cnt FROM surv GROUP BY lang), " +
      "t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS n_langs FROM c), " +
      "r AS (SELECT lang, CAST(LEAST(1000000, (total // n_langs) * 1000000 // cnt) " +
      "AS BIGINT) AS rate_ppm FROM c, t), " +
      "acc AS (SELECT s.lang, s.text FROM surv s JOIN r ON s.lang = r.lang " +
      s"WHERE $hDuck % 1000000 < r.rate_ppm), " +
      s"sp AS (SELECT lang, text, CASE WHEN $hSplitDuck % 100 < 80 THEN 'train' " +
      s"WHEN $hSplitDuck % 100 < 90 THEN 'val' ELSE 'test' END AS split FROM acc) " +
      "SELECT split, lang, count(*) AS n_docs, " +
      "CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tok_sum " +
      "FROM sp GROUP BY split, lang ORDER BY split, lang"),
  )

  /** The cleaning pipeline's CTE chain, shared by both composed
    * oracles; ends with `surv` = (doc_id, lang, n_chars, text). */
  private val cleanCtes: String =
    "WITH canon AS (SELECT d.doc_id, d.lang, d.n_chars, d.text " +
      "FROM (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text) k " +
      "JOIN documents d ON d.doc_id = k.doc_id), " +
      "quality AS (SELECT doc_id, lang, n_chars, text, " +
      "list_distinct(string_split(text, ' ')) AS dt FROM canon " +
      "WHERE CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / " +
      "len(string_split(text, ' ')) >= 0.35), " +
      "pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.dt AS ta, b.dt AS tb " +
      "FROM quality a JOIN quality b ON a.lang = b.lang " +
      "AND a.n_chars // 50 = b.n_chars // 50 AND a.doc_id < b.doc_id), " +
      "dupb AS (SELECT DISTINCT doc_b AS doc_id FROM pairs " +
      "WHERE CAST(len(list_intersect(ta, tb)) AS DOUBLE) / " +
      "(len(ta) + len(tb) - len(list_intersect(ta, tb))) >= 0.8), " +
      "surv AS (SELECT doc_id, lang, n_chars, text FROM quality " +
      "WHERE doc_id NOT IN (SELECT doc_id FROM dupb))"
}
