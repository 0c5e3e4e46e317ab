package graft.operators

import graft.{Dets, QueryFamily, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Dets._

/** SURVEY.md §2.I (part 2) — text analysis + multimodal columns.
  *
  * Text ops are two-phase: a corpus-level statistics pass (token counts,
  * document frequency, language signatures) joined back to the per-doc
  * pass — the same shape a 100 TB pipeline uses, with the small corpus
  * statistics broadcast to the per-doc map side.
  *
  * Multimodal: binary payloads are opaque `binary` columns with typed
  * metadata; here the "media" is the utf-8 encoding of text (the decode
  * step for real image/audio needs codecs this container doesn't ship —
  * see graft.multimodal.MediaPipeline for the stubbed decode plumbing).
  */
object TextOps extends QueryFamily {

  /** 60-bit content hash (Spark side) — same value as the DuckDB form. */
  private val hText = "CAST(conv(substr(md5(text), 1, 15), 16, 10) AS BIGINT)"
  private val hTextDuck = "CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT)"

  /** Two-iteration fixed-point Lloyd's assignment over the embedding
    * corpus — (vec_id, fx, k, d) with fx the floor(1000x+0.5) integer
    * vector, k the assigned cluster and d the exact integer squared
    * distance to its centroid. Shared by q_cluster_kmeans (per-cluster
    * rollup) and Dedup's q_dedup_semantic (intra-cluster prune): both
    * must see the SAME assignment, so the pipeline lives here once.
    * Assignment is map-side (K centroids ride one broadcast row); the
    * update is the posexplode per-(k, dim) sum — one narrow shuffle per
    * iteration, never a vector collect.
    */
  private[operators] def kmeansAssign(s: SparkSession, dir: String): DataFrame =
    kmeansPipeline(s, dir)._2

  /** The FINAL centroids as one broadcastable row — `cents` an
    * array&lt;struct&lt;k, cv&gt;&gt; sorted by k. Exposed so consumers that
    * need ALL K distances (q_sim_ivf_trained's nprobe probing) see the
    * exact centroids the shared assignment used. */
  private[operators] def kmeansCentroidRow(s: SparkSession, dir: String): DataFrame =
    kmeansPipeline(s, dir)._1

  // The trained 1-row centroid array is memoized (graft.Artifacts) +
  // pinned per (session, dir) — the nearDupEdges pattern: four consumers
  // (q_cluster_kmeans, q_dedup_semantic, q_sim_ivf_trained, q_sim_ivfpq)
  // share ONE 2-pass Lloyd's build instead of re-deriving it inside every
  // query DAG (and inside every broadcast that references the centroid
  // row). The ASSIGNMENT stays a live plan in each consumer — it is one
  // map-side broadcast argmin, and pinning it would hide the very shapes
  // PlanSpec pins.
  private def kmeansPipeline(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val e = fixedPointVectors(s, dir)
    def centRow(c: DataFrame): DataFrame =
      c.agg(expr("array_sort(collect_list(struct(k, cv)))").as("cents"))
    def assign(cents: DataFrame): DataFrame =
      e.crossJoin(broadcast(cents))
        .withColumn("m", expr(
          s"array_min(transform(cents, c -> struct(${intSqd("fx", "c.cv")} AS d, c.k AS k)))"))
        .select(col("vec_id"), col("fx"), col("m.k").as("k"), col("m.d").as("d"))
    def update(a: DataFrame): DataFrame =
      a.select(col("k"), posexplode(col("fx")).as(Seq("pos", "x")))
        .groupBy("k", "pos")
        .agg(sum("x").as("sx"), count(lit(1)).as("n"))
        .withColumn("c",
          expr("CAST(floor(CAST(sx AS DOUBLE) / n + 0.5D) AS BIGINT)"))
        .groupBy("k")
        .agg(expr("transform(array_sort(collect_list(struct(pos, c))), " +
          "p -> p.c)").as("cv"))
    val c1row = graft.Artifacts.get(s, "text.kmeansCentroids", dir) {
      val c0 = e.where(col("vec_id") < 8)
        .select(col("vec_id").as("k"), col("fx").as("cv"))
      Dedup.passPinner(s)(centRow(update(assign(centRow(c0)))))
    }
    (c1row, assign(c1row))
  }

  /** (vec_id, fx): the embedding corpus in exact fixed point, fx =
    * floor(1000x + 0.5) per element — the input of every integer vector
    * kernel (k-means, PQ), bit-identical in both engines (fxCte). */
  private[operators] def fixedPointVectors(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings").select(col("vec_id"),
      expr("transform(embedding, x -> " +
        "CAST(floor(CAST(x AS DOUBLE) * 1000.0D + 0.5D) AS BIGINT))").as("fx"))

  /** Exact-integer squared distance between two BIGINT arrays (Spark
    * SQL) — the one distance of every fixed-point kernel: k-means
    * assignment, nearest-centroid probing, PQ encoding. */
  private[operators] def intSqd(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (a, b) -> (a - b) * (a - b)), " +
      "CAST(0 AS BIGINT), (acc, x) -> acc + x)"

  /** DuckDB mirror of [[intSqd]] over the first `n` elements. */
  private[operators] def sqdDuck(a: String, b: String, n: Int): String =
    s"list_sum([ ($a[i+1] - $b[i+1]) * ($a[i+1] - $b[i+1]) for i in range($n) ])"

  /** The BPE base table: corpus word counts with each word rendered as a
    * '<c><c>…' delimited symbol string — the ONLY corpus-scale pass of
    * the trainer/encoder pair; every merge round after operates on these
    * vocab-sized rows.
    */
  private def bpeVocab(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("wc"))
      .withColumn("sym", concat(lit("<"),
        array_join(expr("filter(split(w, ''), c -> c <> '')"), "><"), lit(">")))

  /** One BPE trainer round: frequency-weighted adjacent-pair counts over
    * the delimited symbol strings, (cnt DESC, x, y) argmax. Input needs
    * (wc, sym); extra columns pass through untouched (the encode path
    * carries the raw word). Shared by q_text_bpe and q_text_bpe_encode.
    */
  private def bpeTopMerge(w: DataFrame): DataFrame =
    w.select(col("wc"),
        expr("split(substr(sym, 2, length(sym) - 2), '><')").as("t"))
      .select(col("wc"), explode(expr(
        "CASE WHEN size(t) < 2 THEN " +
        "CAST(array() AS ARRAY<STRUCT<x: STRING, y: STRING>>) " +
        "ELSE transform(sequence(1, size(t) - 1), " +
        "i -> struct(element_at(t, i) AS x, element_at(t, i + 1) AS y)) END"))
        .as("p"))
      .groupBy(col("p.x").as("x"), col("p.y").as("y"))
      .agg(sum("wc").as("cnt"))
      .orderBy(col("cnt").desc, col("x"), col("y")).limit(1)
      .select(col("x"), col("y"), col("cnt"),
        concat(lit("<"), col("x"), lit("><"), col("y"), lit(">")).as("pat"),
        concat(lit("<"), col("x"), col("y"), lit(">")).as("mrg"))

  /** The unigram-LM trainer's word-count base: distinct corpus words
    * (whitespace tokens, length 1..24 — SentencePiece's
    * max_sentencepiece_length analog, and the bound both engines'
    * substring grids share) with corpus frequency. Heaps-law-sized. */
  private def unigramWords(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")).between(1, 24))
      .groupBy("w").agg(count(lit(1)).as("cnt"))

  /** Seed unigram vocabulary: every substring of length 1..4 of every
    * word, frequency-weighted by the word count; single chars always
    * kept (coverage — the Viterbi can never get stuck), multi-char
    * pieces need freq >= 2. Cost = round(-ln(freq/total)·1e6) as a
    * BIGINT — the fixed-point trick that makes the DP exact integer
    * arithmetic (the ln itself is the one 6-dp-grade IEEE call, the
    * q_text_logprob determinism law). */
  private def unigramSeedVocab(words: DataFrame): DataFrame = {
    val pf = words
      .select(col("cnt"), explode(expr(
        "flatten(transform(sequence(0, length(w) - 1), i -> " +
          "transform(sequence(1, least(4, length(w) - i)), " +
          "l -> substr(w, i + 1, l))))")).as("piece"))
      .groupBy("piece").agg(sum("cnt").as("freq"))
      .where(expr("length(piece) = 1 OR freq >= 2"))
    val tot = pf.agg(sum("freq").as("tot"))
    pf.crossJoin(broadcast(tot))
      .select(col("piece"), col("freq"),
        expr("CAST(round(-ln(CAST(freq AS DOUBLE) / tot) * 1000000, 0) AS BIGINT)")
          .as("cost"))
  }

  /** Viterbi segmentation of every word under a (piece, cost) vocabulary:
    * integer min-cost DP over char positions (window = the max piece
    * length 4), ties broken (cost, backptr) ascending so the LONGEST
    * piece ending at a position wins — a stated total order the DuckDB
    * oracle's recursive CTE implements identically. The vocabulary rides
    * in ONE broadcast map row; the DP and backtrace are codegen'd HOFs
    * over the word — map-side per distinct word, the corpus is never
    * touched. Returns (w, cnt, seg, n_pieces, cost). */
  private def unigramViterbi(words: DataFrame, vocab: DataFrame): DataFrame = {
    val vm = vocab.agg(
      map_from_entries(collect_list(struct(col("piece"), col("cost")))).as("m"))
    val big = "CAST(1000000000000 AS BIGINT)"
    val dp = "aggregate(sequence(1, length(w)), " +
      "array(struct(CAST(0 AS BIGINT) AS c, -1 AS b)), " +
      "(acc, j) -> acc || array(array_min(transform(" +
      "sequence(greatest(0, j - 4), j - 1), " +
      "i -> struct(element_at(acc, i + 1).c + " +
      s"coalesce(element_at(m, substr(w, i + 1, j - i)), $big) AS c, " +
      "i AS b)))))"
    val bt = "aggregate(sequence(1, length(w)), " +
      "struct(length(w) AS pos, CAST(array() AS ARRAY<STRING>) AS parts), " +
      "(st, x) -> CASE WHEN st.pos <= 0 THEN st ELSE " +
      "struct(element_at(dp, st.pos + 1).b AS pos, " +
      "concat(array(substr(w, element_at(dp, st.pos + 1).b + 1, " +
      "st.pos - element_at(dp, st.pos + 1).b)), st.parts) AS parts) END)"
    words.crossJoin(broadcast(vm))
      .withColumn("dp", expr(dp))
      .withColumn("bt", expr(bt))
      .select(col("w"), col("cnt"),
        expr("array_join(bt.parts, ' ')").as("seg"),
        expr("CAST(size(bt.parts) AS BIGINT)").as("n_pieces"),
        expr("element_at(dp, length(w) + 1).c").as("cost"))
  }

  /** The unigram M-step: Viterbi-segment under `seed`, re-estimate piece
    * frequencies from the weighted segmentation counts, keep used pieces
    * plus all single chars (char floor +1 — the SentencePiece coverage
    * rule), recost. Shared by q_text_unigram (serves it) and
    * q_text_unigram2 (drives round 2's E-step with it). */
  private def unigramSurvivors(words: DataFrame, seed: DataFrame): DataFrame = {
    val used = unigramViterbi(words, seed)
      .select(col("cnt"), explode(split(col("seg"), " ")).as("piece"))
      .groupBy("piece").agg(sum("cnt").as("u"))
    val survivors = seed
      .select(col("piece"), length(col("piece")).cast("bigint").as("piece_len"))
      .join(used, Seq("piece"), "left")
      .withColumn("used_cnt", coalesce(col("u"), lit(0L)))
      .withColumn("freq", col("used_cnt") +
        when(col("piece_len") === 1, 1L).otherwise(0L))
      .where(col("freq") > 0)
    val tot = survivors.agg(sum("freq").as("ntot"))
    survivors.crossJoin(broadcast(tot))
      .select(col("piece"), col("piece_len"), col("used_cnt"),
        expr("CAST(round(-ln(CAST(freq AS DOUBLE) / ntot) * 1000000, 0) AS BIGINT)")
          .as("cost"))
  }

  /** The unigram trainer run to SentencePiece's actual stopping shape —
    * EM rounds against a VOCAB BUDGET (r17 verdict #5): each round is
    * E-step Viterbi under the incoming model, M-step survivor
    * re-estimation ([[unigramSurvivors]]' rule: used pieces + the
    * single-char coverage floor), then the BUDGET PRUNE — keep every
    * single char plus the top-`budget` multi-char pieces by
    * (freq DESC, piece) — and recost over the kept set. Returns the
    * per-round (model-in, E-step segmentations, model-out) triple for
    * the ledger key and UnigramSpec's reconstruction pins. Four fixed
    * rounds (the budget is reached on round 1 here; the remaining
    * rounds demonstrate the fixed point — both engines must agree on
    * every one). The per-round tables are piece- or word-table sized
    * (Heaps-law), pinned with localCheckpoint so each round's Viterbi
    * runs once; `words` is pinned first so the corpus is scanned
    * exactly once across all four rounds. */
  // The budget-EM chain is a TRAINED ARTIFACT (like the PQ codebooks):
  // memoized per (session, dir, budget) in graft.Artifacts so Bench's
  // repeated invocations and the spec's re-reads serve the one build
  // instead of re-running four Viterbi rounds and re-pinning eight
  // localCheckpoints per call — at 100 TB the trained tokenizer is
  // exactly what you materialize once.
  private[graft] def unigramBudgetChain(s: SparkSession, dir: String,
      budget: Int = 16): Seq[(DataFrame, DataFrame, DataFrame)] =
    graft.Artifacts.get(s, s"text.unigramBudgetChain.$budget", dir)(
      buildUnigramBudgetChain(s, dir, budget))

  private def buildUnigramBudgetChain(s: SparkSession, dir: String,
      budget: Int): Seq[(DataFrame, DataFrame, DataFrame)] = {
    val words = unigramWords(s, dir).localCheckpoint()
    var vocab = unigramSeedVocab(words)
      .select(col("piece"), length(col("piece")).cast("bigint").as("piece_len"),
        col("freq"), col("cost"))
      .localCheckpoint()
    (1 to 4).map { _ =>
      val vin = vocab
      val vit = unigramViterbi(words, vocab.select("piece", "cost"))
        .localCheckpoint()
      val used = vit
        .select(col("cnt"), explode(split(col("seg"), " ")).as("piece"))
        .groupBy("piece").agg(sum("cnt").as("u"))
      val sv = vocab.select(col("piece"), col("piece_len"))
        .join(used, Seq("piece"), "left")
        .withColumn("freq", coalesce(col("u"), lit(0L)) +
          when(col("piece_len") === 1, 1L).otherwise(0L))
        .where(col("freq") > 0)
        .select("piece", "piece_len", "freq")
      val kept = sv.where(col("piece_len") === 1).unionByName(
        sv.where(col("piece_len") > 1)
          .orderBy(col("freq").desc, col("piece")).limit(budget))
      val tot = kept.agg(sum("freq").as("ntot"))
      val out = kept.crossJoin(broadcast(tot))
        .select(col("piece"), col("piece_len"), col("freq"),
          expr("CAST(round(-ln(CAST(freq AS DOUBLE) / ntot) * 1000000, 0) " +
            "AS BIGINT)").as("cost"))
        .localCheckpoint()
      vocab = out
      (vin, vit, out)
    }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Tokenizer as a generator (explode) + global top-20 token counts.
    "q_text_tokenize" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .select(explode(split(lower(col("text")), " ")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token")).limit(20)),

    // TF-IDF: top-3 terms per doc by tf * ln(N/df); ordered by the rounded
    // score so both engines rank identically.
    "q_text_tfidf" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val tf = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      // df from the same tf pass, as a count() window partitioned by
      // term, so documents.text is scanned and tokenized once (a groupBy
      // + join-back plans a second tf for the df side). The window does
      // no partial aggregation, but tf rows are already one per (doc,
      // term), and when df is too large to broadcast the join-back
      // shuffles tf by term too. n_docs counts documents, not tf rows: a
      // document with null text has no terms.
      val score = round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4)
      val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
      tf.withColumn("df", count(lit(1)).over(Window.partitionBy("term"))).crossJoin(n)
        .withColumn("score", score)
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 3)
        .select(col("doc_id"), big(col("rnk")).as("rnk"), col("term"), col("score"))
        .orderBy("doc_id", "rnk")
    }),

    // Token counting two ways: whitespace tokens and a BPE-ish
    // pre-tokenizer count (letter runs | digit runs | single other char —
    // the GPT-2 pre-tokenization shape, restricted to ASCII classes so
    // Spark's Java regex and the oracle's RE2 agree byte-for-byte).
    // Pure per-row map: no shuffle at any scale except the output sort.
    "q_text_tokencount" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          big(size(split(col("text"), " "))).as("ws_tokens"),
          big(expr("regexp_count(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')"))
            .as("bpe_tokens"),
          big(length(col("text"))).as("n_chars"))
        .orderBy("doc_id")),

    // Corpus stats per (lang, source): all ratios from exact integer sums.
    "q_text_stats" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .select(col("lang"), col("source"), col("n_chars"),
          size(split(col("text"), " ")).as("n_toks"),
          size(array_distinct(split(col("text"), " "))).as("n_dist"))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          (dbl(sum(col("n_chars"))) / count(lit(1))).as("avg_chars"),
          (dbl(sum(col("n_toks"))) / count(lit(1))).as("avg_toks"),
          (dbl(sum(col("n_dist"))) / dbl(sum(col("n_toks")))).as("distinct_ratio"))
        .orderBy("lang", "source")),

    // Language ID by corpus statistics: each token votes for the language
    // it appears most in; a doc's guess is the majority of its tokens'
    // votes. Both argmaxes use row_number with explicit tiebreaks.
    "q_text_langid" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val toks = docs.select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("token"))
      val wv = Window.partitionBy("token").orderBy(col("cnt").desc, col("lang"))
      val vote = toks.groupBy("token", "lang").agg(count(lit(1)).as("cnt"))
        .withColumn("r", row_number().over(wv)).where(col("r") === 1)
        .select(col("token"), col("lang").as("voted_lang"))
      val wd = Window.partitionBy("doc_id").orderBy(col("votes").desc, col("voted_lang"))
      val guess = toks.select("doc_id", "token").join(vote, "token")
        .groupBy("doc_id", "voted_lang").agg(count(lit(1)).as("votes"))
        .withColumn("r", row_number().over(wd)).where(col("r") === 1)
        .select(col("doc_id"), col("voted_lang").as("guessed_lang"))
      docs.select("doc_id", "lang").join(guess, "doc_id")
        .select(col("doc_id"), col("lang"), col("guessed_lang"),
          (col("lang") === col("guessed_lang")).as("correct"))
        .orderBy("doc_id")
    }),

    // Quality scoring: distinct-token ratio, stopword (global top-10
    // token) ratio, token length/density — the usual pretraining filters.
    "q_text_quality" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      val stop = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token")).limit(10).select("token")
      val stopCnt = toks.join(stop, "token")
        .groupBy("doc_id").agg(count(lit(1)).as("n_stop"))
      docs.select(col("doc_id"), col("lang"), col("n_chars"),
          size(split(col("text"), " ")).as("n_toks"),
          size(array_distinct(split(col("text"), " "))).as("n_dist"))
        .join(stopCnt, Seq("doc_id"), "left")
        .withColumn("n_stop", coalesce(col("n_stop"), lit(0L)))
        .select(col("doc_id"), col("lang"), col("n_toks").cast("bigint").as("n_toks"),
          col("n_dist").cast("bigint").as("n_dist"), col("n_stop"),
          (dbl(col("n_chars") - (col("n_toks") - 1)) / col("n_toks")).as("avg_tok_len"),
          // raw double, NOT rounded: both engines compute the identical
          // IEEE value from identical integers, while round() itself is
          // the cross-engine hazard (Spark rounds the shortest decimal
          // repr, DuckDB the binary value — they disagree on exact
          // boundaries like 77/160 = "0.48125")
          (dbl(col("n_dist")) / col("n_toks") * 0.5 +
            (lit(1.0) - dbl(col("n_stop")) / col("n_toks")) * 0.5).as("quality"))
        .orderBy("doc_id")
    }),

    // Boilerplate scrub: drop stopword tokens ('the', 'a'), re-join, and
    // report removal stats per doc — the cleaning transform before
    // tokenizer training. Token-level (split/filter/array_join), not
    // regex: byte-identical across engines and stays in whole-stage
    // codegen; a regex scrub re-parses the string per pattern.
    "q_text_scrub" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .withColumn("toks", split(col("text"), " "))
        .withColumn("kept", filter(col("toks"), t => !t.isin("the", "a")))
        .withColumn("clean", array_join(col("kept"), " "))
        .select(col("doc_id"),
          big(size(col("toks"))).as("n_toks"),
          big(size(col("toks")) - size(col("kept"))).as("n_removed"),
          big(length(col("clean"))).as("clean_chars"),
          substring(col("clean"), 1, 80).as("clean_prefix"))
        .orderBy("doc_id")),

    // Benchmark decontamination: train docs sharing a word-4-gram with
    // the held-out split (content-hash pct >= 90, the q_split_assign
    // test bucket). The held-out gram set is small by construction
    // (benchmarks are), so the membership join broadcasts — the same
    // shape a 100 TB decontamination pass has: corpus-scale gram stream
    // probed against a broadcast benchmark-gram set.
    "q_text_contamination" -> ((s, dir) => {
      val grams = Tables(s, dir, "documents")
        .withColumn("t", split(col("text"), " "))
        .where(size(col("t")) >= 4)
        .withColumn("pct", pmod(expr(hText), lit(100L)))
        .select(col("doc_id"), col("lang"), col("pct"),
          explode(expr("transform(sequence(1, size(t) - 3), i -> " +
            "concat_ws(' ', element_at(t, i), element_at(t, i + 1), " +
            "element_at(t, i + 2), element_at(t, i + 3)))")).as("g"))
      val testGrams = grams.where(col("pct") >= 90).select("g").distinct()
      grams.where(col("pct") < 90)
        .join(testGrams, "g")
        .groupBy("doc_id", "lang")
        .agg(countDistinct(col("g")).as("n_hits"))
        .orderBy("doc_id")
    }),

    // Unigram LM document scoring: avg log-probability of a doc's tokens
    // under the corpus unigram distribution — the classic cheap
    // perplexity proxy for quality filtering. Per-token ln is rounded to
    // 6 dp and summed as DECIMAL so the aggregate is order-independent
    // (raw double sums are banned, SURVEY.md §7.4).
    "q_text_logprob" -> ((s, dir) => {
      val toks = Tables(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val freq = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      val total = freq.agg(sum(col("cnt")).as("tot"))
      toks.join(freq, "tok").crossJoin(total)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_toks"),
          round(dbl(sum(dec6(round(log(dbl(col("cnt")) / col("tot")), 6))))
            / count(lit(1)), 4).as("avg_logprob"))
        .orderBy("doc_id")
    }),

    // Bigram LM document scoring — the conditional-probability upgrade of
    // q_text_logprob: avg ln P(w2|w1) with add-0.5 smoothing in the
    // standard estimator form. (Scoring docs drawn from the training
    // corpus itself, every bigram has cnt2 >= 1 — the smoothing term
    // keeps both engines on the identical formula rather than rescuing
    // unseen continuations, which this query never meets.) Same
    // determinism law: per-bigram ln rounded to 6 dp, summed as DECIMAL.
    // Scale shape: bigram and unigram count tables are vocabulary-sized
    // (broadcastable); the per-doc pass is explode + two equi-joins.
    "q_text_bigramlm" -> ((s, dir) => {
      val t = Tables(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("t"))
      val bi = t.where(size(col("t")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(t) - 1), " +
            "i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))"))
          .as("b"))
        .select(col("doc_id"), col("b.w1"), col("b.w2"))
      val toks = t.select(col("doc_id"), explode(col("t")).as("tok"))
      val cb = bi.groupBy("w1", "w2").agg(count(lit(1)).as("cnt2"))
      val cu = toks.groupBy("tok").agg(count(lit(1)).as("cnt1"))
      val vocab = cu.agg(count(lit(1)).as("v"))
      bi.join(cb, Seq("w1", "w2")).join(cu, col("w1") === col("tok"))
        .crossJoin(broadcast(vocab))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          round(dbl(sum(dec6(round(
            log((col("cnt2") + lit(0.5)) / (col("cnt1") + lit(0.5) * col("v"))),
            6)))) / count(lit(1)), 4).as("avg_bigram_logprob"))
        .orderBy("doc_id")
    }),

    // Token BURSTINESS (Church & Gale's variance-to-mean dispersion —
    // the published content-word detector): a function word ("the")
    // spreads Poisson-like across documents (Fano ≈ 1); a topical word
    // clumps into the few docs about its topic (Fano ≫ 1). Per token
    // over the FULL doc universe D (zeros included — that's what makes
    // it a dispersion): Fano = Var/μ = (D·Σc² − (Σc)²)/(D·Σc), served
    // from the exact integer sufficient statistics (df, Σc, Σc²) with
    // ONE IEEE chain (each factor casts exactly below 2^53; the
    // all-integer numerator would cross 2⁶³ at D ≈ 10⁹·… — the chisq
    // lesson, so the products are double-side). Top 20 by (Σc DESC,
    // token). One (doc, token) count shuffle + one token rollup; D
    // rides a one-row broadcast. UnigramSpec pins the scalar recompute
    // and the dispersion law (Fano strictly positive for any token off
    // full-uniform support).
    "q_text_burstiness" -> ((s, dir) => {
      val dt = Tables(s, dir, "documents")
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("t"))
        .where(length(col("t")) >= 1)
        .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
      val d = Tables(s, dir, "documents").agg(count(lit(1)).as("d"))
      dt.groupBy("t")
        .agg(count(lit(1)).as("df"), sum("c").as("sc"),
          sum(expr("c * c")).as("sc2"))
        .crossJoin(broadcast(d))
        .selectExpr("t", "df", "sc", "sc2",
          "CAST(floor((CAST(d AS DOUBLE) * CAST(sc2 AS DOUBLE) - " +
            "CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)) / " +
            "(CAST(d AS DOUBLE) * CAST(sc AS DOUBLE)) * 1000000.0D) " +
            "AS BIGINT) AS fano_ppm")
        .orderBy(col("sc").desc, col("t")).limit(20)
    }),

    // Jensen–Shannon divergence between language unigram distributions
    // — the corpus-mix drift measure (symmetric, bounded, defined on
    // disjoint supports where KL blows up): JSD(P‖Q) = ½Σp·ln(p/m) +
    // ½Σq·ln(q/m), m = (p+q)/2. The float hazard is the Σ — a global
    // double sum is shuffle-order-dependent — so the ratio moves to
    // INTEGER arguments first: p/m = 2·cₐ·T_b/(cₐ·T_b + c_b·Tₐ), both
    // sides exact BIGINTs (products hold in int64 to ~10⁷ count ×
    // 10¹¹ tokens), each takes ONE rounded 6-dp ln, and the per-term
    // contribution cₐ·Δₐ is an exact INTEGER that sums
    // order-independently (|Σ| ≤ Tₐ·|Δ|max — int64 to ~10¹¹
    // tokens/lang). The served jsd_micros is one final IEEE chain over
    // the two integer sums. Absent terms contribute 0 from their side
    // naturally (cₐ = 0 ⇒ no a-term), which is exactly why JSD and not
    // KL is the drift metric. One vocab-sized full join per pair;
    // totals ride one-row broadcasts. UnigramSpec pins the scalar
    // recompute, symmetry, and the 0 ≤ JSD ≤ ln 2 bound.
    "q_text_jsd" -> ((s, dir) => {
      val uni = Tables(s, dir, "documents")
        .select(col("lang"), explode(split(lower(col("text")), " ")).as("t"))
        .where(length(col("t")) >= 1)
        .groupBy("lang", "t").agg(count(lit(1)).as("c"))
      def side(l: String, cn: String) = uni.where(col("lang") === l)
        .select(col("t"), col("c").as(cn))
      def tot(l: String, tn: String) = uni.where(col("lang") === l)
        .agg(sum("c").as(tn))
      val lnG = (a: String) =>
        s"CAST(round(ln(CAST($a AS DOUBLE)) * 1000000, 0) AS BIGINT)"
      def pair(other: String): DataFrame =
        side("en", "ca").join(side(other, "cb"), Seq("t"), "full")
          .na.fill(0L, Seq("ca", "cb"))
          .crossJoin(broadcast(tot("en", "ta")))
          .crossJoin(broadcast(tot(other, "tb")))
          .withColumn("mix", expr("ca * tb + cb * ta"))
          .withColumn("da", expr(
            s"CASE WHEN ca > 0 THEN ${lnG("2 * ca * tb")} - ${lnG("mix")} " +
              "ELSE CAST(0 AS BIGINT) END"))
          .withColumn("db", expr(
            s"CASE WHEN cb > 0 THEN ${lnG("2 * cb * ta")} - ${lnG("mix")} " +
              "ELSE CAST(0 AS BIGINT) END"))
          .groupBy()
          .agg(count(lit(1)).as("n_vocab_union"),
            min("ta").as("ta"), min("tb").as("tb"),
            sum(expr("ca * da")).as("sum_a"), sum(expr("cb * db")).as("sum_b"))
          .selectExpr(s"'$other' AS vs", "n_vocab_union", "ta", "tb",
            "sum_a", "sum_b",
            "CAST(floor(CAST(sum_a AS DOUBLE) / (2.0D * CAST(ta AS DOUBLE)) + " +
              "CAST(sum_b AS DOUBLE) / (2.0D * CAST(tb AS DOUBLE))) " +
              "AS BIGINT) AS jsd_micros")
      Seq("de", "es", "fr", "zh").map(pair)
        .reduce(_ unionByName _).orderBy("vs")
    }),

    // Interpolated Kneser–Ney bigram probabilities (Kneser & Ney 1995,
    // the Chen & Goodman 1998 formulation — THE published n-gram
    // smoother) beside q_text_bigramlm's add-k baseline: P(w2|w1) =
    // (c(w1,w2) − D)/c(w1) + λ(w1)·P_cont(w2) with fixed D = 0.75,
    // λ(w1) = D·N1+(w1,·)/c(w1), P_cont(w2) = N1+(·,w2)/N1+(··). The
    // five inputs are EXACT integers (bigram count, context total,
    // distinct followers, distinct preceders, distinct bigram types);
    // the served probability is one shared IEEE chain, floor-scaled.
    // The (c − D) clamp never binds (counts ≥ 1 > D), stated not
    // computed. Scale: ONE bigram-count shuffle; the context /
    // continuation tables are Heaps-law-sized groupBys of the bigram
    // TYPE table and join back broadcast. UnigramSpec pins the scalar
    // recompute AND the normalization theorem Σ_w2 P(w2|w1) = 1.
    "q_text_kneserney" -> ((s, dir) => {
      val t = Tables(s, dir, "documents")
        .select(split(lower(col("text")), " ").as("t"))
      val bi = t.where(size(col("t")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(t) - 1), " +
            "i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))"))
          .as("b"))
        .select(col("b.w1"), col("b.w2"))
        .where(length(col("w1")) >= 1 && length(col("w2")) >= 1)
      val cb = bi.groupBy("w1", "w2").agg(count(lit(1)).as("cnt2"))
      val ctx = cb.groupBy("w1")
        .agg(sum("cnt2").as("c1"), count(lit(1)).as("n_follow"))
      val cont = cb.groupBy("w2").agg(count(lit(1)).as("n_prec"))
      val nb = cb.agg(count(lit(1)).as("n_bigram_types"))
      cb.join(broadcast(ctx), "w1").join(broadcast(cont), "w2")
        .crossJoin(broadcast(nb))
        .selectExpr("w1", "w2", "cnt2", "c1", "n_follow", "n_prec",
          "n_bigram_types",
          "CAST(floor(((CAST(cnt2 AS DOUBLE) - 0.75D) / CAST(c1 AS DOUBLE) + " +
            "0.75D * CAST(n_follow AS DOUBLE) / CAST(c1 AS DOUBLE) * " +
            "CAST(n_prec AS DOUBLE) / CAST(n_bigram_types AS DOUBLE)) " +
            "* 1000000.0D) AS BIGINT) AS pkn_micros")
        .orderBy(col("cnt2").desc, col("w1"), col("w2")).limit(20)
    }),

    // Document fingerprinting: order-sensitive position-weighted hash
    // (a rolling-hash analog that stays exact in 64-bit), plus an md5
    // prefix as the content id.
    "q_text_fingerprint" -> ((s, dir) =>
      Tables(s, dir, "documents").selectExpr(
        "doc_id",
        "CAST(aggregate(transform(split(text, ' '), (t, i) -> " +
          "(CAST(i AS BIGINT) + 1) * (CAST(conv(substr(md5(t), 1, 15), 16, 10) AS BIGINT) % 1000003)), " +
          "CAST(0 AS BIGINT), (a, x) -> a + x) % 2147483647 AS BIGINT) AS fp",
        "substr(md5(text), 1, 8) AS content_id")
        .orderBy("doc_id")),

    // PII redaction — the scrub pass every training-data pipeline runs
    // before anything ships: emails, IPv4 literals, and a fixture phone
    // shape regex-redacted to typed placeholders, served as per-doc
    // redaction counts plus md5 over the REDACTED text (so a single
    // byte of divergence in the replacement fails the hash gate). The
    // corpus carries no organic PII, so the input is deterministically
    // ENRICHED first (the mediaFrame pattern: synthesize from the
    // fixture, then process for real) — docs with doc_id % 5 == 4 stay
    // un-enriched so the zero-redaction branch is exercised too.
    // Patterns are kept alternation-free and greedy-simple so Java
    // regex (Spark) and RE2 (DuckDB) match identically. Scale: map-only
    // regex over the corpus — no shuffle before the output ordering.
    "q_text_redact" -> ((s, dir) => {
      val enriched = Tables(s, dir, "documents")
        .withColumn("full", expr(
          "CASE WHEN doc_id % 5 = 4 THEN text ELSE concat(text, " +
            "' contact user', CAST(doc_id AS STRING), '@mail', " +
            "CAST(doc_id % 7 AS STRING), '.example.com now at ', " +
            "CAST(10 + doc_id % 100 AS STRING), '.', " +
            "CAST(doc_id * 3 % 256 AS STRING), '.', " +
            "CAST(doc_id * 7 % 256 AS STRING), '.', " +
            "CAST(1 + doc_id % 254 AS STRING), " +
            "CASE WHEN doc_id % 4 = 0 THEN concat(' call +1-555-', " +
            "lpad(CAST(doc_id % 10000 AS STRING), 4, '0')) ELSE '' END) END"))
      val red = regexp_replace(regexp_replace(regexp_replace(col("full"),
        lit(redactEmailPat), lit("<EMAIL>")),
        lit(redactIpPat), lit("<IP>")),
        lit(redactPhonePat), lit("<PHONE>"))
      enriched.select(col("doc_id"),
        regexp_count(col("full"), lit(redactEmailPat)).cast("bigint").as("n_email"),
        regexp_count(col("full"), lit(redactIpPat)).cast("bigint").as("n_ip"),
        regexp_count(col("full"), lit(redactPhonePat)).cast("bigint").as("n_phone"),
        md5(red).as("red_md5"))
        .orderBy("doc_id")
    }),

    // Repetition quality signal (the Gopher-rules "fraction of content in
    // duplicated n-grams" family): per doc, word-bigram multiplicities →
    // top bigram count vs total. Emitted as raw INTEGERS (top_count,
    // n_bigrams, n_distinct) plus a `repetitive` flag (top*4 >= total,
    // i.e. one bigram is >=25% of the doc) — no float ratio, so no
    // cross-engine rounding hazard. The per-(doc, bigram) groupBy is
    // narrow and hot-doc safe: a doc's bigrams partial-aggregate map-side
    // before the shuffle.
    "q_text_repetition" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val toks = docs.select(col("doc_id"), split(col("text"), " ").as("t"))
      val bi = toks.select(col("doc_id"), explode(expr(
        "CASE WHEN size(t) < 2 THEN CAST(array() AS ARRAY<STRING>) " +
        "ELSE transform(sequence(1, size(t) - 1), " +
        "i -> concat(element_at(t, i), ' ', element_at(t, i + 1))) END")).as("bg"))
      val agg = bi.groupBy("doc_id", "bg").agg(count(lit(1)).as("cnt"))
        .groupBy("doc_id").agg(sum("cnt").as("n_bigrams"),
          count(lit(1)).as("n_distinct"), max("cnt").as("top_count"))
      docs.select("doc_id").join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
          coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
          coalesce(col("top_count"), lit(0L)).as("top_count"))
        .withColumn("repetitive",
          col("n_bigrams") > 0 && col("top_count") * 4 >= col("n_bigrams"))
        .orderBy("doc_id")
    }),

    // Overlapping sliding-window chunking — the RAG / context-window prep
    // staple: 120-char windows on a 90-char stride (30 overlap), chunk
    // starts generated per doc from its own length (sequence + explode —
    // never a corpus-size cross join with an index table). Everything but
    // the output ordering is MAP-ONLY: chunk ids, offsets, hashes and
    // token counts are projections of the doc row, so at 100 TB this is
    // an embarrassingly parallel single pass with no shuffle at all.
    // substr/length are CHARACTER-based in both engines (the zh docs are
    // multibyte) and md5 hashes the UTF-8 bytes of the same characters,
    // so c_hash is bit-identical cross-engine.
    "q_text_chunks" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          explode(expr("sequence(0, CAST(floor((length(text) - 1) / 90) AS INT))"))
            .as("chunk_id"))
        .withColumn("c_start", col("chunk_id") * 90 + 1)
        .withColumn("chunk", expr("substr(text, c_start, 120)"))
        .select(col("doc_id"), big(col("chunk_id")).as("chunk_id"),
          big(col("c_start")).as("c_start"),
          big(length(col("chunk"))).as("c_len"),
          md5(col("chunk")).as("c_hash"),
          big(size(split(col("chunk"), " "))).as("n_tokens"))
        .orderBy("doc_id", "chunk_id")),

    // Multimodal join: text features with vector features, outer where the
    // embedding is missing (genuinely partial at sf0.1).
    "q_multimodal_join" -> ((s, dir) => {
      val d = Tables(s, dir, "documents"); val e = Tables(s, dir, "embeddings")
      d.join(e.withColumn("v", transform(col("embedding"), x => x.cast("double"))),
          d("doc_id") === col("vec_id"), "left")
        .select(d("doc_id"), d("n_chars"), d("lang"), col("label"),
          round(expr("sqrt(vec_dot(v, v))"), 4).as("emb_norm"))
        .orderBy("doc_id")
    }),

    // Pseudo-cluster profile per label: element-wise centroid (long-form
    // posexplode -> per-(label,pos) mean), each member's distance to its
    // centroid, the farthest member, and the cluster spread.
    //
    // Scale shape: the centroid table is tiny (labels x 64), so it is
    // gathered back into one ordered array per label and BROADCAST —
    // members are never reshuffled and the distance is per-row array math.
    // The long-form alternative (re-join members on (label, pos) and
    // re-aggregate per vec_id) shuffles the full exploded fact table
    // twice; at a billion vectors that's the plan that falls over.
    "q_multimodal_cluster" -> ((s, dir) => {
      val pe = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          posexplode(transform(col("embedding"), x => x.cast("double"))).as(Seq("pos", "x")))
      val cent = pe.groupBy("label", "pos").agg(avg("x").as("c"))
      val centArr = cent.groupBy("label")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
          e => e.getField("c")).as("cv"))
      val dist = Tables(s, dir, "embeddings")
        // a NULL/empty embedding contributes no posexplode rows to the
        // centroid pass (and no unnest rows in the oracle) — drop it from
        // the member pass too, or n_members/avg_dist diverge cross-engine
        .where(col("embedding").isNotNull && size(col("embedding")) > 0)
        .select(col("vec_id"), col("label"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
        .join(broadcast(centArr), "label")
        .select(col("vec_id"), col("label"),
          round(sqrt(aggregate(zip_with(col("v"), col("cv"),
            (x, c) => (x - c) * (x - c)), lit(0.0), (a, d2) => a + d2)), 4).as("dist"))
      val m = dist.groupBy("label").agg(count(lit(1)).as("n_members"),
        round(avg(col("dist")), 4).as("avg_dist"))
      val w = Window.partitionBy("label").orderBy(col("dist").desc, col("vec_id"))
      dist.withColumn("r", row_number().over(w)).where(col("r") === 1)
        .select(col("label"), col("vec_id").as("far_vec"), col("dist").as("far_dist"))
        .join(m, "label")
        .select("label", "far_vec", "far_dist", "n_members", "avg_dist")
        .orderBy("label")
    }),

    // Distributed Lloyd's k-means over the embedding corpus (K=8, two
    // exact iterations) — the clustering primitive behind corpus
    // bucketing / mixture balancing that q_multimodal_cluster's one-shot
    // per-label stats don't cover: labels here are DISCOVERED by
    // iterative reassignment, not given. Everything is exact integer
    // arithmetic: vectors fixed-point (floor(1000x+0.5)), distances
    // integer sums (order-independent), and each updated centroid is
    // rounded back to the integer grid per dimension (one IEEE divide +
    // floor — bit-identical cross-engine), so assignments and inertia
    // hash-match with NO rounding boundary. Ties break (distance, k).
    // Seeds = vectors 0..7, so every cluster retains its seed (self-
    // distance 0) and can never empty. Scale shape: assignment is
    // MAP-SIDE — the K centroids ride one broadcast row and argmin is
    // array_min over (d, k) structs; the update is the posexplode
    // per-(k, dim) sum (the q_multimodal_cluster pattern) — one narrow
    // shuffle per iteration, never a vector collect.
    "q_cluster_kmeans" -> ((s, dir) =>
      kmeansAssign(s, dir)
        .groupBy("k").agg(count(lit(1)).as("n_members"),
          sum(col("d")).as("inertia"), min(col("vec_id")).as("min_member"))
        .orderBy("k")),

    // Distributed BPE vocabulary induction — 4 exact merge rounds of the
    // byte-pair-encoding trainer every tokenizer pipeline runs. The ONLY
    // corpus-scale pass is the initial word count; every round after
    // operates on the VOCAB-sized (word, count) table (Heaps' law: ~N^0.5
    // of the corpus), exactly how production BPE trainers scale: pair
    // counts are weighted by word frequency (one shuffle over vocab rows
    // per round), the argmax merge is a 1-row limit with a (count DESC,
    // pair ASC) total-order tie-break, and applying it is a map-side
    // string rewrite under a 1-row broadcast. Symbols are delimited
    // '<a><b>' so a merge pattern '<x><y>' can never match inside a
    // longer symbol and adjacent matches never share characters —
    // replace() is then boundary-exact and left-to-right identical in
    // both engines ('<'/'>' verified absent from the corpus at all SFs).
    // Round r's plan references round r-1 twice (once for its top pair,
    // once rewritten); the subplans are identical, so ReuseExchange
    // dedups them — at corpus scale you would checkpoint the word table
    // between rounds instead. Output: the learned merge table.
    "q_text_bpe" -> ((s, dir) => {
      var cur = bpeVocab(s, dir).select("wc", "sym")
      val merges = (1 to 4).map { i =>
        val m = bpeTopMerge(cur)
        cur = cur.crossJoin(broadcast(m.select("pat", "mrg")))
          .withColumn("sym", expr("replace(sym, pat, mrg)"))
          .select("wc", "sym")
        m.select(lit(i.toLong).as("iter"), col("x"), col("y"),
          concat(col("x"), col("y")).as("merged"), col("cnt"))
      }
      merges.reduce(_ unionByName _).orderBy("iter")
    }),

    // The consumer of q_text_bpe's learned merge table: tokenize the
    // corpus with the trained subword vocabulary and serve per-doc token
    // statistics — the token-counting pass every training-data pipeline
    // runs to budget sequences. The production shape: merges apply to
    // the VOCAB table (Heaps' law, ~N^0.5 rows), producing a word ->
    // token-count lexicon, and the corpus pass is ONE broadcast join on
    // the word — the corpus-scale text is never rewritten, only its
    // (doc_id, word) explode is touched. n_tokens/n_chars shrink as
    // merges land; n_words is the whitespace baseline.
    "q_text_bpe_encode" -> ((s, dir) => {
      val toks = Tables(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .where(length(col("w")) > 0)
      var cur = bpeVocab(s, dir)
      (1 to 4).foreach { _ =>
        val m = bpeTopMerge(cur)
        cur = cur.crossJoin(broadcast(m.select("pat", "mrg")))
          .withColumn("sym", expr("replace(sym, pat, mrg)"))
          .select("w", "wc", "sym")
      }
      val lexicon = cur.select(col("w"),
        big(expr("size(split(substr(sym, 2, length(sym) - 2), '><'))"))
          .as("n_tok"),
        big(length(col("w"))).as("n_chars_w"))
      toks.join(broadcast(lexicon), "w")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"), sum("n_chars_w").as("n_chars"),
          sum("n_tok").as("n_tokens"))
        .orderBy("doc_id")
    }),

    // Unigram-LM tokenizer (SentencePiece's OTHER production family,
    // next to the q_text_bpe trainer): seed vocabulary = every substring
    // of length 1..4 over the word-count table (singles always kept for
    // coverage; multi-char pieces need weighted freq >= 2), piece cost =
    // the fixed-point integer round(-ln(freq/total)·1e6), then ONE exact
    // EM round — E-step: Viterbi-segment every distinct word under the
    // seed costs (integer DP, ties broken (cost, backptr) so the LONGEST
    // piece wins — a stated total order both engines implement); M-step:
    // re-estimate piece frequencies from the weighted segmentation
    // counts, keep pieces that were used plus all single chars (char
    // floor +1 — SentencePiece's coverage rule), recost. This key serves
    // the M-step vocabulary; q_text_unigram_seg serves the E-step
    // segmentations. Scale: the DP runs over the Heaps-law word-count
    // table (never the corpus) under a broadcast vocab map — map-side
    // after the one word-count shuffle.
    "q_text_unigram" -> ((s, dir) => {
      val words = unigramWords(s, dir)
      unigramSurvivors(words, unigramSeedVocab(words))
        .select("piece", "piece_len", "used_cnt", "cost")
        .orderBy("piece")
    }),

    // The SECOND EM round — what makes the trainer genuinely iterative
    // (SentencePiece runs this loop until the vocab budget): the round-1
    // M-step's pruned, recosted vocabulary drives a fresh E-step Viterbi
    // over the same word table. Same DP, same tie-break, same broadcast
    // shape; the vocabulary map is now the SURVIVOR model, so every
    // piece any segmentation uses is a survivor (pinned in UnigramSpec).
    "q_text_unigram2" -> ((s, dir) => {
      val words = unigramWords(s, dir)
      val vocab2 = unigramSurvivors(words, unigramSeedVocab(words))
        .select("piece", "cost")
      unigramViterbi(words, vocab2)
        .select(col("w").as("word"), col("cnt"), col("seg"),
          col("n_pieces"), col("cost"))
        .orderBy("word")
    }),

    // The EM loop run to SentencePiece's actual stopping rule — a VOCAB
    // BUDGET: four rounds of E-step/M-step/budget-prune (keep all
    // single chars + the top-16 multi-char pieces by (freq DESC,
    // piece)), served as the per-round compression LEDGER: model-in
    // size, the E-step's corpus compression under it (Σ cnt·n_pieces
    // and the exact-integer Σ cnt·cost), and the pruned model-out
    // (size, char floor, Σ cost as the vocab fingerprint). The budget
    // bites on round 1 (36 multi-char survivors -> 16); rounds 2-4 pin
    // the fixed point — vocab monotone non-increasing, both engines
    // agreeing on every round's full chain. See unigramBudgetChain.
    "q_text_unigram_budget" -> ((s, dir) => {
      val rounds = unigramBudgetChain(s, dir)
      rounds.zipWithIndex.map { case ((vin, vit, vout), i) =>
        val vinAgg = vin.agg(count(lit(1)).as("vocab_in"))
        val vitAgg = vit.agg(
          sum(expr("cnt * n_pieces")).as("corpus_pieces"),
          sum(expr("cnt * cost")).as("corpus_cost"))
        val voutAgg = vout.agg(count(lit(1)).as("vocab_out"),
          sum(when(col("piece_len") === 1, 1L).otherwise(0L)).as("chars_out"),
          sum("cost").as("sum_cost_out"))
        vinAgg.crossJoin(vitAgg).crossJoin(voutAgg)
          .select(lit((i + 1).toLong).as("round"), col("vocab_in"),
            col("corpus_pieces"), col("corpus_cost"), col("vocab_out"),
            col("chars_out"), col("sum_cost_out"))
      }.reduce(_ unionByName _).orderBy("round")
    }),

    // The E-step half: per distinct word, the Viterbi segmentation under
    // the seed unigram model — segmentation string, piece count, and the
    // exact integer path cost. See q_text_unigram for the model.
    "q_text_unigram_seg" -> ((s, dir) => {
      val words = unigramWords(s, dir)
      unigramViterbi(words, unigramSeedVocab(words))
        .select(col("w").as("word"), col("cnt"), col("seg"),
          col("n_pieces"), col("cost"))
        .orderBy("word")
    }),

    // The CONSUMER of the trained unigram LM: per-doc negative
    // log-likelihood under the tokenizer's own piece model — the
    // perplexity-style quality/token-budget score every LLM data
    // pipeline runs over its corpus (CCNet's "LM filter" shape, here
    // with the exact-integer fixed-point costs of q_text_unigram). The
    // lexicon (distinct word → best segmentation's piece count + path
    // cost) is Heaps-law sized and rides a BROADCAST join; the corpus
    // pass is explode → broadcast-join → one doc_id shuffle — the
    // q_text_bpe_encode scale shape: the corpus text is never rewritten
    // and the Viterbi DP never sees it.
    "q_text_ppl" -> ((s, dir) => {
      val words = unigramWords(s, dir)
      val lex = unigramViterbi(words, unigramSeedVocab(words))
        .select("w", "n_pieces", "cost")
      Tables(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .where(length(col("w")).between(1, 24))
        .join(broadcast(lex), "w")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum("n_pieces").as("n_pieces"),
          sum("cost").as("nll"))
        .orderBy("doc_id")
    }),

    // Zipf rank–frequency exponent per language — the law half the
    // repo's scale comments lean on ("Heaps-law vocab", "Zipfian
    // prefix filter"), now MEASURED instead of assumed: token counts
    // ranked (cnt DESC, token), both axes taken to the fixed-point
    // 6-dp ln grid (exact integers after the one rounded-ln boundary
    // each — the q_text_logprob law), then the q_agg_linreg
    // exact-sufficient-statistic OLS slope in log–log space. The
    // served slope_micros ≈ −10⁶·s where s is the Zipf exponent; a
    // drift toward 0 flags a degenerate (uniform, synthetic-looking)
    // token mix — which this fixture deliberately has, and the number
    // states it. The slope is shift-invariant, so both axes are
    // CENTERED per lang by their truncated integer means (mx = Σx DIV
    // n; a tiny broadcast join — min-centering, the q_agg_linreg
    // move, is a no-op here because ln(rank 1) = 0 pins min x at 0):
    // uncentered, Σx² accumulates per-row x² ≈ 2e14 at rank 10⁶ and
    // crosses 2⁶³ at only ~5e4 vocab rows — a silent wrap in non-ANSI
    // Spark vs HUGEINT in DuckDB (the r17/r18 advice class). Centered,
    // Σxc² ≈ n·Var(ln rank)·10¹² ≈ n·10¹² (Var(ln U) ≤ 1), so the
    // capacity bound is ~5e6 vocab rows per language — past any
    // natural-language vocabulary; past that the accumulators widen to
    // DECIMAL(38,0) on both engines. Two vocabulary-sized aggregations
    // + one token-count shuffle; the per-lang means ride a broadcast.
    "q_text_zipf" -> ((s, dir) => {
      val counts = Tables(s, dir, "documents")
        .select(col("lang"), explode(split(lower(col("text")), " ")).as("t"))
        .where(length(col("t")) >= 1)
        .groupBy("lang", "t").agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("lang").orderBy(col("cnt").desc, col("t"))
      val xy = counts.withColumn("rank", row_number().over(w).cast("long"))
        .selectExpr("lang",
          "CAST(round(ln(CAST(rank AS DOUBLE)) * 1000000, 0) AS BIGINT) AS x",
          "CAST(round(ln(CAST(cnt AS DOUBLE)) * 1000000, 0) AS BIGINT) AS y")
      val means = xy.groupBy("lang")
        .agg(count(lit(1)).as("n_vocab"), sum("x").as("sx"), sum("y").as("sy"))
        .selectExpr("lang", "n_vocab", "sx", "sy",
          "sx DIV n_vocab AS mx", "sy DIV n_vocab AS my")
      xy.join(broadcast(means), "lang")
        .selectExpr("lang", "n_vocab", "sx", "sy",
          "x - mx AS xc", "y - my AS yc")
        .groupBy("lang")
        .agg(min("n_vocab").as("n_vocab"), min("sx").as("sx"),
          min("sy").as("sy"),
          sum("xc").as("sxc"), sum("yc").as("syc"),
          sum(expr("xc * yc")).as("sxy"), sum(expr("xc * xc")).as("sxx"))
        .withColumn("slope_micros", expr(
          "CAST(floor((CAST(n_vocab AS DOUBLE) * CAST(sxy AS DOUBLE) - " +
            "CAST(sxc AS DOUBLE) * CAST(syc AS DOUBLE)) / " +
            "(CAST(n_vocab AS DOUBLE) * CAST(sxx AS DOUBLE) - " +
            "CAST(sxc AS DOUBLE) * CAST(sxc AS DOUBLE)) * 1000000.0D) " +
            "AS BIGINT)"))
        .select("lang", "n_vocab", "sx", "sy", "slope_micros")
        .orderBy("lang")
    }),

    // Heaps'-law vocab-growth exponent per language — the OTHER law
    // the repo's scale comments lean on ("Heaps-law-sized vocab table
    // rides a broadcast"), measured like q_text_zipf measured Zipf:
    // V(N) ≈ K·N^β, so β is the centered log–log OLS slope over the
    // per-doc growth curve. Every point is exact: docs order by
    // doc_id, N(d) = running token count and V(d) = running count of
    // FIRST-SEEN tokens (each token's min doc_id — one Heaps-law-sized
    // aggregation), both prefix sums of integers, then the one rounded
    // 6-dp ln per axis and the q_agg_linreg centered chain (Σxc² ≈
    // n_docs·10¹² — int64 to ~5e6 docs/lang, then DECIMAL(38,0) on
    // both engines). β ≈ 1 flags the degenerate synthetic mix exactly
    // as zipf's slope ≈ 0 does — the two laws are duals and the
    // fixture states both. The growth windows partition per lang; a
    // single dominant lang at 100 TB buckets its doc timeline exactly
    // like distributedPrefix buckets the KS value grid.
    "q_text_heaps" -> ((s, dir) => {
      val toks = Tables(s, dir, "documents")
        .select(col("lang"), col("doc_id"),
          explode(split(lower(col("text")), " ")).as("t"))
        .where(length(col("t")) >= 1)
      val perDoc = toks.groupBy("lang", "doc_id")
        .agg(count(lit(1)).as("n_tok"))
      val firstSeen = toks.groupBy("lang", "t").agg(min("doc_id").as("doc_id"))
        .groupBy("lang", "doc_id").agg(count(lit(1)).as("v_new"))
      val w = Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val xy = perDoc.join(firstSeen, Seq("lang", "doc_id"), "left")
        .na.fill(0L, Seq("v_new"))
        .withColumn("nn", sum("n_tok").over(w))
        .withColumn("vv", sum("v_new").over(w))
        .selectExpr("lang",
          "CAST(round(ln(CAST(nn AS DOUBLE)) * 1000000, 0) AS BIGINT) AS x",
          "CAST(round(ln(CAST(vv AS DOUBLE)) * 1000000, 0) AS BIGINT) AS y")
      val tot = perDoc.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
        .join(firstSeen.groupBy("lang").agg(sum("v_new").as("vocab")), "lang")
      val means = xy.groupBy("lang")
        .agg(count(lit(1)).as("n_pts"), sum("x").as("sx"), sum("y").as("sy"))
        .selectExpr("lang", "n_pts", "sx DIV n_pts AS mx", "sy DIV n_pts AS my")
      xy.join(broadcast(means), "lang")
        .selectExpr("lang", "n_pts", "x - mx AS xc", "y - my AS yc")
        .groupBy("lang")
        .agg(min("n_pts").as("n_pts"),
          sum("xc").as("sxc"), sum("yc").as("syc"),
          sum(expr("xc * yc")).as("sxy"), sum(expr("xc * xc")).as("sxx"))
        .where(col("sxx") > 0) // a 1-doc lang has no growth curve
        .withColumn("beta_micros", expr(
          "CAST(floor((CAST(n_pts AS DOUBLE) * CAST(sxy AS DOUBLE) - " +
            "CAST(sxc AS DOUBLE) * CAST(syc AS DOUBLE)) / " +
            "(CAST(n_pts AS DOUBLE) * CAST(sxx AS DOUBLE) - " +
            "CAST(sxc AS DOUBLE) * CAST(sxc AS DOUBLE)) * 1000000.0D) " +
            "AS BIGINT)"))
        .join(broadcast(tot), "lang")
        .select("lang", "n_docs", "n_tokens", "vocab", "beta_micros")
        .orderBy("lang")
    }),

    // RAKE keyword extraction (Rose et al. 2010's published algorithm)
    // — the multi-word keyphrase pass beside q_text_collocations' PMI
    // pairs: candidate phrases are maximal runs of non-stopword tokens
    // (stopwords = the global top-10 tokens by (cnt DESC, token) — the
    // q_text_quality rule, data-derived so both engines share it
    // without a shipped lexicon), each member word accumulates
    // freq += 1 and degree += phrase length, word score =
    // degree/freq served as the EXACT integer degree·10⁶ DIV freq (no
    // float anywhere — the whole score chain is integer arithmetic),
    // and a phrase scores the sum of its members. A phrase's score
    // depends only on its member words' GLOBAL stats, so repeated
    // phrases collapse to one row with an occurrence count. Scale:
    // one pos-explode pass, the stopword set and the Heaps-law word
    // score table ride broadcasts, the phrase grouping shuffles on
    // (doc, phrase) — never the corpus against itself; the per-doc
    // position window is bounded by document length.
    "q_text_rake" -> ((s, dir) => {
      val toks = Tables(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(split(lower(col("text")), " ")).as(Seq("pos", "t")))
        .where(length(col("t")) >= 1)
      val stop = toks.groupBy("t").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("t")).limit(10)
        .select(col("t"), lit(1L).as("is_stop"))
      val wDoc = Window.partitionBy("doc_id").orderBy("pos")
      val members = toks.join(broadcast(stop), Seq("t"), "left")
        .withColumn("stop", coalesce(col("is_stop"), lit(0L)))
        .withColumn("pid", sum("stop").over(wDoc))
        .where(col("stop") === 0)
        .select("doc_id", "pid", "pos", "t")
      val wPhrase = Window.partitionBy("doc_id", "pid")
      val withLen = members.withColumn("plen", count(lit(1)).over(wPhrase))
      val wscore = withLen.groupBy("t")
        .agg(count(lit(1)).as("freq"), sum("plen").as("degree"))
        .selectExpr("t", "degree * 1000000 DIV freq AS wscore")
      withLen.join(broadcast(wscore), "t")
        .groupBy("doc_id", "pid")
        .agg(expr("array_join(transform(array_sort(" +
            "collect_list(struct(pos, t))), x -> x.t), ' ')").as("phrase"),
          count(lit(1)).as("n_words"), sum("wscore").as("score_micros"))
        .groupBy("phrase")
        .agg(min("n_words").as("n_words"), count(lit(1)).as("n_occ"),
          min("score_micros").as("score_micros"))
        .orderBy(col("score_micros").desc, col("phrase")).limit(20)
    }),

    // PMI collocation mining — the association-strength pass of corpus
    // analysis (the "New York" detector): adjacent lowercased token
    // pairs, pointwise mutual information ln(P(x,y)/(P(x)P(y))) as the
    // fixed-point integer round(ln(c_xy·T²/(P·c_x·c_y))·1e6) so both
    // engines rank on exact integers, top 25 among pairs seen ≥ 5 times.
    // Scale shape: ONE pair-count shuffle + one token-count shuffle over
    // the corpus; the unigram counts are Heaps-law sized and join back
    // onto the pair table BROADCAST twice (x then y); the totals ride a
    // one-row broadcast. The statistic runs FULLY IN LOG SPACE (the r18
    // comment's 100 TB prescription, now the code): each factor takes
    // ONE rounded fixed-point ln (the 6-dp law — an exact integer after
    // the one correctly-rounded boundary per count), and PMI is the
    // exact INTEGER sum ln(c_xy) + 2·ln(T) − ln(P) − ln(c_x) − ln(c_y)
    // on that grid — no product chain at all, so no count magnitude can
    // overflow anything at any corpus size (the factor-double form this
    // replaces was bounded by double exactness at 2^53 per count; the
    // BIGINT product form before THAT wrapped at stop-word pairs).
    // UnigramSpec pins the scalar recompute AND that the log-space
    // ranking agrees with the factor-double ranking on the fixture.
    "q_text_collocations" -> ((s, dir) => {
      val toks = Tables(s, dir, "documents")
        .select(split(lower(col("text")), " ").as("a"))
      val uni = toks.select(explode(col("a")).as("t"))
        .where(length(col("t")) >= 1)
        .groupBy("t").agg(count(lit(1)).as("c"))
      val tot = uni.agg(sum("c").as("t_total"))
      val pairs = toks
        .select(explode(expr(
          "CASE WHEN size(a) < 2 THEN " +
            "CAST(array() AS ARRAY<STRUCT<x: STRING, y: STRING>>) " +
            "ELSE transform(sequence(1, size(a) - 1), " +
            "i -> struct(element_at(a, i) AS x, element_at(a, i + 1) AS y)) END"))
          .as("p"))
        .where(length(col("p.x")) >= 1 && length(col("p.y")) >= 1)
        .groupBy(col("p.x").as("x"), col("p.y").as("y"))
        .agg(count(lit(1)).as("c_xy"))
      val pTot = pairs.agg(sum("c_xy").as("p_total"))
      def lnGrid(c: String) =
        s"CAST(round(ln(CAST($c AS DOUBLE)) * 1000000, 0) AS BIGINT)"
      pairs.where(col("c_xy") >= 5)
        .join(broadcast(uni.select(col("t").as("x"), col("c").as("c_x"))), "x")
        .join(broadcast(uni.select(col("t").as("y"), col("c").as("c_y"))), "y")
        .crossJoin(broadcast(tot)).crossJoin(broadcast(pTot))
        .select(col("x"), col("y"), col("c_xy"),
          expr(s"${lnGrid("c_xy")} + 2 * ${lnGrid("t_total")} - " +
            s"${lnGrid("p_total")} - ${lnGrid("c_x")} - ${lnGrid("c_y")}")
            .as("pmi"))
        .orderBy(col("pmi").desc, col("x"), col("y")).limit(25)
    }),

    // Binary-column plumbing: encode -> byte length, hexdump head, content
    // hash, base64 "frame sample" — the schema/ops a real media pipeline
    // runs before a decode UDF.
    "q_multimodal_binary" -> ((s, dir) =>
      Tables(s, dir, "documents").selectExpr(
        "doc_id",
        "CAST(octet_length(encode(text, 'UTF-8')) AS BIGINT) AS n_bytes",
        "substr(hex(encode(text, 'UTF-8')), 1, 16) AS head_hex",
        "md5(text) AS content_md5",
        "base64(encode(substr(text, 1, 9), 'UTF-8')) AS b64_head")
        .orderBy("doc_id")),

    // decode-free aHash-shaped byte fingerprint per blob — see
    // MediaPipeline.byteFingerprint for the block/threshold contract
    "q_multimodal_phash" -> ((s, dir) =>
      graft.multimodal.MediaPipeline.byteFingerprint(s, dir)),

    // the REAL pixel aHash: valid 24-bpp BMPs constructed from integer
    // pixel formulas, decoded through the JDK's own ImageIO, 8x8 block
    // mean-threshold hash — the oracle recomputes from the arithmetic
    // pixel grid, so a pass certifies the decode byte-for-byte. See
    // MediaPipeline.pixelAhash.
    "q_multimodal_ahash" -> ((s, dir) =>
      graft.multimodal.MediaPipeline.pixelAhash(s, dir)),

    // perceptual near-dup image dedup over real decoded pixels: aHash ->
    // 4x16-bit bands -> equi-join -> Hamming<=4 verify, pairs counted
    // once at their lowest shared band. Recall note: 4 bands of a 64-bit
    // hash guarantee a shared band only through Hamming 3 (pigeonhole);
    // a distance-4 pair with one differing bit per band is missed by
    // BOTH engines identically — a stated candidate-recall bound (the
    // LSH trade every banded scheme makes), not a correctness gap.
    // See MediaPipeline.imageNearDups.
    "q_dedup_image" -> ((s, dir) =>
      graft.multimodal.MediaPipeline.imageNearDups(s, dir)),

    // REAL pixel downscaling: 4x4 block-mean luma thumbnails from the
    // ImageIO decode (exact floor means, served as CSV of 16 integers).
    // See MediaPipeline.pixelThumb.
    "q_multimodal_thumb" -> ((s, dir) =>
      graft.multimodal.MediaPipeline.pixelThumb(s, dir)),

    // Header parsing from BYTES: blobs with real BMP / RIFF-WAVE
    // container headers (synthesized — the container ships no codecs),
    // and every served field (kind sniffed from the magic, dimensions,
    // bpp, sample rate, channels, duration) little-endian-decoded from
    // the standard byte offsets of a genuine BinaryType column — the
    // media-lake profile pass that reads header row-groups without
    // decoding payloads. Codegen'd built-ins only (substr/conv/hex);
    // the oracle re-runs the identical construct+parse through a DuckDB
    // BLOB, and md5 over the canonical hex certifies the round trip
    // byte-for-byte. See multimodal/MediaPipeline.scala.
    "q_multimodal_header" -> ((s, dir) =>
      graft.multimodal.MediaPipeline.headerProfile(s, dir)),

    // the endianness dual of q_multimodal_header: PNG's IHDR/IDAT fields
    // are big-endian, WAV's little-endian — one blob column, both byte
    // orders parsed from raw bytes at fixed offsets
    "q_multimodal_png" -> ((s, dir) =>
      graft.multimodal.MediaPipeline.pngProfile(s, dir)),

    // REAL audio decode: valid mono 16-bit PCM WAVs constructed from
    // integer sample formulas, decoded through the JDK's own
    // javax.sound.sampled, per-window energy/peak/zero-crossing integers
    // — the oracle recomputes from the arithmetic sample grid, so a pass
    // certifies the PCM decode sample-for-sample. See
    // MediaPipeline.pcmWindows.
    "q_multimodal_wave" -> ((s, dir) =>
      graft.multimodal.MediaPipeline.pcmWindows(s, dir)),

    // the VIDEO analog: a multi-frame container walked from the bytes
    // (frame count + per-frame BMP slices), each frame REALLY decoded
    // through ImageIO, per-frame luma mass + inter-frame delta energy —
    // the scene-cut statistic. See MediaPipeline.frameProfile.
    "q_multimodal_frames" -> ((s, dir) =>
      graft.multimodal.MediaPipeline.frameProfile(s, dir)),

    // perceptual near-dup AUDIO dedup over real decoded PCM: envelope
    // delta-sign fingerprint -> 4x16-bit bands -> equi-join ->
    // Hamming<=4 verify, pairs counted once at their lowest shared band
    // (same recall bound as q_dedup_image: exact through Hamming 3).
    // Gain twins are a theorem: scaling samples scales every window
    // energy equally, so delta signs are invariant. See
    // MediaPipeline.audioNearDups.
    "q_dedup_audio" -> ((s, dir) =>
      graft.multimodal.MediaPipeline.audioNearDups(s, dir)),

    // the published DCT pHash over the real ImageIO decode: 16x16 block
    // means -> integer 16-point DCT-II -> top-left 8x8 coefficients ->
    // upper-median threshold -> 64 bits. See MediaPipeline.pixelDctHash.
    "q_multimodal_dcthash" -> ((s, dir) =>
      graft.multimodal.MediaPipeline.pixelDctHash(s, dir)),

    // the hash-robustness LEDGER: (family, perturbation) -> hits within
    // Hamming 2/4/8 for aHash vs DCT pHash under re-encode noise, a
    // 2-column crop, and a gamma tone-map — measured on real decodes,
    // oracle-checked as integers. See MediaPipeline.hashRobustness.
    "q_multimodal_hashrobust" -> ((s, dir) =>
      graft.multimodal.MediaPipeline.hashRobustness(s, dir)),

    // perceptual near-dup VIDEO dedup — the modality triple's third leg:
    // per-frame aHash sequence over the real container walk + ImageIO
    // decode, equi-join candidates on an identical (frame index, frame
    // hash), verify n_equal_frames >= 3 of 4 — recall EXACT (any such
    // pair shares an equal frame). Brightness twins collide on every
    // frame by the q_dedup_image theorem. See MediaPipeline.videoNearDups.
    "q_dedup_video" -> ((s, dir) =>
      graft.multimodal.MediaPipeline.videoNearDups(s, dir)),

    // integer SPECTROGRAM over the real PCM decode: 4 frames of 16
    // samples through the shared 16-point integer DCT-II basis, per
    // frame the DC coefficient + low/mid/high band masses — the
    // time-frequency feature pass (MFCC precursor) after q_multimodal_
    // wave's time-domain triage. See MediaPipeline.pcmSpectrogram.
    "q_multimodal_spectro" -> ((s, dir) =>
      graft.multimodal.MediaPipeline.pcmSpectrogram(s, dir)),

    // MFCC — the audio feature chain's published next stage over the
    // real decode: spectrogram bins -> exact-integer mel filterbank ->
    // fixed-point 6-dp ln -> cepstral DCT, every stage on the shared
    // cosine table / integer-weight discipline. See MediaPipeline.pcmMfcc.
    "q_multimodal_mfcc" -> ((s, dir) =>
      graft.multimodal.MediaPipeline.pcmMfcc(s, dir)),
  )

  /** The shared CTE chain w0..w{rounds}: word-count base, then one
    * (p/t/w) triple per round — weighted pair counts, (cnt DESC, x, y)
    * argmax, boundary-delimited replace. Carries the raw word so the
    * encode oracle can join the corpus back to the merged lexicon (the
    * trainer's final select ignores it).
    */
  private def bpeChainCtes(rounds: Int): String = {
    val base =
      "wbase AS (SELECT w, count(*) AS wc FROM " +
      "(SELECT unnest(string_split(text, ' ')) AS w FROM documents) t " +
      "WHERE length(w) > 0 GROUP BY w), " +
      "w0 AS (SELECT w, wc, '<' || array_to_string(" +
      "list_filter(string_split(w, ''), c -> c <> ''), '><') || '>' AS sym FROM wbase)"
    val iters = (1 to rounds).map { i =>
      s"p$i AS (SELECT p.x AS x, p.y AS y, SUM(wc) AS cnt FROM " +
      "(SELECT wc, unnest(list_transform(range(1, greatest(len(t), 1)), " +
      "j -> {'x': t[j], 'y': t[j + 1]})) AS p FROM " +
      s"(SELECT wc, string_split(substr(sym, 2, length(sym) - 2), '><') AS t FROM w${i - 1})) " +
      "GROUP BY 1, 2), " +
      s"t$i AS (SELECT x, y, cnt, '<' || x || '><' || y || '>' AS pat, " +
      s"'<' || x || y || '>' AS mrg FROM p$i ORDER BY cnt DESC, x, y LIMIT 1), " +
      s"w$i AS (SELECT w, wc, replace(sym, (SELECT pat FROM t$i), " +
      s"(SELECT mrg FROM t$i)) AS sym FROM w${i - 1})"
    }.mkString(", ")
    s"$base, $iters"
  }

  /** DuckDB mirror of the BPE trainer: the identical word-count base,
    * per-round weighted pair counts, (cnt DESC, x, y) argmax, and
    * boundary-delimited replace; serves the chain's per-round argmax rows. */
  private def bpeOracle(rounds: Int): String = {
    val sel = (1 to rounds).map(i =>
      s"SELECT CAST($i AS BIGINT) AS iter, x, y, x || y AS merged, " +
      s"CAST(cnt AS BIGINT) AS cnt FROM t$i").mkString(" UNION ALL ")
    s"WITH ${bpeChainCtes(rounds)} SELECT * FROM ($sel) ORDER BY iter"
  }

  /** DuckDB mirror of the BPE encoder: the identical merge chain, then
    * the merged lexicon joined back to the corpus word explode.
    */
  private def bpeEncodeOracle(rounds: Int): String =
    s"WITH ${bpeChainCtes(rounds)}, " +
    "lex AS (SELECT w, CAST(len(string_split(substr(sym, 2, " +
    "length(sym) - 2), '><')) AS BIGINT) AS n_tok, " +
    s"CAST(length(w) AS BIGINT) AS n_chars_w FROM w$rounds), " +
    "tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w " +
    "FROM documents) " +
    "SELECT doc_id, count(*) AS n_words, " +
    "CAST(sum(n_chars_w) AS BIGINT) AS n_chars, " +
    "CAST(sum(n_tok) AS BIGINT) AS n_tokens " +
    "FROM tok JOIN lex USING (w) WHERE length(w) > 0 " +
    "GROUP BY doc_id ORDER BY doc_id"

  /** DuckDB mirror of the unigram-LM trainer through the E-step: word
    * counts, the substring seed vocabulary with fixed-point costs, and
    * the Viterbi DP as a RECURSIVE CTE — the working table carries the
    * growing (costs, backptrs) lists per word, each step extends them by
    * list_min over the ≤4-piece window ({'c', 'b'} structs compare
    * lexicographically — the identical (cost, backptr) tie-break), then
    * a second recursion walks the backptrs into the segmentation. Ends
    * in `vit` (w, cnt, seg, n_pieces, cost). */
  /** One Viterbi DP + backtrace CTE triple over `wc` under vocab map
    * `$vm`, names suffixed `$sfx` — sfx "" reproduces the original
    * round-1 chain verbatim; sfx "2" under the survivor map is the
    * round-2 E-step. */
  private def viterbiOracleCtes(sfx: String, vm: String): String =
    s"dp$sfx AS (SELECT w, cnt, 0 AS j, [CAST(0 AS BIGINT)] AS cs, " +
    "[CAST(-1 AS INT)] AS bs FROM wc " +
    "UNION ALL SELECT w, cnt, j + 1, " +
    "list_append(cs, struct_extract(best, 'c')), " +
    "list_append(bs, struct_extract(best, 'b')) FROM (" +
    "SELECT w, cnt, j, cs, bs, list_min([{'c': cs[i + 1] + " +
    "coalesce(m[substr(w, CAST(i + 1 AS INT), CAST(j + 1 - i AS INT))][1], " +
    "CAST(1000000000000 AS BIGINT)), 'b': CAST(i AS INT)} " +
    "for i in generate_series(greatest(0, j - 3), j)]) AS best " +
    s"FROM dp$sfx, $vm WHERE j < len(w))), " +
    s"fin$sfx AS (SELECT w, cnt, cs, bs FROM dp$sfx WHERE j = len(w)), " +
    s"bt$sfx AS (SELECT w, cnt, cs, bs, len(w) AS pos, " +
    s"CAST([] AS VARCHAR[]) AS parts FROM fin$sfx " +
    "UNION ALL SELECT w, cnt, cs, bs, bs[pos + 1] AS pos, " +
    "list_prepend(substr(w, bs[pos + 1] + 1, pos - bs[pos + 1]), parts) " +
    s"FROM bt$sfx WHERE pos > 0), " +
    s"vit$sfx AS (SELECT w, cnt, array_to_string(parts, ' ') AS seg, " +
    "CAST(len(parts) AS BIGINT) AS n_pieces, cs[len(w) + 1] AS cost " +
    s"FROM bt$sfx WHERE pos = 0)"

  private val unigramOracleCtes: String =
    "w0 AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents), " +
    "wc AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM w0 " +
    "WHERE len(w) BETWEEN 1 AND 24 GROUP BY w), " +
    "sub AS (SELECT substr(w, CAST(i + 1 AS INT), CAST(l AS INT)) AS piece, cnt " +
    "FROM wc, range(24) t(i), range(1, 5) u(l) WHERE i + l <= len(w)), " +
    "pf AS (SELECT piece, CAST(sum(cnt) AS BIGINT) AS freq FROM sub " +
    "GROUP BY piece HAVING len(piece) = 1 OR CAST(sum(cnt) AS BIGINT) >= 2), " +
    "tot AS (SELECT CAST(sum(freq) AS BIGINT) AS tot FROM pf), " +
    "vc AS (SELECT piece, freq, " +
    "CAST(round(-ln(CAST(freq AS DOUBLE) / tot) * 1000000, 0) AS BIGINT) AS cost " +
    "FROM pf, tot), " +
    "vm AS (SELECT map(list(piece), list(cost)) AS m FROM vc), " +
    viterbiOracleCtes("", "vm")

  /** Round-1 chain + the M-step survivor recosting + the round-2 E-step
    * Viterbi under the survivor map. */
  private val unigram2OracleCtes: String =
    unigramOracleCtes + ", " +
    "used AS (SELECT piece, CAST(sum(cnt) AS BIGINT) AS u FROM " +
    "(SELECT cnt, unnest(string_split(seg, ' ')) AS piece FROM vit) " +
    "GROUP BY piece), " +
    "sv AS (SELECT vc.piece, " +
    "CAST(coalesce(u.u, 0) + (CASE WHEN len(vc.piece) = 1 THEN 1 ELSE 0 END) " +
    "AS BIGINT) AS freq " +
    "FROM vc LEFT JOIN used u ON vc.piece = u.piece), " +
    "sv2 AS (SELECT * FROM sv WHERE freq > 0), " +
    "ntot AS (SELECT CAST(sum(freq) AS BIGINT) AS ntot FROM sv2), " +
    "vc2 AS (SELECT piece, " +
    "CAST(round(-ln(CAST(freq AS DOUBLE) / ntot) * 1000000, 0) AS BIGINT) AS cost " +
    "FROM sv2, ntot), " +
    "vm2 AS (SELECT map(list(piece), list(cost)) AS m FROM vc2), " +
    viterbiOracleCtes("2", "vm2")

  /** One budget-EM M-step for the q_text_unigram_budget oracle: usage
    * counts from the round's E-step, the survivor rule, the BUDGET
    * PRUNE (all single chars + top-`budget` multi-char by (freq DESC,
    * piece)), and the recost — identical arithmetic to
    * [[unigramBudgetChain]]'s round body. Reads `vit$vitSfx` and the
    * incoming model table `$vcPrev`; emits `vcb$r` / `vmb$r`. */
  /** Every budget CTE is MATERIALIZED: the 4-round chain references
    * each round's outputs several times (next round's M-step, the map,
    * the ledger aggregates), and DuckDB's default inlining would
    * re-expand the whole recursive Viterbi lineage per reference —
    * multiplicatively across rounds (measured: the un-materialized form
    * exhausted the process fd limit re-opening the corpus parquet
    * thousands of times). Materialization makes each round run once. */
  private def budgetMStepCtes(r: Int, vitSfx: String, vcPrev: String,
      budget: Int): String =
    s"usedb$r AS MATERIALIZED (SELECT piece, CAST(sum(cnt) AS BIGINT) AS u FROM " +
    s"(SELECT cnt, unnest(string_split(seg, ' ')) AS piece FROM vit$vitSfx) " +
    "GROUP BY piece), " +
    s"svb$r AS MATERIALIZED (SELECT p.piece, CAST(len(p.piece) AS BIGINT) AS piece_len, " +
    "CAST(coalesce(u.u, 0) + (CASE WHEN len(p.piece) = 1 THEN 1 ELSE 0 END) " +
    "AS BIGINT) AS freq " +
    s"FROM $vcPrev p LEFT JOIN usedb$r u ON p.piece = u.piece), " +
    s"svbf$r AS MATERIALIZED (SELECT * FROM svb$r WHERE freq > 0), " +
    s"keptb$r AS MATERIALIZED (SELECT piece, piece_len, freq FROM svbf$r WHERE piece_len = 1 " +
    "UNION ALL SELECT piece, piece_len, freq FROM " +
    s"(SELECT piece, piece_len, freq FROM svbf$r WHERE piece_len > 1 " +
    s"ORDER BY freq DESC, piece LIMIT $budget)), " +
    s"ntotb$r AS MATERIALIZED (SELECT CAST(sum(freq) AS BIGINT) AS ntot FROM keptb$r), " +
    s"vcb$r AS MATERIALIZED (SELECT piece, piece_len, freq, " +
    "CAST(round(-ln(CAST(freq AS DOUBLE) / ntot) * 1000000, 0) AS BIGINT) AS cost " +
    s"FROM keptb$r, ntotb$r), " +
    s"vmb$r AS MATERIALIZED (SELECT map(list(piece), list(cost)) AS m FROM vcb$r)"

  /** The 4-round budget-EM oracle: round 1 rides the existing seed
    * chain's E-step (`vit`), each later round is one more Viterbi
    * triple under the previous round's pruned model, and the ledger
    * row recomputes every served statistic per round. */
  private def unigramBudgetOracle: String = {
    val budget = 16
    val chain = unigramOracleCtes + ", " +
      budgetMStepCtes(1, "", "vc", budget) + ", " +
      viterbiOracleCtes("b2", "vmb1") + ", " +
      budgetMStepCtes(2, "b2", "vcb1", budget) + ", " +
      viterbiOracleCtes("b3", "vmb2") + ", " +
      budgetMStepCtes(3, "b3", "vcb2", budget) + ", " +
      viterbiOracleCtes("b4", "vmb3") + ", " +
      budgetMStepCtes(4, "b4", "vcb3", budget)
    val parts = Seq((1, "", "vc"), (2, "b2", "vcb1"),
      (3, "b3", "vcb2"), (4, "b4", "vcb3"))
    val aggs = parts.map { case (r, sfx, prev) =>
      s"vina$r AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS vocab_in " +
      s"FROM $prev), " +
      s"vita$r AS MATERIALIZED (SELECT " +
      "CAST(sum(cnt * n_pieces) AS BIGINT) AS corpus_pieces, " +
      s"CAST(sum(cnt * cost) AS BIGINT) AS corpus_cost FROM vit$sfx), " +
      s"vouta$r AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS vocab_out, " +
      "CAST(sum(CASE WHEN piece_len = 1 THEN 1 ELSE 0 END) AS BIGINT) AS chars_out, " +
      s"CAST(sum(cost) AS BIGINT) AS sum_cost_out FROM vcb$r)"
    }.mkString(", ")
    val rows = parts.map { case (r, _, _) =>
      s"SELECT CAST($r AS BIGINT) AS round, vocab_in, corpus_pieces, " +
      "corpus_cost, vocab_out, chars_out, sum_cost_out " +
      s"FROM vina$r, vita$r, vouta$r"
    }.mkString(" UNION ALL ")
    s"WITH RECURSIVE $chain, $aggs SELECT * FROM ($rows) ORDER BY round"
  }

  def oracles: Map[String, String] = Map(
    "q_text_unigram_seg" -> (s"WITH RECURSIVE $unigramOracleCtes " +
      "SELECT w AS word, cnt, seg, n_pieces, cost FROM vit ORDER BY word"),

    // four rounds of the identical E/M/prune chain, every ledger cell
    // recomputed
    "q_text_unigram_budget" -> unigramBudgetOracle,

    "q_text_unigram2" -> (s"WITH RECURSIVE $unigram2OracleCtes " +
      "SELECT w AS word, cnt, seg, n_pieces, cost FROM vit2 ORDER BY word"),

    "q_text_unigram" -> (s"WITH RECURSIVE $unigramOracleCtes, " +
      "used AS (SELECT piece, CAST(sum(cnt) AS BIGINT) AS u FROM " +
      "(SELECT cnt, unnest(string_split(seg, ' ')) AS piece FROM vit) " +
      "GROUP BY piece), " +
      "sv AS (SELECT vc.piece, CAST(len(vc.piece) AS BIGINT) AS piece_len, " +
      "CAST(coalesce(u.u, 0) AS BIGINT) AS used_cnt, " +
      "CAST(coalesce(u.u, 0) + (CASE WHEN len(vc.piece) = 1 THEN 1 ELSE 0 END) " +
      "AS BIGINT) AS freq " +
      "FROM vc LEFT JOIN used u ON vc.piece = u.piece), " +
      "sv2 AS (SELECT * FROM sv WHERE freq > 0), " +
      "ntot AS (SELECT CAST(sum(freq) AS BIGINT) AS ntot FROM sv2) " +
      "SELECT piece, piece_len, used_cnt, " +
      "CAST(round(-ln(CAST(freq AS DOUBLE) / ntot) * 1000000, 0) AS BIGINT) AS cost " +
      "FROM sv2, ntot ORDER BY piece"),

    "q_text_ppl" -> (s"WITH RECURSIVE $unigramOracleCtes, " +
      "dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) " +
      "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words, " +
      "CAST(sum(n_pieces) AS BIGINT) AS n_pieces, " +
      "CAST(sum(cost) AS BIGINT) AS nll " +
      "FROM dw JOIN vit USING (w) WHERE len(w) BETWEEN 1 AND 24 " +
      "GROUP BY doc_id ORDER BY doc_id"),

    // identical ranked grid, identical fixed-point lns, identical
    // truncated-mean centering (both axes >= 0 so // = DIV), identical
    // OLS chain over the centered sums
    "q_text_zipf" -> ("WITH c AS (SELECT lang, t, " +
      "CAST(count(*) AS BIGINT) AS cnt FROM " +
      "(SELECT lang, unnest(string_split(lower(text), ' ')) AS t " +
      "FROM documents) WHERE len(t) >= 1 GROUP BY lang, t), " +
      "r AS (SELECT lang, CAST(row_number() OVER (PARTITION BY lang " +
      "ORDER BY cnt DESC, t) AS BIGINT) AS rank, cnt FROM c), " +
      "xy AS (SELECT lang, " +
      "CAST(round(ln(CAST(rank AS DOUBLE)) * 1000000, 0) AS BIGINT) AS x, " +
      "CAST(round(ln(CAST(cnt AS DOUBLE)) * 1000000, 0) AS BIGINT) AS y " +
      "FROM r), " +
      "m AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_vocab, " +
      "CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy " +
      "FROM xy GROUP BY lang), " +
      "m2 AS (SELECT lang, n_vocab, sx, sy, " +
      "sx // n_vocab AS mx, sy // n_vocab AS my FROM m), " +
      "s AS (SELECT xy.lang, CAST(sum(x - mx) AS BIGINT) AS sxc, " +
      "CAST(sum(y - my) AS BIGINT) AS syc, " +
      "CAST(sum((x - mx) * (y - my)) AS BIGINT) AS sxy, " +
      "CAST(sum((x - mx) * (x - mx)) AS BIGINT) AS sxx " +
      "FROM xy JOIN m2 USING (lang) GROUP BY xy.lang) " +
      "SELECT lang, n_vocab, sx, sy, " +
      "CAST(floor((CAST(n_vocab AS DOUBLE) * CAST(sxy AS DOUBLE) - " +
      "CAST(sxc AS DOUBLE) * CAST(syc AS DOUBLE)) / " +
      "(CAST(n_vocab AS DOUBLE) * CAST(sxx AS DOUBLE) - " +
      "CAST(sxc AS DOUBLE) * CAST(sxc AS DOUBLE)) * 1000000.0) " +
      "AS BIGINT) AS slope_micros FROM s JOIN m2 USING (lang) " +
      "ORDER BY lang"),

    // identical exact sufficient statistics, identical one-chain Fano
    "q_text_burstiness" -> ("WITH dt AS (SELECT doc_id, t, " +
      "CAST(count(*) AS BIGINT) AS c FROM " +
      "(SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t " +
      "FROM documents) WHERE len(t) >= 1 GROUP BY doc_id, t), " +
      "dd AS (SELECT CAST(count(*) AS BIGINT) AS d FROM documents), " +
      "st AS (SELECT t, CAST(count(*) AS BIGINT) AS df, " +
      "CAST(sum(c) AS BIGINT) AS sc, CAST(sum(c * c) AS BIGINT) AS sc2 " +
      "FROM dt GROUP BY t) " +
      "SELECT t, df, sc, sc2, " +
      "CAST(floor((CAST(d AS DOUBLE) * CAST(sc2 AS DOUBLE) - " +
      "CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)) / " +
      "(CAST(d AS DOUBLE) * CAST(sc AS DOUBLE)) * 1000000.0) " +
      "AS BIGINT) AS fano_ppm FROM st, dd " +
      "ORDER BY sc DESC, t LIMIT 20"),

    // identical integer-rational ratios into the 6-dp ln grid,
    // identical exact integer contribution sums, one final IEEE chain
    "q_text_jsd" -> {
      def lnG(a: String) =
        s"CAST(round(ln(CAST($a AS DOUBLE)) * 1000000, 0) AS BIGINT)"
      "WITH uni AS (SELECT lang, t, CAST(count(*) AS BIGINT) AS c FROM " +
      "(SELECT lang, unnest(string_split(lower(text), ' ')) AS t " +
      "FROM documents) WHERE len(t) >= 1 GROUP BY lang, t), " +
      "pr AS (SELECT * FROM (VALUES ('de'), ('es'), ('fr'), ('zh')) p(vs)), " +
      "en AS (SELECT t, c AS ca FROM uni WHERE lang = 'en'), " +
      "ot AS (SELECT lang AS vs, t, c AS cb FROM uni " +
      "WHERE lang IN ('de', 'es', 'fr', 'zh')), " +
      "tta AS (SELECT CAST(sum(c) AS BIGINT) AS ta FROM uni WHERE lang = 'en'), " +
      "ttb AS (SELECT lang AS vs, CAST(sum(c) AS BIGINT) AS tb FROM uni " +
      "WHERE lang IN ('de', 'es', 'fr', 'zh') GROUP BY lang), " +
      "grid AS (SELECT pr.vs, g.t, coalesce(en.ca, CAST(0 AS BIGINT)) AS ca, " +
      "coalesce(ot.cb, CAST(0 AS BIGINT)) AS cb FROM pr " +
      "JOIN (SELECT DISTINCT vs, t FROM " +
      "(SELECT p2.vs, en.t FROM en, pr p2 UNION ALL SELECT vs, t FROM ot)) g " +
      "ON g.vs = pr.vs " +
      "LEFT JOIN en ON en.t = g.t " +
      "LEFT JOIN ot ON ot.vs = g.vs AND ot.t = g.t), " +
      "term AS (SELECT grid.vs, ca, cb, ta, tb, ca * tb + cb * ta AS mix " +
      "FROM grid CROSS JOIN tta JOIN ttb ON grid.vs = ttb.vs), " +
      "d AS (SELECT vs, ta, tb, " +
      s"CASE WHEN ca > 0 THEN ca * (${lnG("2 * ca * tb")} - ${lnG("mix")}) " +
      "ELSE CAST(0 AS BIGINT) END AS cda, " +
      s"CASE WHEN cb > 0 THEN cb * (${lnG("2 * cb * ta")} - ${lnG("mix")}) " +
      "ELSE CAST(0 AS BIGINT) END AS cdb FROM term) " +
      "SELECT vs, CAST(count(*) AS BIGINT) AS n_vocab_union, " +
      "min(ta) AS ta, min(tb) AS tb, " +
      "CAST(sum(cda) AS BIGINT) AS sum_a, CAST(sum(cdb) AS BIGINT) AS sum_b, " +
      "CAST(floor(CAST(CAST(sum(cda) AS BIGINT) AS DOUBLE) / " +
      "(2.0 * CAST(min(ta) AS DOUBLE)) + " +
      "CAST(CAST(sum(cdb) AS BIGINT) AS DOUBLE) / " +
      "(2.0 * CAST(min(tb) AS DOUBLE))) AS BIGINT) AS jsd_micros " +
      "FROM d GROUP BY vs ORDER BY vs"
    },

    // identical exact count inputs (bigram, context, follower,
    // preceder, type totals), identical fixed-D IEEE chain
    "q_text_kneserney" -> ("WITH t AS (SELECT " +
      "string_split(lower(text), ' ') AS t FROM documents), " +
      "bi AS (SELECT x AS w1, y AS w2 FROM " +
      "(SELECT unnest(t[1:len(t)-1]) AS x, unnest(t[2:len(t)]) AS y " +
      "FROM t WHERE len(t) >= 2) WHERE len(x) >= 1 AND len(y) >= 1), " +
      "cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cnt2 " +
      "FROM bi GROUP BY w1, w2), " +
      "ctx AS (SELECT w1, CAST(sum(cnt2) AS BIGINT) AS c1, " +
      "CAST(count(*) AS BIGINT) AS n_follow FROM cb GROUP BY w1), " +
      "cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS n_prec " +
      "FROM cb GROUP BY w2), " +
      "nb AS (SELECT CAST(count(*) AS BIGINT) AS n_bigram_types FROM cb) " +
      "SELECT w1, w2, cnt2, c1, n_follow, n_prec, n_bigram_types, " +
      "CAST(floor(((CAST(cnt2 AS DOUBLE) - 0.75) / CAST(c1 AS DOUBLE) + " +
      "0.75 * CAST(n_follow AS DOUBLE) / CAST(c1 AS DOUBLE) * " +
      "CAST(n_prec AS DOUBLE) / CAST(n_bigram_types AS DOUBLE)) " +
      "* 1000000.0) AS BIGINT) AS pkn_micros " +
      "FROM cb JOIN ctx USING (w1) JOIN cont USING (w2), nb " +
      "ORDER BY cnt2 DESC, w1, w2 LIMIT 20"),

    // identical growth grid (prefix sums of exact integers), identical
    // fixed-point lns, identical truncated-mean centering + OLS chain
    "q_text_heaps" -> ("WITH tk AS (SELECT lang, doc_id, t FROM " +
      "(SELECT lang, doc_id, unnest(string_split(lower(text), ' ')) AS t " +
      "FROM documents) WHERE len(t) >= 1), " +
      "pd AS (SELECT lang, doc_id, CAST(count(*) AS BIGINT) AS n_tok " +
      "FROM tk GROUP BY lang, doc_id), " +
      "fs AS (SELECT lang, doc_id, CAST(count(*) AS BIGINT) AS v_new FROM " +
      "(SELECT lang, t, min(doc_id) AS doc_id FROM tk GROUP BY lang, t) " +
      "GROUP BY lang, doc_id), " +
      "pt AS (SELECT pd.lang, pd.doc_id, pd.n_tok, " +
      "coalesce(fs.v_new, CAST(0 AS BIGINT)) AS v_new FROM pd " +
      "LEFT JOIN fs ON pd.lang = fs.lang AND pd.doc_id = fs.doc_id), " +
      "cum AS (SELECT lang, " +
      "CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id) AS BIGINT) AS nn, " +
      "CAST(sum(v_new) OVER (PARTITION BY lang ORDER BY doc_id) AS BIGINT) AS vv " +
      "FROM pt), " +
      "xy AS (SELECT lang, " +
      "CAST(round(ln(CAST(nn AS DOUBLE)) * 1000000, 0) AS BIGINT) AS x, " +
      "CAST(round(ln(CAST(vv AS DOUBLE)) * 1000000, 0) AS BIGINT) AS y " +
      "FROM cum), " +
      "m AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_pts, " +
      "CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy " +
      "FROM xy GROUP BY lang), " +
      "m2 AS (SELECT lang, n_pts, sx // n_pts AS mx, sy // n_pts AS my FROM m), " +
      "st AS (SELECT xy.lang, CAST(sum(x - mx) AS BIGINT) AS sxc, " +
      "CAST(sum(y - my) AS BIGINT) AS syc, " +
      "CAST(sum((x - mx) * (y - my)) AS BIGINT) AS sxy, " +
      "CAST(sum((x - mx) * (x - mx)) AS BIGINT) AS sxx " +
      "FROM xy JOIN m2 USING (lang) GROUP BY xy.lang), " +
      "tot AS (SELECT pd.lang, CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST(sum(n_tok) AS BIGINT) AS n_tokens FROM pd GROUP BY pd.lang), " +
      "voc AS (SELECT lang, CAST(sum(v_new) AS BIGINT) AS vocab " +
      "FROM fs GROUP BY lang) " +
      "SELECT st.lang, tot.n_docs, tot.n_tokens, voc.vocab, " +
      "CAST(floor((CAST(n_pts AS DOUBLE) * CAST(sxy AS DOUBLE) - " +
      "CAST(sxc AS DOUBLE) * CAST(syc AS DOUBLE)) / " +
      "(CAST(n_pts AS DOUBLE) * CAST(sxx AS DOUBLE) - " +
      "CAST(sxc AS DOUBLE) * CAST(sxc AS DOUBLE)) * 1000000.0) " +
      "AS BIGINT) AS beta_micros " +
      "FROM st JOIN m2 ON st.lang = m2.lang " +
      "JOIN tot ON st.lang = tot.lang JOIN voc ON st.lang = voc.lang " +
      "WHERE sxx > 0 ORDER BY st.lang"),

    // identical stopword rule, phrase segmentation, and all-integer
    // degree/freq scoring; integer division truncates identically
    // (both operands positive)
    "q_text_rake" -> ("WITH tk AS (SELECT doc_id, " +
      "generate_subscripts(a, 1) - 1 AS pos, unnest(a) AS t FROM " +
      "(SELECT doc_id, string_split(lower(text), ' ') AS a FROM documents)), " +
      "tk1 AS (SELECT * FROM tk WHERE len(t) >= 1), " +
      "stop AS (SELECT t FROM (SELECT t, count(*) AS cnt FROM tk1 " +
      "GROUP BY t ORDER BY cnt DESC, t LIMIT 10)), " +
      "mk AS (SELECT tk1.doc_id, tk1.pos, tk1.t, " +
      "CASE WHEN s.t IS NULL THEN 0 ELSE 1 END AS stop " +
      "FROM tk1 LEFT JOIN stop s ON tk1.t = s.t), " +
      "pid AS (SELECT doc_id, pos, t, stop, " +
      "sum(stop) OVER (PARTITION BY doc_id ORDER BY pos) AS pid FROM mk), " +
      "mem AS (SELECT doc_id, pid, pos, t, " +
      "count(*) OVER (PARTITION BY doc_id, pid) AS plen " +
      "FROM pid WHERE stop = 0), " +
      "ws AS (SELECT t, CAST(sum(plen) AS BIGINT) * 1000000 // " +
      "CAST(count(*) AS BIGINT) AS wscore FROM mem GROUP BY t), " +
      "ph AS (SELECT doc_id, pid, " +
      "array_to_string(list(mem.t ORDER BY pos), ' ') AS phrase, " +
      "CAST(count(*) AS BIGINT) AS n_words, " +
      "CAST(sum(wscore) AS BIGINT) AS score_micros " +
      "FROM mem JOIN ws ON mem.t = ws.t GROUP BY doc_id, pid) " +
      "SELECT phrase, CAST(min(n_words) AS BIGINT) AS n_words, " +
      "CAST(count(*) AS BIGINT) AS n_occ, " +
      "CAST(min(score_micros) AS BIGINT) AS score_micros " +
      "FROM ph GROUP BY phrase " +
      "ORDER BY score_micros DESC, phrase LIMIT 20"),

    "q_text_collocations" -> ("WITH toks AS (SELECT " +
      "string_split(lower(text), ' ') AS a FROM documents), " +
      "uni AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM " +
      "(SELECT unnest(a) AS t FROM toks) WHERE len(t) >= 1 GROUP BY t), " +
      "tot AS (SELECT CAST(sum(c) AS BIGINT) AS t_total FROM uni), " +
      "pr AS (SELECT x, y, CAST(count(*) AS BIGINT) AS c_xy FROM " +
      "(SELECT unnest(a[1:len(a)-1]) AS x, unnest(a[2:len(a)]) AS y FROM toks) " +
      "WHERE len(x) >= 1 AND len(y) >= 1 GROUP BY x, y), " +
      "pt AS (SELECT CAST(sum(c_xy) AS BIGINT) AS p_total FROM pr) " +
      // identical 6-dp ln grid per factor, identical integer sum
      "SELECT x, y, c_xy, " +
      "CAST(round(ln(CAST(c_xy AS DOUBLE)) * 1000000, 0) AS BIGINT) + " +
      "2 * CAST(round(ln(CAST(t_total AS DOUBLE)) * 1000000, 0) AS BIGINT) - " +
      "CAST(round(ln(CAST(p_total AS DOUBLE)) * 1000000, 0) AS BIGINT) - " +
      "CAST(round(ln(CAST(cx.c AS DOUBLE)) * 1000000, 0) AS BIGINT) - " +
      "CAST(round(ln(CAST(cy.c AS DOUBLE)) * 1000000, 0) AS BIGINT) AS pmi " +
      "FROM pr, tot, pt, uni cx, uni cy " +
      "WHERE c_xy >= 5 AND cx.t = pr.x AND cy.t = pr.y " +
      "ORDER BY pmi DESC, x, y LIMIT 25"),

    "q_text_bpe" -> bpeOracle(4),
    "q_text_bpe_encode" -> bpeEncodeOracle(4),

    "q_text_tokenize" -> ("SELECT token, count(*) AS n FROM " +
      "(SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents) " +
      "GROUP BY token ORDER BY n DESC, token LIMIT 20"),

    "q_text_tfidf" -> ("WITH tf AS (SELECT doc_id, term, count(*) AS tf FROM " +
      "(SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents) " +
      "GROUP BY doc_id, term), " +
      "dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term), " +
      "n AS (SELECT count(*) AS n_docs FROM documents) " +
      "SELECT doc_id, rnk, term, score FROM " +
      "(SELECT tf.doc_id, tf.term, " +
      "round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df), 4) AS score, " +
      "CAST(row_number() OVER (PARTITION BY tf.doc_id ORDER BY " +
      "round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df), 4) DESC, tf.term) AS BIGINT) AS rnk " +
      "FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n) " +
      "WHERE rnk <= 3 ORDER BY doc_id, rnk"),

    "q_text_tokencount" -> ("SELECT doc_id, " +
      "CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens, " +
      "CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS bpe_tokens, " +
      "CAST(length(text) AS BIGINT) AS n_chars " +
      "FROM documents ORDER BY doc_id"),

    "q_text_stats" -> ("SELECT lang, source, count(*) AS n_docs, " +
      "CAST(SUM(n_chars) AS DOUBLE) / count(*) AS avg_chars, " +
      "CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / count(*) AS avg_toks, " +
      "CAST(SUM(len(list_distinct(string_split(text, ' ')))) AS DOUBLE) / " +
      "CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) AS distinct_ratio " +
      "FROM documents GROUP BY lang, source ORDER BY lang, source"),

    "q_text_langid" -> ("WITH toks AS (SELECT doc_id, lang, " +
      "unnest(string_split(text, ' ')) AS token FROM documents), " +
      "vote AS (SELECT token, lang AS voted_lang FROM " +
      "(SELECT token, lang, count(*) AS cnt, " +
      "row_number() OVER (PARTITION BY token ORDER BY count(*) DESC, lang) AS r " +
      "FROM toks GROUP BY token, lang) WHERE r = 1), " +
      "guess AS (SELECT doc_id, voted_lang AS guessed_lang FROM " +
      "(SELECT t.doc_id, v.voted_lang, count(*) AS votes, " +
      "row_number() OVER (PARTITION BY t.doc_id ORDER BY count(*) DESC, v.voted_lang) AS r " +
      "FROM toks t JOIN vote v ON t.token = v.token GROUP BY t.doc_id, v.voted_lang) WHERE r = 1) " +
      "SELECT d.doc_id, d.lang, g.guessed_lang, (d.lang = g.guessed_lang) AS correct " +
      "FROM documents d JOIN guess g ON d.doc_id = g.doc_id ORDER BY d.doc_id"),

    "q_text_quality" -> ("WITH toks AS (SELECT doc_id, " +
      "unnest(string_split(text, ' ')) AS token FROM documents), " +
      "stop AS (SELECT token FROM (SELECT token, count(*) AS cnt FROM toks GROUP BY token " +
      "ORDER BY cnt DESC, token LIMIT 10)), " +
      "sc AS (SELECT doc_id, count(*) AS n_stop FROM toks JOIN stop USING (token) GROUP BY doc_id), " +
      "base AS (SELECT doc_id, lang, n_chars, " +
      "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks, " +
      "CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_dist FROM documents) " +
      "SELECT base.doc_id, lang, n_toks, n_dist, coalesce(sc.n_stop, 0) AS n_stop, " +
      "CAST(n_chars - (n_toks - 1) AS DOUBLE) / n_toks AS avg_tok_len, " +
      "CAST(n_dist AS DOUBLE) / n_toks * 0.5 + " +
      "(1.0 - CAST(coalesce(sc.n_stop, 0) AS DOUBLE) / n_toks) * 0.5 AS quality " +
      "FROM base LEFT JOIN sc ON base.doc_id = sc.doc_id ORDER BY base.doc_id"),

    "q_text_chunks" -> ("WITH c AS (SELECT doc_id, text, " +
      "unnest(generate_series(0, CAST(floor((length(text) - 1) / 90) AS INT))) AS chunk_id " +
      "FROM documents) " +
      "SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id, " +
      "CAST(chunk_id * 90 + 1 AS BIGINT) AS c_start, " +
      "CAST(length(substr(text, chunk_id * 90 + 1, 120)) AS BIGINT) AS c_len, " +
      "md5(substr(text, chunk_id * 90 + 1, 120)) AS c_hash, " +
      "CAST(len(string_split(substr(text, chunk_id * 90 + 1, 120), ' ')) AS BIGINT) AS n_tokens " +
      "FROM c ORDER BY doc_id, chunk_id"),

    "q_text_scrub" -> ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks, " +
      "list_filter(string_split(text, ' '), x -> x NOT IN ('the', 'a')) AS kept " +
      "FROM documents) SELECT doc_id, len(toks) AS n_toks, " +
      "len(toks) - len(kept) AS n_removed, " +
      "strlen(array_to_string(kept, ' ')) AS clean_chars, " +
      "substr(array_to_string(kept, ' '), 1, 80) AS clean_prefix " +
      "FROM t ORDER BY doc_id"),

    "q_text_contamination" -> ("WITH d AS (SELECT doc_id, lang, " +
      s"string_split(text, ' ') AS t, $hTextDuck % 100 AS pct FROM documents " +
      "WHERE len(string_split(text, ' ')) >= 4), " +
      "grams AS (SELECT doc_id, lang, pct, " +
      "unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] " +
      "for i in generate_series(1, len(t) - 3)]) AS g FROM d), " +
      "test_g AS (SELECT DISTINCT g FROM grams WHERE pct >= 90) " +
      "SELECT gr.doc_id, gr.lang, count(DISTINCT gr.g) AS n_hits " +
      "FROM grams gr JOIN test_g USING (g) WHERE gr.pct < 90 " +
      "GROUP BY gr.doc_id, gr.lang ORDER BY gr.doc_id"),

    "q_text_logprob" -> ("WITH toks AS (SELECT doc_id, " +
      "unnest(string_split(text, ' ')) AS tok FROM documents), " +
      "freq AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok), " +
      "total AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tot FROM freq) " +
      "SELECT doc_id, count(*) AS n_toks, " +
      "round(CAST(SUM(CAST(round(ln(CAST(cnt AS DOUBLE) / tot), 6) " +
      "AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4) AS avg_logprob " +
      "FROM toks JOIN freq USING (tok) CROSS JOIN total " +
      "GROUP BY doc_id ORDER BY doc_id"),

    "q_text_bigramlm" -> ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
      "bi AS (SELECT doc_id, unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2 " +
      "FROM t WHERE len(t) >= 2), " +
      "toks AS (SELECT doc_id, unnest(t) AS tok FROM t), " +
      "cb AS (SELECT w1, w2, count(*) AS cnt2 FROM bi GROUP BY w1, w2), " +
      "cu AS (SELECT tok, count(*) AS cnt1 FROM toks GROUP BY tok), " +
      "vocab AS (SELECT CAST(count(*) AS BIGINT) AS v FROM cu) " +
      "SELECT bi.doc_id, count(*) AS n_bigrams, " +
      "round(CAST(SUM(CAST(round(ln((cnt2 + 0.5) / (cnt1 + 0.5 * v)), 6) " +
      "AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4) AS avg_bigram_logprob " +
      "FROM bi JOIN cb USING (w1, w2) JOIN cu ON bi.w1 = cu.tok CROSS JOIN vocab " +
      "GROUP BY bi.doc_id ORDER BY bi.doc_id"),

    "q_text_fingerprint" -> ("SELECT doc_id, " +
      "CAST(list_sum([i * (CAST(concat('0x', substr(md5(string_split(text, ' ')[i]), 1, 15)) AS BIGINT) % 1000003) " +
      "for i in generate_series(1, len(string_split(text, ' ')))]) % 2147483647 AS BIGINT) AS fp, " +
      "substr(md5(text), 1, 8) AS content_id " +
      "FROM documents ORDER BY doc_id"),

    // identical enrichment string, identical patterns, identical
    // replace order (email -> ip -> phone); DuckDB regexp_replace needs
    // the 'g' flag (first-match-only by default) and counts via
    // len(regexp_extract_all)
    "q_text_redact" -> ("WITH e AS (SELECT doc_id, " +
      "CASE WHEN doc_id % 5 = 4 THEN text ELSE concat(text, " +
      "' contact user', CAST(doc_id AS VARCHAR), '@mail', " +
      "CAST(doc_id % 7 AS VARCHAR), '.example.com now at ', " +
      "CAST(10 + doc_id % 100 AS VARCHAR), '.', " +
      "CAST(doc_id * 3 % 256 AS VARCHAR), '.', " +
      "CAST(doc_id * 7 % 256 AS VARCHAR), '.', " +
      "CAST(1 + doc_id % 254 AS VARCHAR), " +
      "CASE WHEN doc_id % 4 = 0 THEN concat(' call +1-555-', " +
      "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')) ELSE '' END) END AS ftext " +
      "FROM documents) " +
      "SELECT doc_id, " +
      s"CAST(len(regexp_extract_all(ftext, '$redactEmailPat')) AS BIGINT) AS n_email, " +
      s"CAST(len(regexp_extract_all(ftext, '$redactIpPat')) AS BIGINT) AS n_ip, " +
      s"CAST(len(regexp_extract_all(ftext, '$redactPhonePat')) AS BIGINT) AS n_phone, " +
      s"md5(regexp_replace(regexp_replace(regexp_replace(ftext, " +
      s"'$redactEmailPat', '<EMAIL>', 'g'), " +
      s"'$redactIpPat', '<IP>', 'g'), " +
      s"'$redactPhonePat', '<PHONE>', 'g')) AS red_md5 " +
      "FROM e ORDER BY doc_id"),

    "q_text_repetition" -> ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
      "b AS (SELECT doc_id, unnest([t[i] || ' ' || t[i+1] " +
      "for i in generate_series(1, len(t) - 1)]) AS bg FROM t WHERE len(t) >= 2), " +
      "c AS (SELECT doc_id, bg, count(*) AS cnt FROM b GROUP BY 1, 2), " +
      "a AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams, " +
      "count(*) AS n_distinct, CAST(max(cnt) AS BIGINT) AS top_count FROM c GROUP BY 1) " +
      "SELECT d.doc_id, coalesce(a.n_bigrams, 0) AS n_bigrams, " +
      "coalesce(a.n_distinct, 0) AS n_distinct, coalesce(a.top_count, 0) AS top_count, " +
      "(coalesce(a.n_bigrams, 0) > 0 AND coalesce(a.top_count, 0) * 4 >= coalesce(a.n_bigrams, 0)) AS repetitive " +
      "FROM documents d LEFT JOIN a ON d.doc_id = a.doc_id ORDER BY d.doc_id"),

    "q_multimodal_join" -> ("SELECT doc_id, n_chars, lang, label, " +
      "round(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS emb_norm " +
      "FROM documents LEFT JOIN embeddings ON doc_id = vec_id ORDER BY doc_id"),

    "q_multimodal_cluster" -> ("WITH pe AS (SELECT vec_id, label, i AS pos, " +
      "CAST(embedding[i] AS DOUBLE) AS x FROM embeddings, generate_series(1, 64) AS t(i)), " +
      "cent AS (SELECT label, pos, avg(x) AS c FROM pe GROUP BY label, pos), " +
      "d AS (SELECT pe.vec_id, pe.label, round(sqrt(sum((x - c) * (x - c))), 4) AS dist " +
      "FROM pe JOIN cent ON pe.label = cent.label AND pe.pos = cent.pos GROUP BY pe.vec_id, pe.label), " +
      "m AS (SELECT label, count(*) AS n_members, round(avg(dist), 4) AS avg_dist FROM d GROUP BY label), " +
      "f AS (SELECT label, vec_id, dist, row_number() OVER (PARTITION BY label ORDER BY dist DESC, vec_id) AS r FROM d) " +
      "SELECT f.label, f.vec_id AS far_vec, f.dist AS far_dist, m.n_members, m.avg_dist " +
      "FROM f JOIN m ON f.label = m.label WHERE f.r = 1 ORDER BY f.label"),

    "q_multimodal_binary" -> ("SELECT doc_id, " +
      "octet_length(encode(text)) AS n_bytes, " +
      "substr(hex(encode(text)), 1, 16) AS head_hex, " +
      "md5(text) AS content_md5, " +
      "to_base64(encode(substr(text, 1, 9))) AS b64_head " +
      "FROM documents ORDER BY doc_id"),

    "q_multimodal_phash" -> graft.multimodal.MediaPipeline.byteFingerprintOracleSql,
    "q_multimodal_ahash" -> graft.multimodal.MediaPipeline.ahashOracleSql,
    "q_dedup_image" -> graft.multimodal.MediaPipeline.imageDedupOracleSql,
    "q_multimodal_thumb" -> graft.multimodal.MediaPipeline.thumbOracleSql,
    "q_multimodal_header" -> graft.multimodal.MediaPipeline.headerOracleSql,
    "q_multimodal_png" -> graft.multimodal.MediaPipeline.pngOracleSql,
    "q_multimodal_wave" -> graft.multimodal.MediaPipeline.pcmOracleSql,
    "q_dedup_audio" -> graft.multimodal.MediaPipeline.audioDedupOracleSql,
    "q_multimodal_frames" -> graft.multimodal.MediaPipeline.frameOracleSql,
    "q_multimodal_dcthash" -> graft.multimodal.MediaPipeline.dctHashOracleSql,
    "q_multimodal_hashrobust" -> graft.multimodal.MediaPipeline.hashRobustOracleSql,
    "q_multimodal_spectro" -> graft.multimodal.MediaPipeline.spectroOracleSql,
    "q_multimodal_mfcc" -> graft.multimodal.MediaPipeline.mfccOracleSql,
    "q_dedup_video" -> graft.multimodal.MediaPipeline.videoDedupOracleSql,

    // identical fixed-point/assign/update arithmetic, all-integer
    "q_cluster_kmeans" -> (s"WITH $kmeansAssignCtes " +
      "SELECT k, count(*) AS n_members, CAST(sum(d) AS BIGINT) AS inertia, " +
      "min(vec_id) AS min_member FROM a2 GROUP BY k ORDER BY k"),
  )

  /** DuckDB mirror of [[kmeansAssign]]: the CTE chain ending in
    * a2 (vec_id, k, d) — fixed-point vectors in e, seed centroids c0,
    * first assignment a1, per-(k, pos) update s1/c1, final assignment a2.
    * Shared by the q_cluster_kmeans oracle and Dedup's q_dedup_semantic
    * oracle (which joins a2 back to e for the vectors).
    */
  // q_text_redact's patterns, shared verbatim by the Spark column API
  // (no SQL-literal escaping) and the DuckDB single-quoted literal (no
  // backslash processing) — one source string, two engines, identical
  // semantics because the patterns are alternation-free and greedy-simple
  private val redactEmailPat = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  private val redactIpPat = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""
  private val redactPhonePat = """\+1-555-\d{4}"""

  /** The fixed-point corpus CTE alone — shared between the kmeans chain
    * and Dedup's PQ head so a statement composing BOTH (q_sim_ivfpq's
    * recall grading) defines `e` exactly once. */
  private[operators] val fxCte: String =
    "e AS (SELECT vec_id, " +
    "[CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) for x in embedding] AS fx " +
    "FROM embeddings)"

  /** The kmeans assign/update chain c0..a2, assuming `e` (fxCte) is
    * already in scope. */
  private[operators] val kmeansChainCtes: String =
    "c0 AS (SELECT vec_id AS k, fx AS cv FROM e WHERE vec_id < 8), " +
    "a1 AS (SELECT e.vec_id, c0.k, e.fx FROM e, c0 " +
    "QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY " +
    s"${sqdDuck("e.fx", "c0.cv", 64)}, c0.k) = 1), " +
    "s1 AS (SELECT k, pos, sum(x) AS sx, count(*) AS n FROM " +
    "(SELECT k, unnest(fx) AS x, generate_subscripts(fx, 1) - 1 AS pos FROM a1) " +
    "GROUP BY k, pos), " +
    "c1 AS (SELECT k, list(CAST(floor(CAST(sx AS DOUBLE) / n + 0.5) AS BIGINT) ORDER BY pos) AS cv " +
    "FROM s1 GROUP BY k), " +
    "a2 AS (SELECT e.vec_id, c1.k, " +
    s"${sqdDuck("e.fx", "c1.cv", 64)} AS d " +
    "FROM e, c1 " +
    "QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY d, c1.k) = 1)"

  private[operators] val kmeansAssignCtes: String = fxCte + ", " + kmeansChainCtes
}
