package graft.search

import graft.{Artifacts, QueryFamily, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-checked surface of [[InvertedIndex]] — full-text search served
  * FROM the index artifacts, with the DuckDB oracle recomputing the same
  * answer directly from the corpus (DuckDB has no index: a green row
  * certifies the index round-trip — build, publish, read back, rank —
  * against first-principles recomputation).
  *
  * Read-only queries serve from ONE shared base index per (session,
  * fixture dir) — built exactly once, never mutated (the real lifecycle:
  * build once, serve many). Queries that MUTATE the index (delete,
  * append/compact/vacuum) rebuild under per-invocation fresh roots (the
  * ViewQueries convention: verify/bench invoke queries repeatedly and
  * concurrently, and a shared MUTABLE root would race). Every SERVE plan
  * is required in-query to never touch `documents.parquet` — the engine
  * must answer from what it published, or fail loudly.
  */
object SearchQueries extends QueryFamily {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents").select("doc_id", "text")

  /** One base index per (session, fixture dir), built exactly once and
    * never mutated — the real lifecycle (build once, serve many) for the
    * read-only queries. [[graft.Artifacts]] makes concurrent invocations
    * block on a single build instead of racing (the root itself is
    * invocation-unique, so no OTHER process can touch it); queries that
    * MUTATE the index (delete, append/compact/vacuum) keep per-invocation
    * roots, and the build path stays covered by them and by SearchSpec.
    */
  private def sharedIndex(s: SparkSession, dir: String): String =
    Artifacts.get(s, "search.sharedIndex", dir) {
      val root = Artifacts.root(s, "q_search_shared")
      InvertedIndex.build(s, root, docs(s, dir))
      root
    }

  /** The standard three-term query of the BM25 keys. */
  private val bm25Terms = Seq("spark", "merge", "window")

  /** DuckDB's tokenized corpus CTE `d` (doc_id, t), rows kept by `filter`. */
  private def corpusCte(filter: String = ""): String =
    s"d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents$filter)"

  /** The BM25 oracle's CTE chain through per-(doc, term) scores `sc` —
    * shared by every BM25 key's oracle, so they cannot drift. `docFilter`
    * restricts the corpus, `terms` is the IN operand that picks the
    * query terms, and `termCtes` defines any CTE that operand reads. */
  private def bm25OracleCtes(docFilter: String = "",
      terms: String = "'spark', 'merge', 'window'", termCtes: String = ""): String =
    corpusCte(docFilter) + ", " +
    "ds AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM d), " +
    "g AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, " +
    "CAST(sum(dl) AS BIGINT) AS total_tokens FROM ds), " +
    "tk AS (SELECT doc_id, unnest(t) AS tok FROM d), " + termCtes +
    "post AS (SELECT tok, doc_id, CAST(count(*) AS BIGINT) AS tf FROM tk " +
    s"WHERE tok IN ($terms) GROUP BY 1, 2), " +
    "lex AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY tok), " +
    "sc AS (SELECT p.doc_id, CAST(floor(((((CAST(g.n_docs AS DOUBLE) - " +
    "CAST(l.df AS DOUBLE)) + 0.5) / (CAST(l.df AS DOUBLE) + 0.5)) * " +
    "((CAST(p.tf AS DOUBLE) * 2.2) / (CAST(p.tf AS DOUBLE) + 1.2 * " +
    "(0.25 + (0.75 * CAST(ds.dl AS DOUBLE)) / " +
    "(CAST(g.total_tokens AS DOUBLE) / CAST(g.n_docs AS DOUBLE)))))) " +
    "* 1000000.0) AS BIGINT) AS s_micros " +
    "FROM post p JOIN ds USING (doc_id) CROSS JOIN g " +
    "JOIN lex l ON p.tok = l.tok)"

  /** Per-doc BM25 totals over `sc`, before any filter or GROUP BY. */
  private val bm25ScoresOracle = "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms, " +
    "CAST(sum(s_micros) AS BIGINT) AS score_micros FROM sc "

  /** DuckDB's term-match recompute: per doc the count of matched terms
    * and their tf sum, for tokens passing `pred`. */
  private def termMatchOracle(pred: String, having: String = ""): String =
    s"WITH ${corpusCte()}, " +
      "tk AS (SELECT doc_id, unnest(t) AS tok FROM d), " +
      "post AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM tk " +
      s"WHERE $pred GROUP BY 1, 2) " +
      "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms, " +
      "CAST(sum(tf) AS BIGINT) AS tf_sum FROM post " +
      s"GROUP BY doc_id ${having}ORDER BY doc_id"

  /** DuckDB's phrase recompute: per doc the positions where `words`
    * (two or more) occur in a row, from the raw split. */
  private def phraseOracle(words: Seq[String]): String = {
    val last = if (words.length == 2) "len(t)" else s"len(t) - ${words.length - 2}"
    val at = words.zipWithIndex.map {
      case (w, 0) => s"t[i] = '$w'"
      case (w, j) => s"t[i + $j] = '$w'"
    }
    s"WITH ${corpusCte()} " +
      "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_occurrences " +
      s"FROM d, UNNEST(range(1, $last)) AS u(i) " +
      s"WHERE ${at.mkString(" AND ")} " +
      "GROUP BY doc_id ORDER BY doc_id"
  }

  /** Serves `q` from the shared base index, requiring that its plan
    * never reads the corpus. */
  private def served(s: SparkSession, dir: String)(q: String => DataFrame): DataFrame =
    fromIndexOnly(q(sharedIndex(s, dir)))

  private def fromIndexOnly(df: DataFrame): DataFrame = {
    val plan = df.queryExecution.executedPlan.toString
    require(!plan.contains("documents.parquet"),
      s"search query read the corpus instead of the index:\n${plan.take(4000)}")
    df
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Build the index, then serve the lexicon head (top-30 tokens by
    // document frequency) from the published meta version — the "what's
    // in this index" operational query.
    "q_search_index" -> ((s, dir) => served(s, dir)(root =>
      InvertedIndex.lexicon(s, root)
        .orderBy(col("df").desc, col("tok"))
        .limit(30)
        .select("tok", "df", "tf_total"))),

    // BM25 ranked retrieval (rational-idf profile — see InvertedIndex
    // scaladoc for the bit-reproducibility argument) for a 3-term OR
    // query, top-20 docs with integer micro-scores.
    "q_search_bm25" -> ((s, dir) =>
      served(s, dir)(InvertedIndex.bm25(s, _, bm25Terms, 20))),

    // HYBRID retrieval — Reciprocal Rank Fusion (Cormack et al. 2009,
    // the published fusion behind every modern lexical+vector serving
    // stack): the BM25 top-20 (the index's own serve path) fused with
    // the embedding cosine top-20 (the q_sim_topk ranking, probe
    // vec_id 0) by RRF score Σ 10⁶ DIV (60 + rank) — k = 60 is the
    // paper's constant, and the fold is EXACT integers (rank is the
    // only input), so fusion has no float boundary at all. Docs in one
    // leg only carry that leg's term (absent rank served as 0). Both
    // legs are top-k cuts (20 rows each): the fusion is driver-scale
    // work at ANY corpus size — the whole point of fusing RANKS
    // instead of trying to calibrate heterogeneous scores.
    "q_search_hybrid" -> ((s, dir) => {
      graft.functions.VecDot.register(s)
      val root = sharedIndex(s, dir)
      val wBm = org.apache.spark.sql.expressions.Window.orderBy(col("score_micros").desc, col("doc_id"))
      val bm = InvertedIndex.bm25(s, root, bm25Terms, 20)
        .select(col("doc_id"), row_number().over(wBm).cast("long").as("bm25_rank"))
      val e = Tables(s, dir, "embeddings").select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
        .withColumn("norm", expr("sqrt(vec_dot(v, v))"))
      val probe = e.where(col("vec_id") === 0)
        .select(col("v").as("pv"), col("norm").as("pnorm"))
      val wVec = org.apache.spark.sql.expressions.Window.orderBy(col("score").desc, col("vec_id"))
      val vec = e.where(col("vec_id") >= 10)
        .crossJoin(broadcast(probe))
        .withColumn("score",
          round(expr("vec_dot(pv, v)") / (col("pnorm") * col("norm")), 4))
        .withColumn("vec_rank", row_number().over(wVec).cast("long"))
        .where(col("vec_rank") <= 20)
        .select(col("vec_id").as("doc_id"), col("vec_rank"))
      bm.join(vec, Seq("doc_id"), "full")
        .na.fill(0L, Seq("bm25_rank", "vec_rank"))
        .withColumn("rrf_micros", expr(
          "(CASE WHEN bm25_rank > 0 THEN 1000000 DIV (60 + bm25_rank) " +
            "ELSE 0 END) + " +
            "(CASE WHEN vec_rank > 0 THEN 1000000 DIV (60 + vec_rank) " +
            "ELSE 0 END)"))
        .orderBy(col("rrf_micros").desc, col("doc_id")).limit(10)
    }),

    // Positional phrase query "merge batch": adjacent-position counts per
    // doc from the postings alone — the corpus text is never re-read.
    "q_search_phrase" -> ((s, dir) =>
      served(s, dir)(InvertedIndex.phrase(s, _, "merge", "batch"))),

    // Three-word phrase "slow hash batch" via the shift-and-count shape
    // (one scan + one aggregation, no per-term self-joins) — the
    // arbitrary-length ES match_phrase, index-only.
    "q_search_phrase3" -> ((s, dir) =>
      served(s, dir)(InvertedIndex.phraseN(s, _, Seq("slow", "hash", "batch")))),

    // Conjunctive retrieval: docs containing ALL THREE terms, served
    // from one term-pruned postings aggregation (no per-term self-join).
    "q_search_and" -> ((s, dir) =>
      served(s, dir)(InvertedIndex.conjunctive(s, _, bm25Terms))),

    // ES terms AGGREGATIONS (facets) over the FULL match set — the
    // analytics half of every search product: hits for one term come
    // from the index's term-pruned postings (never a corpus text scan),
    // then per-field bucket counts over the hits' metadata. The
    // metadata join on doc_id is the doc-values analog (ES keeps
    // columnar per-field values beside the postings; here the columnar
    // store IS the documents parquet, projected to the two facet
    // fields). Unlike the top-k serve queries, aggs run over ALL
    // matching docs — the shape that turns a search index into a
    // dashboard. One stack() unpivot serves both facet fields from a
    // single join pass.
    "q_search_facets" -> ((s, dir) => {
      val root = sharedIndex(s, dir)
      val hits = InvertedIndex.conjunctive(s, root, Seq("spark"))
        .select("doc_id")
      hits.join(Tables(s, dir, "documents").select("doc_id", "lang", "source"),
          "doc_id")
        .selectExpr("stack(2, 'lang', lang, 'source', source) AS (facet, val)")
        .groupBy("facet", "val")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("facet", "val")
    }),

    // AUTOCOMPLETE (the ES completion-suggester shape): top-5
    // completions of a prefix by document frequency, served from the
    // LEXICON ALONE — no postings, no corpus; the lexicon is the
    // O(vocab) artifact every suggest box queries on each keystroke, so
    // at 100 TB this is a broadcast-sized scan however big the corpus.
    // Distinct from q_search_wildcard, which expands the prefix and then
    // retrieves DOCUMENTS; suggest serves the completions themselves.
    "q_search_suggest" -> ((s, dir) => served(s, dir)(root =>
      InvertedIndex.lexicon(s, root)
        .where(col("tok").startsWith("s"))
        .select(col("tok"), col("df"))
        .orderBy(col("df").desc, col("tok")).limit(5))),

    // HIGHLIGHTING — the serve-side snippet render: the index's
    // positional postings answer WHERE each hit's first match sits
    // (positions are sorted, element 1 IS the first occurrence — no
    // text scan to locate), and only the ±2-token snippet render joins
    // the stored text (the ES stored-fields/_source analog, same
    // doc-values join shape as q_search_facets). At 100 TB the locate
    // stays a term-pruned postings scan and the text join touches only
    // hit docs — never a corpus re-analysis.
    "q_search_highlight" -> ((s, dir) => {
      val root = sharedIndex(s, dir)
      InvertedIndex.firstPositions(s, root, "spark")
        .join(Tables(s, dir, "documents").select("doc_id", "text"), "doc_id")
        .withColumn("a", split(col("text"), " "))
        .selectExpr("doc_id", "first_pos",
          "array_join(slice(a, CAST(greatest(1, first_pos - 2) AS INT), " +
            "CAST(least(CAST(size(a) AS BIGINT), first_pos + 2) - " +
            "greatest(1, first_pos - 2) + 1 AS INT)), ' ') AS snippet")
        .orderBy("doc_id")
    }),

    // Prefix wildcard "s*": capped term expansion against the lexicon
    // (6 fixture terms), then one term-pruned postings aggregation —
    // the Lucene rewrite model, served from the index alone.
    "q_search_wildcard" -> ((s, dir) =>
      served(s, dir)(InvertedIndex.wildcard(s, _, "s"))),

    // Deep pagination (ES search_after): page 2 of the standard BM25
    // query — the in-query cursor is page 1's last (score, doc_id),
    // read back as a 1-row stats job; the served page must equal the
    // full ranking's ranks 11-20 (the oracle recomputes exactly that),
    // certifying the cursor predicate against the total order.
    "q_search_after" -> ((s, dir) => served(s, dir) { root =>
      val cursor = InvertedIndex.bm25(s, root, bm25Terms, 10)
        .select("score_micros", "doc_id").collect().last
      InvertedIndex.searchAfter(s, root, bm25Terms, 10,
        afterScore = cursor.getLong(0), afterDoc = cursor.getLong(1))
    }),

    // More-like-this for doc 42: its top-3 terms by tf become an OR
    // query, BM25-ranked with the source doc excluded — the ES
    // `more_like_this` serve path, index-only.
    "q_search_mlt" -> ((s, dir) =>
      served(s, dir)(InvertedIndex.moreLikeThis(s, _, 42L))),

    // Fuzzy query 'part'~2: Levenshtein expansion against the lexicon
    // (fixture: part, fast, sort, spark), then the same term-pruned
    // postings aggregation — the ES `fuzziness` clause, index-only.
    "q_search_fuzzy" -> ((s, dir) =>
      served(s, dir)(InvertedIndex.fuzzy(s, _, "part", maxEdits = 2))),

    // Tombstone deletion, stats-exact: delete every 5th doc, then serve
    // BM25 — scores must equal a from-scratch index of the surviving
    // corpus (the oracle recomputes exactly that), certifying that the
    // delete retired both the docs AND their df/avgdl contributions.
    "q_search_delete" -> ((s, dir) => {
      val root = Artifacts.root(s, "q_search_delete")
      val d = docs(s, dir)
      InvertedIndex.build(s, root, d)
      InvertedIndex.delete(s, root, d.where("doc_id % 5 = 0").select("doc_id"))
      fromIndexOnly(InvertedIndex.bm25(s, root, bm25Terms, 20))
    }),

    // The segment model under ingest: three disjoint deltas appended as
    // three segments (then compacted to one), served as a whole-index
    // fingerprint — lexicon row count, df/tf mass, doc/token globals.
    // Equality with the oracle's one-shot recompute certifies that the
    // incremental lexicon fold and the manifest flip lose nothing, and
    // that compaction is pure data movement.
    "q_search_incremental" -> ((s, dir) => {
      val root = Artifacts.root(s, "q_search_incremental")
      val d = docs(s, dir)
      // the three deltas' segment stagings are mutually independent jobs;
      // only the lexicon/globals folds are serial by contract — appendAll
      // overlaps the stagings (§2.6) and keeps the three ordered meta
      // publishes (same segments, same folds, same final fingerprint)
      InvertedIndex.appendAll(s, root, Seq(
        d.where("doc_id % 3 = 0"),
        d.where("doc_id % 3 = 1"),
        d.where("doc_id % 3 = 2")))
      InvertedIndex.compact(s, root)
      InvertedIndex.vacuum(root)
      val lex = InvertedIndex.lexicon(s, root)
        .agg(count(lit(1)).as("n_tokens_lex"),
          sum("df").as("df_sum"), sum("tf_total").as("tf_sum"))
      fromIndexOnly(
        lex.crossJoin(broadcast(InvertedIndex.globals(s, root))))
    }),
  )

  def oracles: Map[String, String] = Map(
    "q_search_index" ->
      ("WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok " +
        "FROM documents), " +
        "lex AS (SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df, " +
        "CAST(count(*) AS BIGINT) AS tf_total FROM tk GROUP BY tok) " +
        "SELECT tok, df, tf_total FROM lex ORDER BY df DESC, tok LIMIT 30"),

    // identical IEEE op sequence as InvertedIndex.bm25 — see its scaladoc;
    // every parenthesis mirrors the Column expression
    "q_search_bm25" ->
      (s"WITH ${bm25OracleCtes()} $bm25ScoresOracle" +
        "GROUP BY doc_id ORDER BY score_micros DESC, doc_id LIMIT 20"),

    // the identical BM25 chain cut to a ranked top-20, the identical
    // cosine ranking (round(·,4) + id), and the published RRF fold as
    // exact integers
    "q_search_hybrid" ->
      (s"WITH ${bm25OracleCtes()}, " +
        "bm20 AS (SELECT doc_id, CAST(sum(s_micros) AS BIGINT) AS score_micros " +
        "FROM sc GROUP BY doc_id ORDER BY score_micros DESC, doc_id LIMIT 20), " +
        "bmrk AS (SELECT doc_id, CAST(row_number() OVER " +
        "(ORDER BY score_micros DESC, doc_id) AS BIGINT) AS bm25_rank FROM bm20), " +
        "vec AS (SELECT c.vec_id AS doc_id, " +
        "round(list_cosine_similarity(CAST(p.embedding AS DOUBLE[]), " +
        "CAST(c.embedding AS DOUBLE[])), 4) AS score " +
        "FROM embeddings p, embeddings c WHERE p.vec_id = 0 AND c.vec_id >= 10), " +
        "vrk AS (SELECT doc_id, CAST(row_number() OVER " +
        "(ORDER BY score DESC, doc_id) AS BIGINT) AS vec_rank FROM vec " +
        "QUALIFY row_number() OVER (ORDER BY score DESC, doc_id) <= 20) " +
        "SELECT coalesce(b.doc_id, v.doc_id) AS doc_id, " +
        "coalesce(b.bm25_rank, 0) AS bm25_rank, " +
        "coalesce(v.vec_rank, 0) AS vec_rank, " +
        "(CASE WHEN b.bm25_rank IS NOT NULL THEN 1000000 // (60 + b.bm25_rank) " +
        "ELSE 0 END) + (CASE WHEN v.vec_rank IS NOT NULL THEN " +
        "1000000 // (60 + v.vec_rank) ELSE 0 END) AS rrf_micros " +
        "FROM bmrk b FULL JOIN vrk v ON b.doc_id = v.doc_id " +
        "ORDER BY rrf_micros DESC, doc_id LIMIT 10"),

    "q_search_and" ->
      termMatchOracle("tok IN ('spark', 'merge', 'window')", "HAVING count(*) = 3 "),

    // df recomputed from the raw text; same (df DESC, tok) cut
    "q_search_suggest" ->
      ("WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok " +
        "FROM documents), " +
        "lex AS (SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df " +
        "FROM tk WHERE tok LIKE 's%' GROUP BY tok) " +
        "SELECT tok, df FROM lex ORDER BY df DESC, tok LIMIT 5"),

    // first occurrence from the raw split (list_position is 1-based,
    // matching the index's 1-based sorted positions), same snippet slice
    "q_search_highlight" ->
      ("WITH d AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents), " +
        "h AS (SELECT doc_id, a, " +
        "CAST(list_position(a, 'spark') AS BIGINT) AS first_pos " +
        "FROM d WHERE list_contains(a, 'spark')) " +
        "SELECT doc_id, first_pos, " +
        "array_to_string(a[CAST(greatest(1, first_pos - 2) AS INT):" +
        "CAST(least(len(a), first_pos + 2) AS INT)], ' ') AS snippet " +
        "FROM h ORDER BY doc_id"),

    // the full-match-set facet recompute: membership from the raw text,
    // buckets from the same two metadata fields
    "q_search_facets" ->
      ("WITH hit AS (SELECT doc_id, lang, source FROM documents " +
        "WHERE list_contains(string_split(text, ' '), 'spark')), " +
        "u AS (SELECT 'lang' AS facet, lang AS val, count(*) AS n FROM hit " +
        "GROUP BY lang " +
        "UNION ALL SELECT 'source', source, count(*) FROM hit GROUP BY source) " +
        "SELECT facet, val, CAST(n AS BIGINT) AS n_docs FROM u " +
        "ORDER BY facet, val"),

    "q_search_wildcard" -> termMatchOracle("tok LIKE 's%'"),

    // the full-ranking recompute cut at ranks 11-20 — equal to the
    // engine's cursor-filtered page because (score, doc_id) totals
    "q_search_after" ->
      (s"WITH ${bm25OracleCtes()}, " +
        s"agg AS ($bm25ScoresOracle" + "GROUP BY doc_id), " +
        "rk AS (SELECT *, row_number() OVER " +
        "(ORDER BY score_micros DESC, doc_id) AS rn FROM agg) " +
        "SELECT doc_id, n_terms, score_micros FROM rk " +
        "WHERE rn BETWEEN 11 AND 20 ORDER BY score_micros DESC, doc_id"),

    // the q_search_bm25 arithmetic with the term set DERIVED from doc
    // 42's own tf profile (same deterministic top-3 cut), source doc
    // excluded; excluding one doc from a top-k commutes with cutting
    // top-(k+1) first, so both engines compute exclude-then-top-k
    "q_search_mlt" ->
      ("WITH " + bm25OracleCtes(terms = "SELECT tok FROM qt",
        termCtes = "qt AS (SELECT tok FROM (SELECT tok, count(*) AS qtf FROM tk " +
          "WHERE doc_id = 42 GROUP BY tok ORDER BY qtf DESC, tok LIMIT 3)), ") +
        s" ${bm25ScoresOracle}WHERE doc_id <> 42 GROUP BY doc_id " +
        "ORDER BY score_micros DESC, doc_id LIMIT 10"),

    // same IN-set the engine expands to — the oracle recomputes the
    // expansion itself via DuckDB's levenshtein (identical classic
    // edit-distance semantics, no transpositions, in both engines)
    "q_search_fuzzy" -> termMatchOracle("levenshtein(tok, 'part') <= 2"),

    // the q_search_bm25 oracle restricted to the surviving corpus — a
    // from-scratch recompute the tombstoned index must equal exactly
    "q_search_delete" ->
      (s"WITH ${bm25OracleCtes(docFilter = " WHERE doc_id % 5 <> 0")} $bm25ScoresOracle" +
        "GROUP BY doc_id ORDER BY score_micros DESC, doc_id LIMIT 20"),

    "q_search_phrase3" -> phraseOracle(Seq("slow", "hash", "batch")),

    "q_search_phrase" -> phraseOracle(Seq("merge", "batch")),

    "q_search_incremental" ->
      (s"WITH ${corpusCte()}, " +
        "tk AS (SELECT doc_id, unnest(t) AS tok FROM d), " +
        "lex AS (SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df, " +
        "CAST(count(*) AS BIGINT) AS tf_total FROM tk GROUP BY tok), " +
        "g AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(len(t)) AS BIGINT) AS total_tokens FROM d) " +
        "SELECT CAST(count(*) AS BIGINT) AS n_tokens_lex, " +
        "CAST(sum(df) AS BIGINT) AS df_sum, " +
        "CAST(sum(tf_total) AS BIGINT) AS tf_sum, " +
        "g.n_docs, g.total_tokens FROM lex CROSS JOIN g " +
        "GROUP BY g.n_docs, g.total_tokens"),
  )
}
