package graft.search

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import graft.Tables
import graft.sinks.AliasedIndex
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Segment-based inverted index over a (doc_id, text) corpus — the SERVE
  * side of the Hive→ES product: the sync layer ships documents so users
  * can run ranked full-text search, and this module closes that loop
  * inside the engine itself.
  *
  * Layout (Lucene's commit-point model, re-expressed as parquet + an
  * atomically-published manifest):
  *
  * {{{
  *   root/seg-NNNNN/postings/   (tok, doc_id, tf, positions)  parquet
  *   root/seg-NNNNN/docstats/   (doc_id, dl)                  parquet
  *   root/meta/v-NNNNN/segments   newline list of live segment names
  *   root/meta/v-NNNNN/lexicon/   (tok, df, tf_total)         parquet
  *   root/meta/v-NNNNN/globals/   (n_docs, total_tokens)      parquet, 1 row
  *   root/meta/v-NNNNN/deletes/   (doc_id) tombstones         parquet, opt
  *   root/meta/current            alias file → the committed version
  * }}}
  *
  * An append stages a new immutable segment, then publishes a meta
  * version referencing it ([[AliasedIndex.publish]] — staging dir +
  * ATOMIC_MOVE + alias flip). Readers resolve the alias first and only
  * ever see segments the committed manifest names, so a crash between
  * segment materialization and meta publish leaves an orphan directory
  * that is INVISIBLE, never a half-indexed corpus. Orphans are reclaimed
  * by [[vacuum]] (safe any time: live = named by the current manifest).
  *
  * Scale shape (100 TB):
  *  - postings are FLAT rows clustered by token (`repartition(tok)` +
  *    sort-within-partition), not per-token arrays — a stopword's posting
  *    list is millions of rows spread across row groups, never one
  *    monster cell; term lookups push `tok IN (…)` into the parquet scan
  *    and row-group stats skip the rest.
  *  - the lexicon is maintained by the incremental-view union-merge fold:
  *    O(vocab) state per publish, never a corpus rescan.
  *  - per-(tok, doc) positions ARE carried (Lucene's positional postings)
  *    — bounded by per-doc term frequency, they enable phrase queries
  *    without touching original text.
  *  - serving joins query-term postings (small after the term filter)
  *    against docstats on doc_id; the postings side broadcasts.
  *
  * Single concurrent writer (the sync loop), unlimited readers — the
  * [[AliasedIndex]] contract.
  */
object InvertedIndex {

  /** Tokenize + count: (tok, doc_id, tf, positions) with 1-based token
    * positions, sorted for determinism. The family's whitespace
    * tokenization, shared with every q_text_* oracle.
    */
  private def postingsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), posexplode(split(col("text"), " ")))
      .toDF("doc_id", "pos", "tok")
      .groupBy("tok", "doc_id")
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos") + 1)).as("positions"))

  private def docstatsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("bigint").as("dl"))

  private def metaRoot(root: String): String = s"$root/meta"

  private def currentMeta(root: String): String =
    AliasedIndex.resolve(metaRoot(root)).getOrElse(
      throw new IllegalStateException(
        s"inverted index at $root has no committed meta version"))

  private def segmentsOf(metaDir: String): Seq[String] =
    Files.readAllLines(Paths.get(metaDir, "segments")).asScala.toSeq
      .map(_.trim).filter(_.nonEmpty)

  private def liveSegments(root: String): Seq[String] =
    segmentsOf(currentMeta(root))

  /** Append `docs` (immutable, ids disjoint from everything already
    * indexed — the nightly-ingest contract) as one new segment and
    * publish a meta version whose manifest includes it. The lexicon and
    * globals fold incrementally: old state ∪ delta, merged by key —
    * O(vocab + 1) rows rewritten, the corpus itself is never rescanned.
    *
    * `batch` commits a stream batchId with the published version
    * ([[appendBatch]]); plain nightly appends leave it None.
    */
  def append(spark: SparkSession, root: String, docs: DataFrame,
      batch: Option[Long] = None): Unit = {
    val rootP = Paths.get(root)
    Files.createDirectories(rootP)
    val segName = AliasedIndex.nextNames(rootP, "seg").head
    stageSegment(rootP, docs, segName)
    publishSegment(spark, root, segName, batch)
  }

  /** Append several independent deltas in one maintenance window. Every
    * delta's segment stages CONCURRENTLY (guide §2.6 — the stagings are
    * disjoint-input jobs that each leave most cores idle, so the later
    * jobs' tasks back-fill the earlier jobs' tails), then the meta
    * versions publish sequentially in the given order. Each delta still
    * gets its own segment and its own incremental lexicon/globals fold,
    * and the publish flips stay last and ordered — the same commits as
    * calling [[append]] once per delta. Failure differs from that loop:
    * if any delta's concurrent staging fails, NOTHING publishes (the
    * failure is rethrown after every staging settles; the staged
    * segments are invisible orphans [[vacuum]] reclaims), whereas a
    * crash or failure during the publishes leaves a fully-committed
    * prefix of the deltas — never a half-indexed corpus.
    */
  def appendAll(spark: SparkSession, root: String,
      deltas: Seq[DataFrame]): Unit = {
    if (deltas.isEmpty) return
    val rootP = Paths.get(root)
    Files.createDirectories(rootP)
    // numbered past orphans, so a crashed append never blocks the retry
    val names = AliasedIndex.nextNames(rootP, "seg", deltas.size)
    graft.Par.run(deltas.zip(names).map { case (d, n) =>
      () => stageSegment(rootP, d, n)
    }: _*)
    names.foreach(publishSegment(spark, root, _, batch = None))
  }

  /** Stage `docs` as segment `segName`: write into a hidden temp dir,
    * then rename visible-but-unreferenced (readers only see segments the
    * committed manifest names). */
  private def stageSegment(rootP: Path, docs: DataFrame,
      segName: String): Unit = {
    val post = postingsOf(docs)
    val ds = docstatsOf(docs)
    AliasedIndex.stage(rootP, segName) { staging =>
      // the two segment files are independent jobs over disjoint inputs —
      // submit them together so the second back-fills the first's idle
      // cores (graft.Par); each is tiny relative to the cluster
      graft.Par.run(
        // cluster by token so term lookups skip row groups (see header)
        () => post.repartition(col("tok")).sortWithinPartitions("tok", "doc_id")
          .write.parquet(s"$staging/postings"),
        () => ds.write.parquet(s"$staging/docstats"))
    }
  }

  /** Fold the staged segment `segName` into a new committed meta version
    * (incremental lexicon/globals union-merge + manifest + alias flip). */
  private def publishSegment(spark: SparkSession, root: String,
      segName: String, batch: Option[Long]): Unit = {
    val prev = AliasedIndex.resolve(metaRoot(root))
    val deltaLex = Tables.parquet(spark, s"$root/$segName/postings")
      .groupBy("tok")
      .agg(count(lit(1)).as("df"), sum("tf").as("tf_total"))
    val deltaGlob = Tables.parquet(spark, s"$root/$segName/docstats")
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum("dl"), lit(0L)).as("total_tokens"))
    AliasedIndex.publish(metaRoot(root), batch = batch) { dir =>
      val (lex, glob, segs) = prev match {
        case None => (deltaLex, deltaGlob, Seq(segName))
        case Some(p) =>
          val oldLex = Tables.parquet(spark, s"$p/lexicon")
          val oldGlob = Tables.parquet(spark, s"$p/globals")
          (oldLex.unionByName(deltaLex).groupBy("tok")
            .agg(sum("df").as("df"), sum("tf_total").as("tf_total")),
            oldGlob.unionByName(deltaGlob)
              .agg(sum("n_docs").as("n_docs"),
                sum("total_tokens").as("total_tokens")),
            segmentsOf(p) :+ segName)
      }
      // lexicon / globals / tombstone-carry are independent jobs into
      // disjoint subdirs of the same staging version — overlap them
      graft.Par.run(
        () => lex.repartition(1).write.parquet(s"$dir/lexicon"),
        () => glob.write.parquet(s"$dir/globals"),
        // tombstones survive an append: the deleted docs' rows still sit
        // in the old segments, so dropping the list would resurrect them
        () => prev.flatMap(p => deletes(spark, p)).foreach(
          _.repartition(1).write.parquet(s"$dir/deletes")))
      Files.write(Paths.get(dir, "segments"),
        segs.mkString("\n").getBytes("UTF-8"))
    }
  }

  /** Exactly-once micro-batch append: `foreachBatch` is at-least-once —
    * a crash between the meta publish and the checkpoint commit replays
    * the same batchId with the same rows, and a second segment of them
    * would double every df/tf the lexicon carries. The batchId commits
    * with the meta version ([[AliasedIndex]]'s ledger), so a replay
    * whose fold already published is skipped (returns false), and one
    * whose fold didn't re-runs onto the OLD committed meta — its crashed
    * attempt's segment is an invisible orphan ([[vacuum]] reclaims).
    * Either way the batch lands exactly once.
    */
  def appendBatch(spark: SparkSession, root: String, docs: DataFrame,
      batchId: Long): Boolean =
    if (AliasedIndex.replayed(metaRoot(root), batchId)) false
    else { append(spark, root, docs, batch = Some(batchId)); true }

  /** Continuous index maintenance: every micro-batch of `stream` (the
    * `(doc_id, text)` doc shape) appends one segment through
    * [[appendBatch]]'s exactly-once ledger — the serve side of a
    * [[graft.sync.ContinuousSync]] delivery loop, kept fresh by the
    * same stream. Run [[compact]]+[[vacuum]] in quiet windows exactly
    * like the gate store: each micro-batch is one segment, and an
    * uncompacted long stream pays per-segment listing/open costs at
    * serve time.
    */
  def maintainContinuous(stream: DataFrame, root: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    AliasedIndex.maintain(stream, "index", root, checkpointDir)((batch, batchId) =>
      appendBatch(batch.sparkSession, root, batch, batchId))

  /** Full build = append onto an empty root. */
  def build(spark: SparkSession, root: String, docs: DataFrame): Unit = {
    require(AliasedIndex.resolve(metaRoot(root)).isEmpty,
      s"index at $root already has a committed version; use append")
    append(spark, root, docs)
  }

  /** Merge every live segment into one and publish a manifest naming only
    * the merged result — the small-files/compaction maintenance op.
    * Readers in flight keep the old version ([[AliasedIndex]] keeps 2);
    * the superseded segment dirs become orphans for [[vacuum]].
    * Lexicon and globals are already corpus-exact — they carry over
    * untouched, so compaction is pure data movement, no re-derivation.
    */
  def compact(spark: SparkSession, root: String): Unit = {
    val rootP = Paths.get(root)
    val live = liveSegments(root)
    require(live.nonEmpty, s"nothing to compact at $root")
    val prevDir = currentMeta(root)
    val segName = AliasedIndex.nextNames(rootP, "seg").head
    AliasedIndex.stage(rootP, segName) { staging =>
      // independent merged-segment files — overlap, as in append
      graft.Par.run(
        () => postings(spark, root)
          .repartition(col("tok")).sortWithinPartitions("tok", "doc_id")
          .write.parquet(s"$staging/postings"),
        () => docstats(spark, root).write.parquet(s"$staging/docstats"))
    }
    AliasedIndex.publish(metaRoot(root)) { dir =>
      graft.Par.run(
        () => Tables.parquet(spark, s"$prevDir/lexicon").repartition(1)
          .write.parquet(s"$dir/lexicon"),
        () => Tables.parquet(spark, s"$prevDir/globals")
          .write.parquet(s"$dir/globals"))
      Files.write(Paths.get(dir, "segments"), segName.getBytes("UTF-8"))
    }
  }

  /** Delete segment dirs the committed manifest does not name (crashed
    * appends, compacted-away segments). Safe while readers run IF they
    * resolved the alias after the last two publishes — same contract as
    * [[AliasedIndex]] version GC.
    */
  def vacuum(root: String): Seq[String] =
    AliasedIndex.sweep(Paths.get(root), "seg", liveSegments(root).toSet)

  /** Delete documents: tombstone, stats-exact. Lucene's model is
    * "exclude now, purge on merge" with stats decaying only at merge;
    * here the tombstone flip ALSO retires the deleted docs'
    * contributions from the lexicon and globals (computed from their own
    * postings rows), so BM25 idf/avgdl stay corpus-exact the moment the
    * delete commits. Honest cost accounting: postings are clustered by
    * TOKEN, so finding a doc's rows reads the postings of every live
    * segment once (the semi-join prunes rows, not row groups) — one
    * index scan per delete batch, the same cost class as a compact, and
    * deliberately chosen over Lucene's O(1) lazy-stats alternative
    * because bit-reproducible BM25 (the family's law) cannot serve from
    * stats that depend on merge timing. Batch deletes accordingly: one
    * call with the night's tombstone feed, not one per doc.
    * The (deletes list, lexicon, globals) triple publishes as one atomic
    * meta version; segment files are untouched until [[compact]], which
    * reads through the tombstone filter and therefore physically purges.
    *
    * `ids` is a 1-column (`doc_id`) DataFrame — at scale a tombstone
    * feed, not a driver-side list. Ids already deleted or never indexed
    * are ignored (idempotent: replaying a delete cannot decrement stats
    * twice, because postings/docstats below already exclude prior
    * tombstones).
    */
  def delete(spark: SparkSession, root: String, ids: DataFrame): Unit = {
    require(ids.columns.sameElements(Array("doc_id")),
      s"delete wants a single doc_id column, got ${ids.columns.mkString(",")}")
    val prevDir = currentMeta(root)
    val newDel = docstats(spark, root).join(broadcast(ids), "doc_id")
    val negLex = postings(spark, root).join(broadcast(ids), "doc_id")
      .groupBy("tok")
      .agg((-count(lit(1))).as("df"), (-sum("tf")).as("tf_total"))
    val negGlob = newDel
      .agg((-count(lit(1))).as("n_docs"),
        (-coalesce(sum("dl"), lit(0L))).as("total_tokens"))
    AliasedIndex.publish(metaRoot(root)) { dir =>
      // the three meta artifacts fold from independent inputs — overlap
      graft.Par.run(
        () => Tables.parquet(spark, s"$prevDir/lexicon").unionByName(negLex)
          .groupBy("tok").agg(sum("df").as("df"), sum("tf_total").as("tf_total"))
          .where(col("df") > 0) // a token living only in deleted docs vanishes
          .repartition(1).write.parquet(s"$dir/lexicon"),
        () => Tables.parquet(spark, s"$prevDir/globals").unionByName(negGlob)
          .agg(sum("n_docs").as("n_docs"),
            sum("total_tokens").as("total_tokens"))
          .write.parquet(s"$dir/globals"),
        () => {
          val dels = newDel.select("doc_id")
          deletes(spark, prevDir).fold(dels)(_.unionByName(dels).distinct())
            .repartition(1).write.parquet(s"$dir/deletes")
        })
      Files.copy(Paths.get(prevDir, "segments"), Paths.get(dir, "segments"))
    }
  }

  // ---- readers: everything below touches ONLY committed artifacts ----

  private def deletes(spark: SparkSession, metaDir: String): Option[DataFrame] = {
    val p = Paths.get(metaDir, "deletes")
    if (Files.isDirectory(p)) Some(Tables.parquet(spark, p.toString)) else None
  }

  /** Tombstone filter shared by every reader: deleted docs are invisible
    * everywhere (search, phrase, compaction input). The deletes list is
    * O(tombstones) — broadcast anti-join, and predicates above it still
    * push through to the segment scans (the join key is doc_id, the
    * pushed filters are on tok).
    */
  private def liveOnly(spark: SparkSession, root: String,
      df: DataFrame): DataFrame =
    deletes(spark, currentMeta(root)).fold(df)(d =>
      df.join(broadcast(d), Seq("doc_id"), "left_anti"))

  /** Union of the live segments' postings as one scan — a multi-path
    * parquet read keeps a single FileScan node, so term predicates push
    * into every segment at once.
    */
  def postings(spark: SparkSession, root: String): DataFrame =
    liveOnly(spark, root, Tables.parquet(spark,
      liveSegments(root).map(s => s"$root/$s/postings"): _*))

  def docstats(spark: SparkSession, root: String): DataFrame =
    liveOnly(spark, root, Tables.parquet(spark,
      liveSegments(root).map(s => s"$root/$s/docstats"): _*))

  def lexicon(spark: SparkSession, root: String): DataFrame =
    Tables.parquet(spark, s"${currentMeta(root)}/lexicon")

  def globals(spark: SparkSession, root: String): DataFrame =
    Tables.parquet(spark, s"${currentMeta(root)}/globals")

  /** BM25 ranked retrieval over the committed index — top `k` documents
    * for an OR-of-terms query, never touching the original corpus.
    *
    * Scoring is BM25 (k1 = 1.2, b = 0.75) with ONE declared deviation:
    * the idf factor is the RATIONAL Robertson ratio
    * `(N − df + 0.5) / (df + 0.5)` rather than its logarithm. `ln` is
    * not a correctly-rounded IEEE operation (JVM Math.log and libm may
    * disagree in the last ulp), while + − × ÷ and floor ARE — so the
    * log-free form makes every score bit-reproducible across engines
    * (SURVEY §7.4 law). It is order-equivalent per term (ln is
    * monotone), strictly positive, and the per-term score is published
    * as exact integer MICROS (`floor(score × 1e6)`), so cross-term sums
    * are integer arithmetic — order-independent, hash-stable.
    *
    * Plan shape: the term filter prunes the postings scan (pushed to
    * parquet), the pruned postings broadcast into the docstats join, the
    * lexicon rows and the 1-row globals broadcast everywhere — at 100 TB
    * the only large input is docstats, read once, joined hash-broadcast.
    */
  def bm25(spark: SparkSession, root: String, terms: Seq[String],
      k: Int): DataFrame = {
    require(terms.nonEmpty && k > 0, "bm25 needs terms and k > 0")
    bm25Scored(spark, root, terms)
      .orderBy(col("score_micros").desc, col("doc_id"))
      .limit(k)
  }

  /** Deep pagination (ES `search_after`): the next `k` results strictly
    * AFTER the cursor `(afterScore, afterDoc)` in the total ranking
    * order (score desc, doc_id asc). Because (score, doc_id) is a total
    * order, page N+1 is exactly "full ranking ranks kN+1..k(N+1)" — but
    * computed WITHOUT materializing the first kN rows: the cursor
    * predicate filters the scored set before the top-k cut, so every
    * page costs one `TakeOrderedAndProject`, never a deepening global
    * sort (the reason ES deprecated `from`+`size` for deep pages).
    */
  def searchAfter(spark: SparkSession, root: String, terms: Seq[String],
      k: Int, afterScore: Long, afterDoc: Long): DataFrame = {
    require(terms.nonEmpty && k > 0, "searchAfter needs terms and k > 0")
    bm25Scored(spark, root, terms)
      .where(col("score_micros") < afterScore ||
        (col("score_micros") === afterScore && col("doc_id") > afterDoc))
      .orderBy(col("score_micros").desc, col("doc_id"))
      .limit(k)
  }

  /** The shared BM25 scoring aggregation (see [[bm25]]'s scaladoc for
    * the plan shape and the log-free idf argument): one row per matched
    * doc with `n_terms` and exact integer `score_micros`, unordered.
    */
  private def bm25Scored(spark: SparkSession, root: String,
      terms: Seq[String]): DataFrame = {
    val post = postings(spark, root).where(col("tok").isin(terms: _*))
    val lex = lexicon(spark, root).where(col("tok").isin(terms: _*))
    val dbl = (c: String) => col(c).cast("double")
    val scored = broadcast(post)
      .join(docstats(spark, root), "doc_id")
      .join(broadcast(lex), "tok")
      .crossJoin(broadcast(globals(spark, root)))
      // every step below is correctly-rounded IEEE double arithmetic —
      // identical in any engine; parenthesization mirrors the oracle SQL
      .withColumn("avgdl", dbl("total_tokens") / dbl("n_docs"))
      .withColumn("idf",
        ((dbl("n_docs") - dbl("df")) + lit(0.5)) / (dbl("df") + lit(0.5)))
      .withColumn("tfp",
        (dbl("tf") * lit(2.2)) /
          (dbl("tf") + lit(1.2) *
            (lit(0.25) + (lit(0.75) * dbl("dl")) / col("avgdl"))))
      .withColumn("s_micros", floor(col("idf") * col("tfp") * lit(1e6)))
    scored.groupBy("doc_id")
      .agg(count(lit(1)).cast("bigint").as("n_terms"),
        sum("s_micros").as("score_micros"))
  }

  /** Conjunctive (AND) retrieval from the postings alone: documents
    * containing EVERY query term, with the matched terms' tf mass. One
    * term-pruned postings scan (pushed `tok IN (…)`), one doc_id
    * aggregation — the count-of-matched-terms == #terms trick turns the
    * N-way positional intersection into a single groupBy, which is the
    * shape that survives 100 TB (no self-join per term).
    */
  def conjunctive(spark: SparkSession, root: String,
      terms: Seq[String]): DataFrame = {
    val ts = terms.distinct
    require(ts.nonEmpty, "conjunctive needs at least one term")
    postings(spark, root).where(col("tok").isin(ts: _*))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum("tf").as("tf_sum"))
      .where(col("n_terms") === ts.size)
      .orderBy("doc_id")
  }

  /** Prefix (wildcard `pre*`) retrieval — Lucene's two-stage shape: the
    * query term is EXPANDED against the lexicon first, and the expanded
    * term set then runs as an ordinary multi-term query over the
    * postings.
    *
    * The expansion collects O(matched vocab) terms to the driver —
    * the documented lexicon stats-job pattern (the lexicon is O(vocab),
    * not O(corpus); at 100 TB it is still a broadcast-sized table) —
    * and is CAPPED at `maxExpansions`, failing loudly beyond it exactly
    * as Lucene's `maxDeterminizedStates`/rewrite caps do: an unbounded
    * `a*` expansion would otherwise turn one query into a vocabulary
    * scan of the postings. Materializing the term list (rather than a
    * lexicon semi-join) is what lets `tok IN (…)` push into the
    * postings parquet scan, where token clustering makes row-group
    * stats skip everything else.
    */
  def wildcard(spark: SparkSession, root: String, prefix: String,
      maxExpansions: Int = 64): DataFrame = {
    require(prefix.nonEmpty, "wildcard needs a non-empty prefix")
    val expanded = lexicon(spark, root)
      .where(col("tok").startsWith(prefix))
      .select("tok")
      .limit(maxExpansions + 1)
      .collect().map(_.getString(0)).toSeq
    require(expanded.size <= maxExpansions,
      s"prefix '$prefix*' expands past maxExpansions=$maxExpansions — " +
        "narrow the prefix or raise the cap")
    termSetQuery(spark, root, expanded)
  }

  /** Fuzzy (edit-distance) retrieval — the misspelling-tolerant query an
    * ES `fuzzy`/`match(fuzziness=…)` clause serves. Same two-stage Lucene
    * shape as [[wildcard]]: the query term expands against the LEXICON
    * first (every vocabulary term within `maxEdits` Levenshtein edits),
    * and the expansion then runs as an ordinary multi-term query over the
    * term-pruned postings.
    *
    * Lucene walks a Levenshtein automaton over its term dictionary; the
    * Spark-first equivalent is one pass of the codegen'd `levenshtein`
    * expression over the O(vocab) lexicon — the lexicon is broadcast-sized
    * even at 100 TB (it grows with the vocabulary, not the corpus), so
    * the honest cost is one tiny scan, capped at `maxExpansions` exactly
    * like the prefix rewrite (a high-edit query against a huge vocabulary
    * must fail loudly, not fan out across the postings).
    */
  def fuzzy(spark: SparkSession, root: String, term: String,
      maxEdits: Int = 2, maxExpansions: Int = 64): DataFrame = {
    require(term.nonEmpty, "fuzzy needs a non-empty term")
    require(maxEdits >= 0, s"maxEdits must be >= 0, got $maxEdits")
    val expanded = lexicon(spark, root)
      .where(levenshtein(col("tok"), lit(term)) <= maxEdits)
      .select("tok")
      .limit(maxExpansions + 1)
      .collect().map(_.getString(0)).toSeq
    require(expanded.size <= maxExpansions,
      s"fuzzy '$term'~$maxEdits expands past maxExpansions=$maxExpansions — " +
        "lower maxEdits or raise the cap")
    termSetQuery(spark, root, expanded)
  }

  /** Shared multi-term serve: per-doc distinct-matched-term count + tf
    * mass over an expanded term set. Materializing the term list (rather
    * than a lexicon semi-join) is what lets `tok IN (…)` push into the
    * postings parquet scan.
    */
  private def termSetQuery(spark: SparkSession, root: String,
      expanded: Seq[String]): DataFrame =
    if (expanded.isEmpty) {
      // no matching vocabulary: an empty, correctly-typed result
      postings(spark, root).where(lit(false))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_terms"), sum("tf").as("tf_sum"))
    } else {
      // postings carry one row per (tok, doc), so count(1) counts the
      // DISTINCT matched terms per doc — no distinct aggregation needed
      postings(spark, root).where(col("tok").isin(expanded: _*))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_terms"), sum("tf").as("tf_sum"))
        .orderBy("doc_id")
    }

  /** More-like-this (ES `more_like_this`): the query IS a document — its
    * top `nTerms` terms by tf (tiebreak token, so term selection is
    * deterministic) become an OR query, BM25-ranked over the rest of the
    * index with the source doc excluded. Everything runs from the index
    * alone: term selection is one doc-pruned postings read (O(doc
    * vocabulary) to the driver — the lexicon stats-job pattern; a
    * document's distinct-term count is bounded by its length, not the
    * corpus), and the ranking is the standard [[bm25]] serve plan.
    */
  def moreLikeThis(spark: SparkSession, root: String, docId: Long,
      nTerms: Int = 3, k: Int = 10): DataFrame = {
    require(nTerms > 0 && k > 0, "moreLikeThis needs nTerms and k > 0")
    val terms = postings(spark, root).where(col("doc_id") === docId)
      .orderBy(col("tf").desc, col("tok"))
      .limit(nTerms)
      .select("tok").collect().map(_.getString(0)).toSeq
    require(terms.nonEmpty, s"doc $docId is not in the index (or has no terms)")
    bm25(spark, root, terms, k + 1)
      .where(col("doc_id") =!= docId)
      .orderBy(col("score_micros").desc, col("doc_id"))
      .limit(k)
  }

  /** Arbitrary-length positional phrase (ES `match_phrase`): each term's
    * exploded positions are shifted back by the term's slot, so a phrase
    * occurrence becomes n rows sharing one (doc, start) — and one
    * term-pruned scan plus one (doc, start) aggregation counts exact
    * occurrences with NO per-term self-join (the [[phrase]] join shape
    * is O(n) joins for an n-word phrase; this is the one that survives
    * both 100 TB and long phrases). Per (tok, doc) the positions list is
    * distinct, so after shifting, each (doc, start, tok) contributes at
    * most one row: `count == n` ⇔ every slot aligned. Distinct terms
    * only — a repeated word needs per-slot occurrence accounting this
    * counting argument doesn't cover, so refuse loudly.
    */
  def phraseN(spark: SparkSession, root: String,
      terms: Seq[String]): DataFrame = {
    require(terms.size >= 2, "phraseN needs at least two terms")
    require(terms.distinct.size == terms.size,
      s"phraseN needs distinct terms, got ${terms.mkString(" ")}")
    val slot = terms.zipWithIndex.foldLeft(lit(-1)) {
      case (acc, (t, i)) => when(col("tok") === t, lit(i)).otherwise(acc)
    }
    postings(spark, root).where(col("tok").isin(terms: _*))
      .select(col("doc_id"), col("tok"), explode(col("positions")).as("pos"))
      .select(col("doc_id"), col("tok"), (col("pos") - slot).as("start"))
      .groupBy("doc_id", "start")
      .agg(count(lit(1)).as("n_slots"))
      .where(col("n_slots") === terms.size)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy("doc_id")
  }

  /** Every hit's FIRST occurrence position for one term, straight from
    * the positional postings (the lists are sorted, so element 1 IS the
    * first occurrence) — the locate half of highlighting: the index
    * answers WHERE the match is; only the snippet render touches stored
    * text. Term-pruned postings scan, no text read here. */
  def firstPositions(spark: SparkSession, root: String,
      term: String): DataFrame =
    postings(spark, root).where(col("tok") === term)
      .select(col("doc_id"),
        expr("CAST(element_at(positions, 1) AS BIGINT)").as("first_pos"))

  /** Positional phrase query `"t1 t2"` from the index alone: explode the
    * two terms' position lists and count adjacent pairs per document.
    * Both sides are term-pruned postings scans (tiny after pushdown);
    * the original text is never read — the point of carrying positions.
    */
  def phrase(spark: SparkSession, root: String, t1: String,
      t2: String): DataFrame = {
    val p = postings(spark, root)
    val a = p.where(col("tok") === t1)
      .select(col("doc_id"), explode(col("positions")).as("pa"))
    val b = p.where(col("tok") === t2)
      .select(col("doc_id").as("doc_b"), explode(col("positions")).as("pb"))
    a.join(b, a("doc_id") === b("doc_b") && col("pb") === col("pa") + 1)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy("doc_id")
  }
}
