package graft.sync

import graft.Tables
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sinks.{BulkClient, BulkDoc, Writers}

/** Config-driven sync-job orchestration (SURVEY.md §3.1) — the reference's
  * defining product surface: a job spec names {source query/table, id
  * column, document fields, shard count, batch size, full|incremental|
  * upsert mode}, and a runner composes source → incremental predicate →
  * document construction → deterministic routing/batching → idempotent
  * bulk delivery from the engine's existing pieces.
  *
  * Everything about a planned job is DETERMINISTIC — routing, batch
  * membership, in-batch order — so a replay (task retry, whole-job rerun)
  * delivers byte-identical batches and an idempotent [[BulkClient]] yields
  * exactly-once-equivalent state. Determinism comes from content, never
  * from run-time artifacts: routing is a 60-bit md5 prefix of the id
  * (stable across engines and cluster sizes, like ES `_id` routing), and
  * the per-shard rank that defines batches is computed by the
  * bucket-offset decomposition below, not a sampled range partitioner.
  */
sealed trait SyncSource
object SyncSource {
  /** A named fixture/catalog table. */
  final case class Table(name: String) extends SyncSource
  /** An arbitrary SQL query over the registered views (the reference's
    * jobs are HiveQL strings). */
  final case class Sql(query: String) extends SyncSource
}

sealed trait SyncMode {
  /** The watermark column and FROM literal of a watermarked mode; None
    * for [[SyncMode.Full]]. */
  def watermark: Option[(String, String)] = None
  /** The same mode with its FROM literal rebound (a tracked run's stored
    * watermark); [[SyncMode.Full]] has none to rebind. */
  def withFrom(from: String): SyncMode = this
}
object SyncMode {
  /** Re-sync the whole source. */
  case object Full extends SyncMode
  /** Sync only rows past a watermark: `watermarkCol > fromLit`, where
    * `fromLit` is a SQL literal (e.g. `TIMESTAMP '1997-06-01'`) — the
    * reference's incremental mode [SURVEY §2.B q_filter_incremental].
    * Append-only: an upstream UPDATE re-indexes (same `_id` overwrites,
    * so updates already converge), but an upstream DELETE never reaches
    * the index — that is [[Upsert]]'s job.
    */
  final case class Incremental(watermarkCol: String, fromLit: String) extends SyncMode {
    override def watermark: Option[(String, String)] = Some((watermarkCol, fromLit))
    override def withFrom(from: String): SyncMode = copy(fromLit = from)
  }
  /** Incremental with delete propagation: rows past the watermark whose
    * `deleteWhere` predicate holds become DELETE actions (tombstones) for
    * their `_id`; the rest are index actions, exactly like
    * [[Incremental]]. Composed with a keyed store's `_id` semantics this
    * is the MERGE shape (update ∪ insert ∪ delete — the batch analog of
    * q_merge_upsert, Warehouse.scala): after the run, the served index
    * equals base MERGE changes. The upstream contract is the standard
    * one: deletes are soft (a flag/status column) and bump the watermark,
    * so the incremental scan sees them — hard-deleted rows are invisible
    * to ANY scan-based sync, which is why CDC-less stores use tombstone
    * columns in the first place.
    */
  final case class Upsert(watermarkCol: String, fromLit: String,
      deleteWhere: String) extends SyncMode {
    override def watermark: Option[(String, String)] = Some((watermarkCol, fromLit))
    override def withFrom(from: String): SyncMode = copy(fromLit = from)
  }
}

/** Time-partitioned index assignment ("index-per-period"): docs route to
  * `jobName-<date_format(col, format)>` — the ES operational pattern for
  * corpora that grow by time (one index per month/day, an alias spanning
  * them, old periods immutable). `format` is a Spark `date_format`
  * pattern; keep it to calendar prefixes (`yyyy`, `yyyy-MM`,
  * `yyyy-MM-dd`) so period names sort chronologically as strings.
  */
final case class IndexPeriod(col: String, format: String = "yyyy-MM") {
  require(col.nonEmpty, "period column required")
  require(Set("yyyy", "yyyy-MM", "yyyy-MM-dd")(format),
    s"period format '$format' is not a chronological calendar prefix")
}

/** One field of the output document: rendered as `"name":<expr>` with
  * `expr` a Spark SQL expression; `quoted` wraps the value in JSON quotes.
  * Documents are built with explicit concat, NOT to_json — float
  * formatting differs across engines, and a sync job's docs must be
  * byte-reproducible for replay/verification (SURVEY §7.4).
  */
final case class DocField(name: String, expr: String, quoted: Boolean)

final case class SyncJob(
    name: String,
    source: SyncSource,
    idCol: String,
    fields: Seq[DocField],
    shards: Int = 8,
    batchSize: Int = 500,
    mode: SyncMode = SyncMode.Full,
    /** Dead-letter quarantine for permanently-rejected docs; None (the
      * default) keeps fail-loud-on-first-rejection semantics. */
    deadLetter: Option[graft.sinks.DeadLetterPolicy] = None,
    /** Route docs to time-partitioned indices (`name-<period>`); None
      * (the default) keeps the single-index layout. See [[Rollover]]. */
    period: Option[IndexPeriod] = None) {
  require(name.nonEmpty, "sync job needs a name")
  require(shards > 0 && batchSize > 0, s"bad shards=$shards/batchSize=$batchSize")
  require(fields.nonEmpty, "sync job needs at least one document field")

  /** This job with its dead-letter dir narrowed to `scope` (a `key=value`
    * path segment). Every delivery OVERWRITES its quarantine dir (an
    * idempotent replay of the same slice), so each unit that delivers on
    * its own — a watermark slice, a stream batch, a period index — needs
    * its own dir, or a later unit's (possibly empty) quarantine destroys
    * an earlier one's unreplayed rejects, whose only record is that
    * parquet. The key=value form keeps the whole quarantine readable as
    * ONE partitioned dataset with provenance.
    */
  def scopeDeadLetter(scope: String): SyncJob =
    copy(deadLetter = deadLetter.map(p => p.copy(dir = s"${p.dir}/$scope")))
}

/** What a delivery run reports about itself, counted by accumulators
  * INSIDE the delivery tasks (single execution — no second stats pass).
  * `docs`/`batches` are delivered volume; `resends` and `deadLettered`
  * are delivery HEALTH (how hard the store pushed back); `retriedTasks`
  * counts delivery tasks that ran as a retry/reattempt — when it is
  * nonzero the accumulator-sourced counts are at-least-once (Spark
  * applies them per attempt) and [[exact]] goes false, so an inflated
  * progress report is never mistaken for duplicate delivery (the store
  * state itself stays exactly-once via `_id` idempotency; the
  * oracle-checked [[SyncRunner.stats]] query remains the exact
  * accounting surface). `deadLettered` alone is exact at any retry
  * count: it is read back from the committed quarantine parquet, not
  * an accumulator.
  */
final case class DeliveryCounts(docs: Long, batches: Long, resends: Long = 0,
    deadLettered: Long = 0, retriedTasks: Long = 0) {
  def exact: Boolean = retriedTasks == 0
}

object SyncRunner {

  /** Resolve the job's source and apply its mode predicate. The
    * incremental filter is a plain Catalyst predicate on the source scan,
    * so it pushes down into the parquet read (PushedFilters) — an
    * incremental sync at 100 TB reads only the new partitions, not the
    * corpus.
    */
  def source(spark: SparkSession, sfDir: String, job: SyncJob): DataFrame = {
    val src = job.source match {
      case SyncSource.Table(n) => Tables(spark, sfDir, n)
      case SyncSource.Sql(q)   => Tables.registerAll(spark, sfDir); spark.sql(q)
    }
    job.mode.watermark.fold(src) { case (wm, fromLit) => src.where(expr(s"$wm > $fromLit")) }
  }

  /** Column names the planner owns; a passthrough column may not shadow
    * them. */
  private val PlanCols = Set("_id", "doc", "action", "h", "routing",
    "bkt", "cnt", "off", "rn", "batch_id", "_index")

  /** The job's documents with routing but WITHOUT batch assignment: one
    * row per source row — `_id`, serialized `doc`, `action`, content
    * hash `h`, `routing` shard, plus any `keep` source columns passed
    * through (e.g. the watermark column for tracked runs). This is the
    * half [[mergedState]] needs; [[plan]] layers the batch-rank
    * decomposition on top for delivery.
    */
  def docs(spark: SparkSession, sfDir: String, job: SyncJob,
      keep: Seq[String] = Nil): DataFrame =
    docsFor(source(spark, sfDir, job), job, keep)

  /** [[docs]] over a pre-resolved source `src` — the entry the
    * continuous (micro-batch) path uses, where the incoming batch IS
    * the delta and no watermark predicate applies. Upsert tombstone
    * semantics still ride `job.mode`.
    */
  def docsFor(src: DataFrame, job: SyncJob, keep: Seq[String] = Nil): DataFrame = {
    keep.foreach(k => require(!PlanCols(k),
      s"passthrough column '$k' shadows a planner column"))
    val pieces = job.fields.zipWithIndex.flatMap { case (f, i) =>
      val sep = if (i == 0) "{" else ","
      if (f.quoted)
        Seq(lit(s"""$sep"${f.name}":""""), expr(f.expr).cast("string"), lit("\""))
      else
        Seq(lit(s"""$sep"${f.name}":"""), expr(f.expr).cast("string"))
    } :+ lit("}")
    val doc = concat(pieces: _*)
    val (action, docCol) = job.mode match {
      case SyncMode.Upsert(_, _, delWhere) =>
        val del = expr(delWhere)
        (when(del, lit("delete")).otherwise(lit("index")),
          when(del, lit(null).cast("string")).otherwise(doc))
      case _ => (lit("index"), doc)
    }
    // period jobs carry their target index per doc (the per-action index
    // of an ES _bulk request); single-index jobs are unchanged
    val idxCol = job.period.map(p =>
      concat(lit(job.name + "-"), date_format(col(p.col), p.format)).as("_index"))
    routed(src.select(Seq(col(job.idCol).cast("string").as("_id"), docCol.as("doc"),
      action.as("action")) ++ idxCol.toSeq ++ keep.map(col): _*), job.shards)
  }

  /** Add the content hash `h` and the `routing` shard, both from `_id`:
    * a 60-bit md5 prefix, identical in DuckDB
    * (`CAST('0x'||substr(md5(..),1,15) AS BIGINT)`), never the
    * engine-private hash() — a doc routes to the same shard whichever
    * engine, cluster size or run computes it.
    */
  def routed(docs: DataFrame, shards: Int): DataFrame =
    docs.withColumn("h", expr("CAST(conv(substr(md5(_id), 1, 15), 16, 10) AS BIGINT)"))
      .withColumn("routing", pmod(col("h"), lit(shards.toLong)).cast("int"))

  /** The planned sync: one row per document with its complete delivery
    * coordinates — `_id`, `routing` shard, `batch_id`, serialized `doc`,
    * and `action` (`index`, or `delete` for [[SyncMode.Upsert]]
    * tombstones, whose `doc` is null — a delete ships only its id).
    *
    * Batch assignment needs a per-shard rank. A naive
    * `row_number() OVER (PARTITION BY routing ORDER BY ...)` funnels each
    * shard's whole corpus-fraction through ONE task; instead the rank is
    * decomposed (same trick as q_sink_batched): hash-buckets inside each
    * shard, a running-count offset per (shard, bucket) — a window over the
    * tiny bucket-count table, never over rows — and a parallel per-bucket
    * row_number. Identical output, no row-scale ordered window.
    */
  def plan(spark: SparkSession, sfDir: String, job: SyncJob,
      keep: Seq[String] = Nil): DataFrame =
    planFor(source(spark, sfDir, job), job, keep)

  /** [[plan]] over a pre-resolved source (see [[docsFor]]). */
  def planFor(src: DataFrame, job: SyncJob, keep: Seq[String] = Nil): DataFrame =
    planDocs(docsFor(src, job, keep), job, keep)

  /** The batch-rank decomposition over an ALREADY-built docs stream —
    * split out so alternative doc producers (the CDC action feed, which
    * has no single source to run [[docsFor]] on) batch through the
    * identical machinery. Input must carry `_id, doc, action, h,
    * routing` (+ any `keep` columns).
    */
  def planDocs(docsDf: DataFrame, job: SyncJob,
      keep: Seq[String] = Nil): DataFrame = {
    val base = docsDf
      // 2048 uniform hash-range buckets per shard for the rank decomposition
      .withColumn("bkt", expr(s"h DIV ${1L << 49}"))
    val offs = base.groupBy("routing", "bkt").agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(sum("cnt").over(
        Window.partitionBy("routing").orderBy("bkt")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("routing", "bkt", "off")
    base.join(broadcast(offs), Seq("routing", "bkt"))
      .withColumn("rn", col("off") +
        row_number().over(Window.partitionBy("routing", "bkt").orderBy("h", "_id")))
      .withColumn("batch_id", expr(s"CAST((rn - 1) DIV ${job.batchSize} AS BIGINT)"))
      .select("_id", (Seq("h", "routing", "batch_id", "doc", "action") ++ keep): _*)
  }

  /** Checkable job summary: per (shard, batch) document count, byte
    * volume, and id range — what a sync job reports after a run, and what
    * the DuckDB oracle recomputes for the correctness gate. (`doc_bytes`
    * sums only index actions — a delete ships no body.)
    */
  def stats(planned: DataFrame): DataFrame =
    planned.groupBy(col("routing").cast("bigint").as("shard"), col("batch_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("doc"))).cast("bigint").as("doc_bytes"),
        min("_id").as("first_id"), max("_id").as("last_id"))
      .orderBy("shard", "batch_id")

  /** The served index AFTER an upsert run applies on top of a base sync —
    * the MERGE shape (q_merge_upsert, Warehouse.scala) composed into the
    * sync path: changed ids override base ids, tombstoned ids are gone,
    * unchanged base ids survive. Feed it [[docs]], not [[plan]]: the
    * merge is batch-agnostic, and the batch-rank machinery (bucket
    * offsets + per-bucket windows) would be dead weight in the plan —
    * which is exactly what [[graft.sinks.Writers.foldState]] reads back
    * from a [[graft.sinks.FileBulkClient]] generation stack, since
    * folding also ignores batch boundaries. The anti-join is an
    * equi-join on `_id` (shuffle, narrow id-only build side at 100 TB);
    * no window, no collect.
    */
  def mergedState(base: DataFrame, changes: DataFrame): DataFrame = {
    val survivors = base.select("_id", "h", "routing", "doc")
      .join(changes.select("_id").hint("shuffle_hash"), Seq("_id"), "left_anti")
    changes.where(col("action") === "index").select("_id", "h", "routing", "doc")
      .unionAll(survivors)
  }

  /** Snapshot-diff change capture — the incremental mode for sources with
    * NO watermark column (the reference's incremental sync requires a
    * monotonic column and answers "re-run full mode" otherwise; this is
    * the missing third way). Both inputs are [[docs]]-shaped snapshots of
    * the SAME job at two points in time; the result is the minimal action
    * feed that turns the delivered index from `previous` into `current`:
    *
    *   - `insert` — id only in `current` (ships the new doc)
    *   - `update` — id in both, serialized doc changed (ships the new doc;
    *     an ES `_bulk` treats insert and update as the same `index` op —
    *     the label is kept distinct because replication consumers care)
    *   - `delete` — id only in `previous` (ships id only)
    *
    * Unchanged rows are dropped BEFORE the result materializes — the whole
    * point: a nightly CDC run against a 100 TB source ships only the
    * churn. Plan shape: one full-outer equi-join on `_id`; the `previous`
    * side is pruned to `(_id, md5(doc))` — a 2-narrow-column shuffle, not
    * the doc bodies (at 100 TB the previous snapshot is the retained doc
    * parquet of the last run, co-partitioned by the same id hash, so AQE
    * plans this as a co-located join). Routing/batching for delivery are
    * rebuilt from `_id` alone so delete actions (which have no current-side
    * row) route identically to the run that indexed them.
    */
  def cdcActions(previous: DataFrame, current: DataFrame,
      shards: Int): DataFrame = {
    val prev = previous.select(col("_id"), md5(col("doc")).as("old_fp"))
    val cur = current.select(col("_id"), col("doc"),
      md5(col("doc")).as("new_fp"))
    routed(cur.join(prev, Seq("_id"), "full_outer")
      .withColumn("action",
        when(col("old_fp").isNull, lit("insert"))
          .when(col("new_fp").isNull, lit("delete"))
          .when(col("old_fp") =!= col("new_fp"), lit("update"))
          .otherwise(lit("noop")))
      .where(col("action") =!= "noop"), shards)
      .select("_id", "h", "routing", "action", "doc")
  }

  /** Render a watermark value read back from a query as the SQL literal
    * the NEXT run's pushdown predicate will embed — engine-portable
    * (`TIMESTAMP '...'` / `DATE '...'` forms parse in both Spark and the
    * DuckDB oracle dialect).
    */
  private val WmFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
  private[graft] def wmLiteral(v: Any): String = v match {
    case t: java.time.LocalDateTime => s"TIMESTAMP '${WmFmt.format(t)}'"
    // instant-typed values render in UTC explicitly — Timestamp.toString
    // uses the JVM default zone, which need not be the session zone the
    // literal is re-parsed in (this project pins the session to UTC)
    case t: java.sql.Timestamp =>
      s"TIMESTAMP '${WmFmt.withZone(java.time.ZoneOffset.UTC).format(t.toInstant)}'"
    case t: java.time.Instant =>
      s"TIMESTAMP '${WmFmt.withZone(java.time.ZoneOffset.UTC).format(t)}'"
    case d: java.sql.Date      => s"DATE '$d'"
    case d: java.time.LocalDate => s"DATE '$d'"
    // backslash is an escape character to Spark's default SQL parser
    // (unlike DuckDB's), so it must be doubled alongside the quote
    // doubling — a stored watermark like "a\" would otherwise re-parse
    // as an unterminated (or different) literal next run: silent delta
    // loss and an expr()-injection surface, since the value is
    // data-derived. Prefer numeric/timestamp watermark columns; string
    // watermarks are rendered for SPARK's dialect (the only consumer of
    // stored literals — oracle SQL carries its own constants).
    case s: String => "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"
    case n @ (_: Int | _: Long | _: Short | _: Byte | _: Double | _: Float |
              _: java.math.BigDecimal) => n.toString
    case other => throw new IllegalArgumentException(
      s"unsupported watermark type: ${other.getClass.getName}")
  }

  /** Tracked incremental run: resolve the job's FROM bound from `store`
    * (the configured `fromLit` seeds the very first run), deliver the
    * delta, and — only after a fully successful delivery — advance the
    * stored watermark to the delta's max. The max rides the delivery
    * pass itself as a [[MaxWatermarkAccumulator]] over the passthrough
    * watermark column — no second source scan (the same
    * single-execution discipline as the doc/batch counts), and it
    * covers EXACTLY the rows the delivery shipped, so a row arriving
    * mid-run past the scan simply ships next run; max is idempotent
    * under task retries. An empty delta leaves the watermark untouched.
    * A failed run also leaves it untouched, so the next run re-delivers
    * the same slice and the idempotent `_id` client converges —
    * at-least-once delivery, exactly-once state.
    * Caveat (standard for scan-based CDC): the `>` bound means a row
    * arriving LATER with a watermark ≤ the recorded max is invisible to
    * every future run — use a strictly-increasing watermark column
    * (ingest time, sequence id), not a business date.
    */
  def runTracked(spark: SparkSession, sfDir: String, job: SyncJob,
      store: WatermarkStore, client: BulkClient): DeliveryCounts = {
    val (wmCol, seed) = job.mode.watermark.getOrElse(throw new IllegalArgumentException(
      s"job '${job.name}': tracked runs need a watermarked mode"))
    val resolved = job.copy(mode = job.mode.withFrom(store.get(job.name).getOrElse(seed)))
    val acc = new MaxWatermarkAccumulator
    spark.sparkContext.register(acc, s"graft.sync.${job.name}.wmMax")
    val counts = run(spark, sfDir, resolved, client, wmTrack = Some((wmCol, acc)))
    acc.value.foreach(v => store.set(job.name, wmLiteral(v)))
    counts
  }


  /** Full-sync with index recreate + alias swap (the reference's full
    * mode): build the job's complete output as a NEW version under
    * `indexRoot`, then atomically flip the `current` alias onto it —
    * readers of [[graft.sinks.AliasedIndex.resolve]] never observe a
    * half-written index, and the previous version stays on disk for
    * in-flight readers until GC. Each version also carries the
    * generated index mapping ([[EsMapping.forJob]] → `mapping.json`,
    * written BEFORE the batches — the order a real publisher creates
    * the index with its mapping, then bulk-loads). Returns the
    * published version dir.
    */
  def fullSync(spark: SparkSession, sfDir: String, job: SyncJob,
      indexRoot: String, keep: Int = 2): String =
    publishRun(indexRoot, EsMapping.forJob(spark, sfDir, job),
      source(spark, sfDir, job), job, keep)._1

  /** Publish a new version under `root`: write `mapping` first, then
    * deliver `src` into the version through `wrap(FileBulkClient)`, then
    * flip the alias ([[graft.sinks.AliasedIndex.publish]]). Returns the
    * version dir and the delivery counts. The shared create path of
    * [[fullSync]] and of [[Rollover]]'s period indices.
    */
  private[sync] def publishRun(root: String, mapping: String, src: DataFrame,
      job: SyncJob, keep: Int = 2,
      wrap: BulkClient => BulkClient = identity): (String, DeliveryCounts) = {
    var counts = DeliveryCounts(0, 0)
    val dir = graft.sinks.AliasedIndex.publish(root, keep) { dir =>
      EsMapping.write(dir, mapping)
      counts = runOn(src, job, wrap(graft.sinks.FileBulkClient(dir)))
    }
    (dir, counts)
  }

  /** Execute the job: deliver every planned batch through `client` (via
    * [[graft.sinks.Writers.deliver]] — bounded retry on retryable
    * rejections, loud failure on permanent ones unless the job carries a
    * [[graft.sinks.DeadLetterPolicy]], in which case permanent rejects
    * are quarantined as parquet under the policy's dir and the rest of
    * the batch still ships, within the policy's budget). One shuffle on
    * the routing shard, batches emitted in (shard, batch, h) order from
    * each partition — a replay regenerates the identical (shard,
    * batchIdx, docs) triples, so an idempotent client converges to the
    * same store state no matter how often tasks retry.
    *
    * Returns [[DeliveryCounts]], counted by accumulators INSIDE the
    * delivery tasks — the job's single execution reports its own
    * outcome; no second stats pass re-scanning the source (at 100 TB a
    * separate counting job would double every sync's scan + shuffle).
    * Accumulator counts are exact on a clean run; under task RETRIES
    * they can overcount (Spark action accumulators are at-least-once) —
    * `retriedTasks` records exactly that condition (a delivery task
    * whose attempt number is nonzero), so a reader can tell an inflated
    * progress report from duplicate delivery. The oracle-checked
    * [[stats]] query stays the exact accounting surface.
    */
  def run(spark: SparkSession, sfDir: String, job: SyncJob, client: BulkClient,
      wmTrack: Option[(String, MaxWatermarkAccumulator)] = None): DeliveryCounts =
    runOn(source(spark, sfDir, job), job, client, wmTrack)

  /** [[run]] over a pre-resolved source (see [[docsFor]]) — the shared
    * delivery engine for scan-based and micro-batch syncs.
    */
  def runOn(src: DataFrame, job: SyncJob, client: BulkClient,
      wmTrack: Option[(String, MaxWatermarkAccumulator)] = None): DeliveryCounts =
    runDocs(docsFor(src, job, wmTrack.map(_._1).toSeq), job, client, wmTrack)

  /** CDC end to end: diff the two snapshots ([[cdcActions]]) and deliver
    * ONLY the churn through the standard batch/bulk engine — insert and
    * update actions ship their new doc (an ES `_bulk` `index` op),
    * deletes ship id-only. After this run an idempotent keyed store that
    * held the `previous` snapshot serves exactly the `current` one
    * (SyncSpec pins the convergence against a from-scratch full sync).
    */
  def runCdc(previous: DataFrame, current: DataFrame, job: SyncJob,
      client: BulkClient): DeliveryCounts =
    runDocs(cdcActions(previous, current, job.shards), job, client, None)

  /** The delivery engine over an already-built docs stream (`_id`, `doc`,
    * `action`, `h`, `routing`, + any tracked watermark column): the ONE
    * place planned docs become [[Writers.deliver]] calls. [[runOn]],
    * [[runCdc]], [[replayQuarantine]] and every stream delivery end here;
    * a new delivery path builds a docs frame and calls this, never a
    * partition loop of its own (DeliveryGuardSpec).
    */
  def runDocs(docsDf: DataFrame, job: SyncJob, client: BulkClient,
      wmTrack: Option[(String, MaxWatermarkAccumulator)]): DeliveryCounts = {
    val spark = docsDf.sparkSession
    val batchSize = job.batchSize // avoid serializing the runner object
    // the quarantine is SLICE-scoped: successive runs of a watermarked
    // job cover different deltas (see SyncJob.scopeDeadLetter)
    val deadLetter = job.scopeDeadLetter(
      "slice=" + job.mode.watermark.fold("full")(w => sliceKey(w._2))).deadLetter
    val quarantine = deadLetter.isDefined
    val budget = deadLetter.fold(Long.MaxValue)(_.budget)
    val docsAcc = spark.sparkContext.longAccumulator(s"graft.sync.${job.name}.docs")
    val batchesAcc = spark.sparkContext.longAccumulator(s"graft.sync.${job.name}.batches")
    val resendsAcc = spark.sparkContext.longAccumulator(s"graft.sync.${job.name}.resends")
    val retriedAcc = spark.sparkContext.longAccumulator(s"graft.sync.${job.name}.retriedTasks")
    val wmAcc = wmTrack.map(_._2)
    val keep = wmTrack.map(_._1).toSeq
    // Partition the delivery by (routing, batch_id), not routing alone:
    // a (shard, batch) is the atomic delivery unit (hash partitioning
    // keeps every group whole, the sort keeps groups contiguous, and
    // batch membership was fixed upstream by planDocs), so delivery
    // parallelism is no longer CAPPED at the shard count — 8 shards on a
    // 32-core local (or a 100-node cluster) otherwise leave 3/4 of the
    // cluster idle during the bulk-send stage. Replays still regenerate
    // identical (shard, batchIdx, docs) triples: the triple content
    // depends only on the deterministic plan columns, not on which task
    // flushes it. (r20, opt guide §2.5 — partition count decoupled from
    // a semantic constant.)
    val prepared = planDocs(docsDf, job, keep)
      .repartition(col("routing"), col("batch_id"))
      .sortWithinPartitions("routing", "batch_id", "h", "_id")
      .select("routing", (Seq("batch_id", "_id", "doc", "action") ++ keep): _*)
    // the partition loop, shared by both actions below: consecutive
    // grouping (rows arrive sorted, so each (shard, batch) run is
    // contiguous; buffer bounded by batchSize), quarantined docs emitted
    // as dead-letter rows
    val deliverPartition: Iterator[Row] => Iterator[graft.sinks.DeadLetterRow] =
      (rows: Iterator[Row]) => {
        val tc = org.apache.spark.TaskContext.get()
        // attemptNumber restarts at 0 on a STAGE reattempt (fetch-failure
        // re-execution), so check both — either means this partition may
        // have delivered (and counted) before
        if (tc != null && (tc.attemptNumber() > 0 || tc.stageAttemptNumber() > 0))
          retriedAcc.add(1L)
        var curShard = -1
        var curBatch = -1L
        val buf = scala.collection.mutable.ArrayBuffer.empty[BulkDoc]
        val dead = scala.collection.mutable.ArrayBuffer.empty[graft.sinks.DeadLetterRow]
        def flush(): Unit = if (buf.nonEmpty) {
          val report = Writers.deliver(client, curShard, curBatch.toInt, buf.toSeq,
            quarantine = quarantine)
          docsAcc.add((buf.size - report.deadLettered.size).toLong)
          batchesAcc.add(1L)
          resendsAcc.add(report.resends.toLong)
          if (report.deadLettered.nonEmpty) {
            val byId = buf.iterator.map(b => b.id -> b.doc).toMap
            dead ++= report.deadLettered.map(o => graft.sinks.DeadLetterRow(
              curShard, curBatch, o.id, o.error.getOrElse(""), byId.getOrElse(o.id, None)))
            // a task already past the whole-run budget on its own fails
            // fast; the cross-task total is enforced after the action
            if (dead.size > budget) throw new graft.sinks.DeadLetterBudgetExceeded(
              dead.size.toLong, budget, deadLetter.get.dir)
          }
          buf.clear()
        }
        rows.foreach { r =>
          val sh = r.getInt(0); val b = r.getLong(1)
          if (sh != curShard || b != curBatch) { flush(); curShard = sh; curBatch = b }
          // the ACTION decides delete-vs-index — a null doc on an index
          // action (a doc field expression evaluated to NULL and concat
          // collapsed) must fail loudly, never masquerade as a delete
          val bd =
            if (r.getString(4) == "delete") BulkDoc(r.getString(2), None)
            else {
              require(r.getString(3) != null, s"null document for " +
                s"_id=${r.getString(2)}: a doc field expression evaluated " +
                "to NULL — make the field expression null-safe (coalesce)")
              BulkDoc(r.getString(2), Some(r.getString(3)))
            }
          buf += bd
          wmAcc.foreach(_.add(r.get(5)))
          require(buf.size <= batchSize, s"batch overflow in shard=$sh batch=$b")
        }
        flush()
        dead.iterator
      }
    val quarantined = deadLetter match {
      case None =>
        prepared.foreachPartition { (rows: Iterator[Row]) =>
          deliverPartition(rows).foreach(_ => ())
        }
        0L
      case Some(pol) =>
        // the quarantine lands as PARQUET: the delivery action is the
        // dead-letter write itself (mapPartitions → parquet), so the
        // plan still executes exactly once and rejects are queryable
        // (spark.read.parquet over the policy root, slice-partitioned)
        // for diagnosis and replay
        prepared.mapPartitions(deliverPartition)(
            org.apache.spark.sql.Encoders.product[graft.sinks.DeadLetterRow])
          .write.mode(SaveMode.Overwrite).parquet(pol.dir)
        // budget enforcement reads the COMMITTED quarantine back — an
        // accumulator total here is at-least-once under speculation/
        // stage retries (this is a transformation, not an action) and
        // would fail a healthy run spuriously; the written files are
        // exactly-once by the commit protocol
        val n = Tables.parquet(spark, pol.dir).count()
        if (n > pol.budget)
          throw new graft.sinks.DeadLetterBudgetExceeded(n, pol.budget, pol.dir)
        n
    }
    DeliveryCounts(docsAcc.value, batchesAcc.value, resendsAcc.value,
      quarantined, retriedAcc.value)
  }

  /** Filesystem-safe quarantine partition key for a watermark slice —
    * the FROM literal identifies the delta a run covers, so replays of
    * the same slice overwrite the same quarantine dir while successive
    * slices keep theirs.
    */
  private def sliceKey(fromLit: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(fromLit.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
  }

  /** Re-deliver a dead-letter quarantine once the rejection cause is
    * fixed (mapping updated, doc bug patched) — the replay half of the
    * quarantine contract: nothing a sync sheds is ever lost, it waits
    * under `dlqRoot` until this ships it. The quarantined rows become a
    * docs frame (a null body is a delete action) and deliver through
    * [[runDocs]], so routing, batch membership and in-batch order are the
    * planner's. Rejections during a replay fail LOUDLY: the job runs with
    * no dead-letter policy (no re-quarantine — if the fix didn't take,
    * the operator must know).
    *
    * The same `_id` can sit in several slices with DIFFERENT bodies
    * (the doc changed between the runs that shed it); picking a winner
    * here would be arbitrary, so conflicting bodies fail loudly and the
    * operator filters to the slice they mean (`where`, e.g.
    * `"slice = 'abc123'"`). Point `client` at a FRESH delivery
    * generation (e.g. `FileBulkClient(dir, gen = Some(g))`) — replay
    * batch indices restart at 0 and would otherwise collide with the
    * original run's batch files.
    */
  def replayQuarantine(spark: SparkSession, dlqRoot: String, job: SyncJob,
      client: BulkClient, where: String = "true"): DeliveryCounts = {
    val q = Tables.parquet(spark, dlqRoot).where(expr(where))
    val conflicts = q.groupBy("_id")
      .agg(countDistinct(coalesce(col("doc"), lit("\u0000del"))).as("n"))
      .where(col("n") > 1).select("_id")
    val bad = conflicts.take(5).map(_.getString(0))
    require(bad.isEmpty, s"quarantine holds conflicting bodies for _ids " +
      s"${bad.mkString(", ")} — filter to one slice (the `where` parameter)")
    val docsDf = q.select("_id", "doc").distinct()
      .withColumn("action", when(col("doc").isNull, lit("delete")).otherwise(lit("index")))
    runDocs(routed(docsDf, job.shards), job.copy(deadLetter = None), client, None)
  }
}

/** Max over arbitrary Comparable watermark values (timestamps, dates,
  * numbers, strings — every type [[SyncRunner.wmLiteral]] renders),
  * accumulated inside the delivery tasks so a tracked run learns its
  * delta's max watermark with NO second source scan. Max is idempotent,
  * so task retries and speculative duplicates cannot corrupt it.
  */
final class MaxWatermarkAccumulator
    extends org.apache.spark.util.AccumulatorV2[Any, Option[Any]] {
  private var cur: Any = null
  override def isZero: Boolean = cur == null
  override def copy(): MaxWatermarkAccumulator = {
    val a = new MaxWatermarkAccumulator; a.cur = cur; a
  }
  override def reset(): Unit = cur = null
  override def add(v: Any): Unit = v match {
    case null => ()
    // validate up front: a non-Comparable watermark column (binary,
    // array, struct) or mixed-type values must fail with an actionable
    // config error, not an opaque executor-deep ClassCastException
    case c: Comparable[_] =>
      val greater = cur == null || {
        try c.asInstanceOf[Comparable[Any]].compareTo(cur) > 0
        catch {
          case e: ClassCastException => throw new IllegalArgumentException(
            s"watermark column mixes incomparable value types " +
              s"(${v.getClass.getName} vs ${cur.getClass.getName}) — " +
              "use a single-typed scalar watermark column", e)
        }
      }
      if (greater) cur = v
    case other => throw new IllegalArgumentException(
      s"watermark column values must be Comparable scalars " +
        s"(timestamp/date/number/string), got ${other.getClass.getName} — " +
        "pick a scalar watermark column in the job config")
  }
  override def merge(other: org.apache.spark.util.AccumulatorV2[Any, Option[Any]]): Unit =
    other.value.foreach(add)
  override def value: Option[Any] = Option(cur)
}
