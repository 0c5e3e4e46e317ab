package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode}
import scala.util.control.NonFatal

/** One document of a bulk request: an index action (`doc = Some(body)`)
  * or a delete action (`doc = None`) — the two verbs a keyed document
  * store's bulk API takes from a sync pipeline.
  */
final case class BulkDoc(id: String, doc: Option[String])

/** Per-document outcome of a bulk request, aligned 1:1 with the request.
  * A real `_bulk` response is exactly this shape: each item succeeds or
  * fails independently, and a failure is either RETRYABLE (429 queue
  * pressure, transient node loss) or PERMANENT (mapping conflict,
  * malformed doc) — the delivery loop must retry the former and surface
  * the latter loudly, never conflate them.
  */
final case class DocOutcome(id: String, ok: Boolean,
    retryable: Boolean = false, error: Option[String] = None)

/** Thrown when a batch has documents the store PERMANENTLY rejected (or
  * still rejected after bounded retries) — the job must fail loudly with
  * the rejected ids, not silently drop documents. `cause` carries the
  * last request-level exception (if the failures came from `send`
  * throwing), so an AccessDenied-style infrastructure failure surfaces
  * as itself instead of hiding behind a "docs rejected" label.
  */
final class BulkRejectedException(val shard: Int, val batchIdx: Int,
    val rejected: Seq[DocOutcome], cause: Throwable = null)
  extends RuntimeException(
    s"shard=$shard batch=$batchIdx: ${rejected.size} docs rejected " +
      s"(first: ${rejected.headOption.fold("")(o => s"${o.id}: ${o.error.getOrElse("")}")})",
    cause)

/** Thrown when a run quarantined more documents than its
  * [[DeadLetterPolicy.budget]] tolerates: shedding a handful of poisoned
  * docs keeps a pipeline alive, shedding a flood means the PIPELINE is
  * broken and must stop loudly — the quarantined docs are still on disk
  * for diagnosis.
  */
final class DeadLetterBudgetExceeded(val quarantined: Long, val budget: Long,
    val dir: String)
  extends RuntimeException(
    s"$quarantined docs dead-lettered (budget $budget) under $dir — " +
      "rejection volume indicates a systemic failure, not per-doc poison")

/** Dead-letter configuration for a delivery run: permanently-rejected
  * documents are quarantined (doc + error, parquet under `dir`) instead
  * of failing the whole batch, as long as the TOTAL stays within
  * `budget`. The trade-off is explicit: without a policy one poisoned
  * doc fails the job (nothing ships until an operator intervenes); with
  * one, the other N-K documents deliver and the K rejects land in the
  * quarantine for replay after the mapping/doc bug is fixed.
  */
final case class DeadLetterPolicy(dir: String, budget: Long = 100L) {
  require(budget >= 0, s"bad dead-letter budget=$budget")
}

/** One quarantined document (a parquet row of the dead-letter store):
  * delivery coordinates, the store's error, and the doc body (None for
  * a rejected delete action).
  */
final case class DeadLetterRow(shard: Int, batch_id: Long, _id: String,
    error: String, doc: Option[String])

/** Per-batch delivery report: how many whole-batch resends the retry
  * loop needed, and which docs were quarantined (empty unless the
  * caller enabled quarantining).
  */
final case class DeliveryReport(resends: Int, deadLettered: Seq[DocOutcome])

/** One bulk-delivery target. Implementations MUST be idempotent in
  * (shard, batchIdx): redelivering the same batch (task retry, full job
  * replay) must leave the store with no duplicates — the same contract a
  * real document store gives bulk writers that index by `_id`. `send`
  * returns one [[DocOutcome]] PER INPUT DOC, in order; a thrown exception
  * means the whole request failed (network) and is classified by
  * [[BulkClient.isRetryable]] — transiently retryable by default.
  */
trait BulkClient extends Serializable {
  def send(shard: Int, batchIdx: Int, docs: Seq[BulkDoc]): Seq[DocOutcome]

  /** Classify an exception `send` threw: true = transient (connection
    * reset, timeout — resend the batch), false = permanent
    * (authorization, serialization bug — resending cannot help; the
    * docs are treated as permanently rejected with this exception as
    * the cause). Default: every NonFatal throw is transient, the
    * conservative choice for network-style clients.
    */
  def isRetryable(e: Throwable): Boolean = true
}

/** Filesystem-backed [[BulkClient]]: each batch lands as one JSONL file
  * under a deterministic `shard=NNNNN/batch-MMMMMM.jsonl` name, written
  * to a temp file and atomically renamed. Replays overwrite byte-identical
  * files instead of appending — the offline analog of `_id`-keyed
  * upserts (no network/store in this environment; the ROUTING, BATCHING,
  * and IDEMPOTENCY are the production shape under test).
  *
  * `gen` scopes a delivery GENERATION: `Some(g)` prefixes paths with
  * `gen=GGGG/`, so sequential sync runs against the same index (full
  * load, then incremental upserts) land side by side and
  * [[Writers.foldState]] can replay them in order — the file analog of a
  * store applying bulk requests sequentially. `None` (default) keeps the
  * flat single-run layout. Delete actions serialize as
  * `{"_id":…,"delete":true}`.
  */
case class FileBulkClient(dir: String, gen: Option[Int] = None) extends BulkClient {
  override def send(shard: Int, batchIdx: Int, docs: Seq[BulkDoc]): Seq[DocOutcome] = {
    import java.nio.file.{Files, Paths}
    val base = gen.fold(Paths.get(dir))(g => Paths.get(dir, f"gen=$g%04d"))
    val d = base.resolve(f"shard=$shard%05d")
    Files.createDirectories(d)
    val body = docs.map {
      case BulkDoc(id, Some(doc)) => s"""{"_id":"$id","doc":$doc}"""
      case BulkDoc(id, None)      => s"""{"_id":"$id","delete":true}"""
    }.mkString("", "\n", "\n")
    AliasedIndex.writeAtomically(d.resolve(f"batch-$batchIdx%06d.jsonl"), body.getBytes("UTF-8"))
    docs.map(b => DocOutcome(b.id, ok = true))
  }
}

/** Production writer surface (SURVEY.md §2.A / §7.6). The reference
  * engine's defining half is "bulk-load query results into a keyed store,
  * idempotently, partition-parallel"; the real connector and metastore are
  * environment-blocked, but the writer SHAPES are not:
  *
  *  1. [[writePartitioned]] — warehouse layout: parquet partitioned by
  *     low-cardinality columns, so downstream scans partition-prune.
  *  2. [[deliver]] — the retry loop every bulk call goes through:
  *     retryable rejections resend the WHOLE batch (idempotency makes
  *     redelivery of accepted docs a no-op; see the method doc) with
  *     exponential backoff up to `maxRetries`; permanent rejections or
  *     exhausted retries throw [[BulkRejectedException]]. Because batch
  *     membership is deterministic and the client idempotent, a
  *     redelivery converges to the same store state as a clean run.
  *     Routing, batching and the partition loop that calls it are
  *     [[graft.sync.SyncRunner.runDocs]].
  */
object Writers {

  /** Partitioned warehouse write; returns the path for chaining. */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
      mode: SaveMode = SaveMode.Overwrite): String = {
    df.write.mode(mode).partitionBy(partitionCols: _*).parquet(path)
    path
  }

  /** Bucketed warehouse table: pays the shuffle ONCE at write time so
    * every later equi-join or aggregation on `bucketCols` reads
    * co-located buckets and skips its exchange entirely — the layout for
    * a fact table joined repeatedly on the same key at 100 TB. sortBy
    * keeps each bucket file key-ordered for merge-friendly reads.
    */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
      bucketCols: Seq[String], mode: SaveMode = SaveMode.Overwrite): Unit = {
    require(buckets > 0 && bucketCols.nonEmpty, s"bad buckets=$buckets/$bucketCols")
    df.write.mode(mode)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Deliver one batch through `client` with bounded retry. A retryable
    * rejection (or the request itself throwing a [[BulkClient.isRetryable]]
    * exception — a network-level failure) resends the WHOLE batch after
    * an exponential backoff, up to `maxRetries` resends: the client's
    * required `_id`-idempotency makes redelivering already-accepted docs
    * a no-op, and whole-batch resend keeps batch-shaped clients (one
    * object per (shard, batch), like [[FileBulkClient]]) byte-stable — a
    * per-doc resend would silently mutate batch membership.
    *
    * Permanent rejections (including non-retryable request exceptions):
    * with `quarantine = false` they throw [[BulkRejectedException]]
    * immediately — a sync must never SILENTLY drop documents; with
    * `quarantine = true` they are removed from the batch and returned in
    * the report's `deadLettered` for the caller to persist (the
    * dead-letter path — removal is deterministic in the doc content, so
    * replays still converge byte-identically). Exhausted retries always
    * throw, quarantine or not: retryable-forever is an outage, not
    * per-doc poison. The thrown exception carries the last request-level
    * exception as its CAUSE, so an AccessDenied surfaces as itself.
    * Runs INSIDE executor tasks (called from
    * [[graft.sync.SyncRunner.runDocs]]'s partition loop, the one caller),
    * so the backoff sleeps an executor task thread.
    */
  def deliver(client: BulkClient, shard: Int, batchIdx: Int, docs: Seq[BulkDoc],
      maxRetries: Int = 3, backoffMs: Long = 10,
      quarantine: Boolean = false): DeliveryReport = {
    var attempt = 0
    var remaining = docs
    var lastErr: Throwable = null
    val dead = scala.collection.mutable.ArrayBuffer.empty[DocOutcome]
    while (remaining.nonEmpty) {
      // the send result is validated OUTSIDE the try: a client that
      // itself throws IllegalArgumentException must still be classified
      // as a whole-request failure, not escape the loop
      val attemptResult =
        try Right(client.send(shard, batchIdx, remaining))
        catch { case NonFatal(e) => Left(e) }
      val (outcomes, requestLevel) = attemptResult match {
        case Right(out) =>
          require(out.size == remaining.size,
            s"client returned ${out.size} outcomes for ${remaining.size} docs")
          // a stale request exception from an EARLIER attempt must not
          // become the cause of a later outcome-level rejection — an
          // operator would read a doc-level mapping bug as a network
          // failure
          lastErr = null
          (out, false)
        case Left(e) => // whole-request failure, classified by the client
          lastErr = e
          val retry = client.isRetryable(e)
          (remaining.map(b => DocOutcome(b.id, ok = false, retryable = retry,
            error = Some(e.toString))), true)
      }
      val rejected = outcomes.filter(o => !o.ok && !o.retryable)
      if (rejected.nonEmpty) {
        // only OUTCOME-level rejections from a successful request are
        // per-doc poison; a non-retryable REQUEST failure (auth, client
        // bug) is a systemic outage and must fail loudly even under a
        // quarantine policy — silently dead-lettering the whole corpus
        // batch by batch is exactly the disguised outage the budget
        // exists to prevent
        if (!quarantine || requestLevel)
          throw new BulkRejectedException(shard, batchIdx, rejected, lastErr)
        dead ++= rejected
        val rejIds = rejected.map(_.id).toSet
        remaining = remaining.filterNot(b => rejIds(b.id))
      }
      val failed = outcomes.filter(o => !o.ok && o.retryable)
      if (failed.isEmpty) remaining = Seq.empty // survivors all accepted
      else {
        attempt += 1
        if (attempt > maxRetries)
          throw new BulkRejectedException(shard, batchIdx, failed, lastErr)
        Thread.sleep(backoffMs << (attempt - 1))
      }
    }
    // attempt counts exactly the whole-batch resends the loop performed
    DeliveryReport(attempt, dead.toSeq)
  }

  /** Fold a [[FileBulkClient]] index directory into its served state:
    * generations applied in order (flat layout = generation 0), within a
    * generation every `_id` appears at most once (the planner emits one
    * action per id), later generations override earlier ones, deletes
    * remove. This is the read side of the store analog — what a search
    * over the index would see after the bulk requests applied.
    */
  def foldState(dir: String): Map[String, String] = {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) return Map.empty
    val IdRe = """\{"_id":"([^"]*)",""".r
    def genOf(p: Path): Int = {
      val rel = root.relativize(p).toString
      if (rel.startsWith("gen=")) rel.substring(4, rel.indexOf('/')).toInt else 0
    }
    val walk = Files.walk(root)
    val files =
      try walk.iterator.asScala.filter(p =>
        Files.isRegularFile(p) && p.toString.endsWith(".jsonl")).toSeq
      finally walk.close()
    val state = scala.collection.mutable.Map.empty[String, String]
    files.sortBy(p => (genOf(p), p.toString)).foreach { p =>
      Files.readString(p).linesIterator.filter(_.nonEmpty).foreach { line =>
        val id = IdRe.findFirstMatchIn(line).getOrElse(
          sys.error(s"unparseable line in $p: $line")).group(1)
        if (line.endsWith("\"delete\":true}")) state.remove(id)
        else state(id) = line.substring(line.indexOf("\"doc\":") + 6, line.length - 1)
      }
    }
    state.toMap
  }
}
