package graft.sync

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, max}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.sinks.FileBulkClient

/** The reference's cron loop, made a stream (SURVEY §3.1 / §2.J): a
  * Structured-Streaming delivery path where each micro-batch goes
  * through the SAME plan → route → batch → idempotent-deliver engine as
  * a scan-based sync ([[SyncRunner.runOn]]), keyed by the stream's
  * batchId.
  *
  * Exactly-once-equivalent by construction, from three pieces:
  *
  *  1. `foreachBatch` is at-least-once: after a crash BETWEEN delivering
  *     a batch and committing its offset, restart re-executes that batch
  *     with the SAME batchId and the same rows (the checkpoint pins
  *     offsets before execution).
  *  2. The delivery generation is the batchId
  *     (`FileBulkClient(gen = batchId)`), and batch membership/routing
  *     is content-deterministic — so the replay overwrites the same
  *     per-generation files byte-identically instead of appending.
  *  3. [[graft.sinks.Writers.foldState]] folds generations in order, so
  *     the served state after any crash/restart equals an uninterrupted
  *     run's.
  *
  *  The job's [[WatermarkStore]] advances AFTER each delivered batch
  *  (max of the watermark column, riding the delivery pass as an
  *  accumulator — the [[SyncRunner.runTracked]] discipline). The store
  *  is shared with the scan-based path, so an operator can stop the
  *  stream and let the nightly incremental job take over from the last
  *  streamed watermark — continuous and batch modes are the same
  *  pipeline at different trigger rates.
  */
object ContinuousSync {

  /** Start delivering `stream` (a STREAMING DataFrame of the job's
    * source row shape — the mode's watermark predicate does not apply,
    * the stream IS the delta; Upsert tombstone semantics do). Returns
    * the running query; stop it with `.stop()`, resume it by calling
    * `start` again with the same `checkpointDir`.
    *
    * Each micro-batch delivers into a [[FileBulkClient]] generation keyed
    * by its batchId; `wrap` customises that client (credentials, failure
    * injection) while keeping the batchId-keyed idempotency contract.
    *
    * `gate` optionally filters each micro-batch before it enters the
    * delivery engine (e.g. [[DedupGate.filterBatch]] shedding near-dups
    * of ever-seen docs). The gate must be deterministic per
    * (rows, batchId) and idempotent on replay — any state it keeps must
    * be batchId-scoped like the delivery generation, or a replayed
    * batch would deliver different survivors than the crashed attempt.
    */
  def start(stream: DataFrame, job: SyncJob, indexRoot: String,
      store: WatermarkStore, checkpointDir: String,
      wrap: graft.sinks.BulkClient => graft.sinks.BulkClient = identity,
      gate: Option[(DataFrame, Long) => DataFrame] = None): StreamingQuery =
    deliverStream(stream, job, "sync", store, checkpointDir, gate) {
      (batch, batchJob, batchId, track) =>
        require(batchId <= Int.MaxValue, s"batchId $batchId overflows the generation key")
        SyncRunner.runOn(batch, batchJob,
          wrap(FileBulkClient(indexRoot, gen = Some(batchId.toInt))), track)
    }

  /** The one `foreachBatch` loop behind every sync stream (this object's
    * [[start]] and [[Rollover.startContinuous]]). Per micro-batch it
    * applies the gate, scopes the job's dead-letter dir to the batch
    * (each delivery overwrites its quarantine dir, so batch N must not
    * clobber batch N-1's), tracks the watermark column's max in an
    * accumulator riding the delivery pass, calls `deliver`, and — only
    * after the whole batch delivered — advances `store` monotonically. A
    * failed batch leaves the watermark put, exactly like a failed tracked
    * run (the replay converges idempotently).
    */
  private[sync] def deliverStream(stream: DataFrame, job: SyncJob, kind: String,
      store: WatermarkStore, checkpointDir: String,
      gate: Option[(DataFrame, Long) => DataFrame])(
      deliver: (DataFrame, SyncJob, Long, Option[(String, MaxWatermarkAccumulator)]) => Unit):
      StreamingQuery = {
    require(stream.isStreaming, s"job '${job.name}': a $kind stream needs a streaming DataFrame")
    val wmCol = job.mode.watermark.map(_._1)
    stream.writeStream
      .queryName(s"graft-$kind-${job.name}")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        val batch = gate.fold(batch0)(g => g(batch0, batchId))
        val spark = batch.sparkSession
        val track = wmCol.map { c =>
          val acc = new MaxWatermarkAccumulator
          spark.sparkContext.register(acc, s"graft.$kind.${job.name}.stream.wmMax.b$batchId")
          if (gate.isDefined) preGateMax(batch0, c, acc)
          (c, acc)
        }
        deliver(batch, job.scopeDeadLetter(s"batch=$batchId"), batchId, track)
        track.foreach { case (_, acc) => advanceMonotone(spark, store, job.name, acc) }
      }
      .start()
  }

  /** Stop a gated stream and compact the gate's signature store in one
    * motion — the operator stop path. Ordering is the whole point: the
    * store may only compact while no batch is in flight, and only up to
    * the last batch that can no longer replay ([[DedupGate.compact]]'s
    * contract); stopping first and letting [[DedupGate.compactSettled]]
    * pick the safe bound makes the call impossible to misuse. Without
    * this, a long-lived stream accretes one store partition per
    * micro-batch and every probe pays the full listing tax.
    */
  def stopAndCompact(query: StreamingQuery, gate: DedupGate,
      spark: org.apache.spark.sql.SparkSession): Unit = {
    query.stop()
    query.awaitTermination()
    gate.compactSettled(spark)
  }

  /** One max-agg over the PRE-GATE batch into the watermark accumulator:
    * a gate sheds rows before delivery, but the stream consumed the whole
    * batch — the watermark must cover shed docs too, or the documented
    * batch-mode handoff re-scans their window through the ungated path
    * and re-ships them. Max is idempotent, so riding alongside the
    * delivery pass's per-row tracking is safe.
    */
  private def preGateMax(batch0: DataFrame, c: String,
      acc: MaxWatermarkAccumulator): Unit = {
    val m = batch0.agg(max(col(c))).head().get(0)
    if (m != null) acc.add(m)
  }

  /** Advance `store`'s watermark to the accumulator's max, only FORWARD:
    * a micro-batch of late rows has a max below the stored mark, and
    * regressing the store would make the batch-mode handoff re-ship the
    * regressed window. The comparison evaluates both literals in Spark
    * itself — the same dialect that will re-parse them.
    */
  private def advanceMonotone(spark: org.apache.spark.sql.SparkSession,
      store: WatermarkStore, name: String, acc: MaxWatermarkAccumulator): Unit =
    acc.value.foreach { v =>
      val lit = SyncRunner.wmLiteral(v)
      val advance = store.get(name).forall { cur =>
        cur != lit && spark.sql(s"SELECT ($lit) > ($cur)").head().getBoolean(0)
      }
      if (advance) store.set(name, lit)
    }
}
