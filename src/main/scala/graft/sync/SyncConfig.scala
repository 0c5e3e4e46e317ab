package graft.sync

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import graft.sinks.BulkClient

/** The reference's startup shape (SURVEY §3.1): a CONFIG enumerates sync
  * jobs — each naming its source query/table, id column, document
  * fields, target sizing, and full|incremental|upsert mode — and an
  * orchestration loop executes them. [[fromJson]] parses that config
  * (Jackson, already on Spark's classpath — no new dependency);
  * [[runAll]] is the loop, with per-job failure ISOLATION: one job
  * failing (bad SQL, missing table) must not kill the batch run, it
  * lands as a failed [[JobOutcome]] in the report while the remaining
  * jobs still deliver — the operational contract of a nightly multi-job
  * sync.
  *
  * Config shape:
  * {{{
  * {"jobs": [{
  *   "name": "orders_full",
  *   "table": "orders",                  // or "sql": "SELECT ..."
  *   "idCol": "o_orderkey",
  *   "fields": [{"name": "order_id", "expr": "o_orderkey", "quoted": false}],
  *   "shards": 8, "batchSize": 500,      // optional, defaulted
  *   "mode": "full"                      // or {"watermarkCol": ..., "from": ...}
  * }]}                                   //   (+ "deleteWhere" => upsert)
  * }}}
  */
object SyncConfig {

  /** One job's report in the loop's summary. Volume (docs/batches) plus
    * delivery HEALTH: `resends` (retry-loop whole-batch resends),
    * `deadLettered` (quarantined permanent rejects), and `retriedTasks`
    * — when nonzero the accumulator-sourced volume counts are
    * at-least-once ([[countsExact]] false), so an inflated progress
    * report is never mistaken for duplicate delivery.
    */
  final case class JobOutcome(job: String, ok: Boolean, docs: Long,
      batches: Long, error: Option[String], resends: Long = 0,
      deadLettered: Long = 0, retriedTasks: Long = 0) {
    def countsExact: Boolean = retriedTasks == 0
  }

  def fromJson(json: String): Seq[SyncJob] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(json)
    val jobs = root.get("jobs")
    require(jobs != null && jobs.isArray && jobs.size > 0,
      "sync config needs a non-empty jobs array")
    jobs.elements.asScala.map { j =>
      // every nested lookup goes through a null-checked accessor so a
      // malformed config fails with the FIELD'S name, never an NPE
      def textOf(n: com.fasterxml.jackson.databind.JsonNode,
          f: String, ctx: String): String = {
        val v = n.get(f)
        require(v != null && v.isTextual, s"$ctx field '$f' missing or not a string")
        v.asText
      }
      def str(f: String): String = textOf(j, f, "job")
      val source =
        if (j.has("table")) SyncSource.Table(str("table"))
        else SyncSource.Sql(str("sql"))
      val fields = j.get("fields") match {
        case a if a != null && a.isArray => a.elements.asScala.map { f =>
          DocField(textOf(f, "name", "doc-field"), textOf(f, "expr", "doc-field"),
            f.has("quoted") && f.get("quoted").asBoolean)
        }.toSeq
        case _ => throw new IllegalArgumentException(
          s"job '${str("name")}' needs a fields array")
      }
      val mode = j.get("mode") match {
        case null => SyncMode.Full
        case m if m.isTextual && m.asText == "full" => SyncMode.Full
        case m if m.isObject && m.has("deleteWhere") => SyncMode.Upsert(
          textOf(m, "watermarkCol", "mode"), textOf(m, "from", "mode"),
          textOf(m, "deleteWhere", "mode"))
        case m if m.isObject => SyncMode.Incremental(
          textOf(m, "watermarkCol", "mode"), textOf(m, "from", "mode"))
        case m => throw new IllegalArgumentException(s"bad mode: $m")
      }
      // optional dead-letter quarantine: a dir (required when present)
      // and a bounded budget — the config's knob for "shed poisoned
      // docs instead of failing the job, up to this many"
      val deadLetter =
        if (!j.has("deadLetterDir")) None
        else Some(graft.sinks.DeadLetterPolicy(str("deadLetterDir"),
          budget = if (j.has("deadLetterBudget")) j.get("deadLetterBudget").asLong
                   else 100L))
      SyncJob(str("name"), source, str("idCol"), fields,
        shards = if (j.has("shards")) j.get("shards").asInt else 8,
        batchSize = if (j.has("batchSize")) j.get("batchSize").asInt else 500,
        mode = mode, deadLetter = deadLetter)
    }.toSeq
  }

  /** The orchestration loop. Each job executes its plan ONCE —
    * [[SyncRunner.run]] reports delivered doc/batch counts from
    * accumulators inside the delivery tasks, so there is no separate
    * stats pass re-scanning the source (which would double every job's
    * scan + shuffle at 100 TB; the oracle-checked [[SyncRunner.stats]]
    * remains the exact accounting query). A throwing job is caught
    * ([[NonFatal]] only — an OOM or interrupt must propagate, not be
    * logged as a per-job failure in a possibly-broken JVM), reported,
    * and does not stop the loop.
    *
    * `parallelism` > 1 runs that many jobs CONCURRENTLY on a bounded
    * pool — Spark's scheduler interleaves their stages (fair enough on a
    * shared cluster; each job's internal parallelism is unchanged), the
    * reference's multi-job concurrency knob [SURVEY §3.1, R-low].
    * Outcomes keep the config's job order regardless of completion
    * order, and failure isolation is per-job exactly as in the
    * sequential loop — delivery order across jobs is NOT part of the
    * contract (each job owns its target index), which is what makes the
    * parallel run outcome-identical to the sequential one.
    *
    * With `watermarks` set, watermarked jobs run TRACKED
    * ([[SyncRunner.runTracked]]): the stored per-job watermark overrides
    * the configured FROM bound and advances after each successful
    * delivery — consecutive loop invocations ship only deltas, the
    * nightly-sync steady state. A failed job's watermark stays put (its
    * slice re-delivers next run, idempotently).
    */
  def runAll(spark: SparkSession, sfDir: String, jobs: Seq[SyncJob],
      clientFor: SyncJob => BulkClient, parallelism: Int = 1,
      watermarks: Option[WatermarkStore] = None): Seq[JobOutcome] = {
    require(parallelism >= 1, s"bad parallelism=$parallelism")
    val dupNames = jobs.groupBy(_.name).collect { case (n, js) if js.size > 1 => n }
    require(dupNames.isEmpty, s"duplicate job names: ${dupNames.mkString(", ")}")
    def one(job: SyncJob): JobOutcome =
      try {
        val c = watermarks match {
          case Some(st) if job.mode.watermark.isDefined =>
            SyncRunner.runTracked(spark, sfDir, job, st, clientFor(job))
          case _ => SyncRunner.run(spark, sfDir, job, clientFor(job))
        }
        JobOutcome(job.name, ok = true, docs = c.docs, batches = c.batches,
          error = None, resends = c.resends, deadLettered = c.deadLettered,
          retriedTasks = c.retriedTasks)
      } catch {
        case NonFatal(e) =>
          JobOutcome(job.name, ok = false, docs = 0L, batches = 0L,
            error = Some(e.toString.linesIterator.next()))
      }
    if (parallelism == 1) jobs.map(one)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(parallelism)
      try {
        val futures = jobs.map(job =>
          pool.submit(new java.util.concurrent.Callable[JobOutcome] {
            override def call(): JobOutcome = one(job)
          }))
        futures.map { f =>
          try f.get()
          catch {
            // a fatal error escaped one(); surface the CAUSE (get wraps
            // it in ExecutionException, which is NonFatal and would let
            // a caller misclassify an OOM as a per-job failure) and stop
            // launching the still-queued jobs — a possibly-broken JVM
            // must not keep delivering data in background threads
            case e: java.util.concurrent.ExecutionException =>
              pool.shutdownNow()
              throw Option(e.getCause).getOrElse(e)
          }
        }
      } finally pool.shutdown()
    }
  }
}
