package graft.sync

import graft.{QueryFamily, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-checked surface of the sync-job layer (SURVEY §3.1): the same
  * job spec the runner delivers, reported as per-(shard, batch) stats the
  * DuckDB oracle can recompute. All queries run through
  * [[SyncRunner.plan]]/[[SyncRunner.stats]]/[[SyncRunner.mergedState]] —
  * the exact code paths [[SyncRunner.run]] batches from — so a green row
  * certifies the orchestration layer's routing + batching + incremental
  * predicate + merge semantics, not a lookalike.
  */
object SyncQueries extends QueryFamily {

  /** The demo job: orders → ES-style documents, like the reference's
    * bread-and-butter "sync this Hive table into this index" config.
    * Fields carry the Spark expression; [[duckDoc]] mirrors them in
    * DuckDB dialect (decimal-cast money so the value strings are
    * byte-identical across engines, per q_sink_esdocs).
    */
  private val ordersFields = Seq(
    DocField("order_id", "o_orderkey", quoted = false),
    DocField("status", "o_orderstatus", quoted = true),
    DocField("total", "CAST(o_totalprice AS DECIMAL(12,2))", quoted = false))

  private val duckDoc =
    "concat('{\"order_id\":', CAST(o_orderkey AS VARCHAR), " +
      "',\"status\":\"', o_orderstatus, " +
      "'\",\"total\":', CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR), '}')"

  /** The upsert job's RESHAPED document (an extra field): overlapping ids
    * must visibly carry the change-side doc in the merged state, so the
    * hash gate distinguishes "change wins" from "base wins".
    */
  private val upsertFields = ordersFields :+
    DocField("priority", "o_orderpriority", quoted = true)

  private val duckDocV2 =
    "concat('{\"order_id\":', CAST(o_orderkey AS VARCHAR), " +
      "',\"status\":\"', o_orderstatus, " +
      "'\",\"total\":', CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR), " +
      "',\"priority\":\"', o_orderpriority, '\"}')"

  private def fullJob = SyncJob("orders_full", SyncSource.Table("orders"),
    idCol = "o_orderkey", fields = ordersFields, shards = 8, batchSize = 500)

  private def incrJob = fullJob.copy(name = "orders_incremental",
    mode = SyncMode.Incremental("o_orderdate", "TIMESTAMP '1997-06-01'"))

  private def monthlyJob = fullJob.copy(name = "orders_monthly",
    period = Some(IndexPeriod("o_orderdate", "yyyy-MM")))

  /** Base sync (everything up to the cutoff) + an OVERLAPPING upsert
    * window with tombstones: ids in (1997-03-01, 1997-06-01] exist in
    * both sides (genuine updates — the merged doc must be the v2 shape),
    * ids past 1997-06-01 are inserts, and every seventh id is a
    * tombstone (soft-delete convention: the predicate marks rows whose
    * upstream state is "deleted"; the watermark bump makes the
    * incremental scan see them).
    */
  private def baseJob = SyncJob("orders_base", SyncSource.Sql(
    "SELECT * FROM orders WHERE o_orderdate <= TIMESTAMP '1997-06-01'"),
    idCol = "o_orderkey", fields = ordersFields, shards = 8, batchSize = 500)

  private def upsertJob = SyncJob("orders_upsert", SyncSource.Table("orders"),
    idCol = "o_orderkey", fields = upsertFields, shards = 8, batchSize = 500,
    mode = SyncMode.Upsert("o_orderdate", "TIMESTAMP '1997-03-01'",
      "o_orderkey % 7 = 0"))

  /** CDC fixture — two snapshots of the same logical job with no usable
    * watermark column. The OLD snapshot is the pre-cutoff world; the NEW
    * snapshot models upstream churn deterministically: every 13th id was
    * deleted upstream, every 5th surviving id changed status (an in-place
    * UPDATE — invisible to any date-column watermark, the exact case that
    * breaks the reference's incremental mode), and post-cutoff ids are
    * fresh inserts.
    */
  private def cdcOldJob = SyncJob("orders_cdc", SyncSource.Sql(
    "SELECT * FROM orders WHERE o_orderdate <= TIMESTAMP '1997-06-01'"),
    idCol = "o_orderkey", fields = ordersFields, shards = 8, batchSize = 500)

  private val cdcNewFields = Seq(
    DocField("order_id", "o_orderkey", quoted = false),
    DocField("status",
      "CASE WHEN o_orderkey % 5 = 0 THEN 'U' ELSE o_orderstatus END",
      quoted = true),
    DocField("total", "CAST(o_totalprice AS DECIMAL(12,2))", quoted = false))

  private def cdcNewJob = cdcOldJob.copy(
    source = SyncSource.Sql("SELECT * FROM orders WHERE o_orderkey % 13 <> 0"),
    fields = cdcNewFields)

  /** Deterministic per-doc poison for the dead-letter query: the store
    * permanently rejects every id divisible by `mod` (a mapping-conflict
    * model the oracle can mirror arithmetically) and accepts — and
    * persists — the rest, like a real `_bulk` indexing item by item.
    */
  private final case class ModPoisonClient(inner: graft.sinks.BulkClient, mod: Long)
      extends graft.sinks.BulkClient {
    override def send(shard: Int, batchIdx: Int,
        docs: Seq[graft.sinks.BulkDoc]): Seq[graft.sinks.DocOutcome] = {
      val good = docs.filterNot(_.id.toLong % mod == 0)
      if (good.nonEmpty || docs.isEmpty) inner.send(shard, batchIdx, good)
      docs.map(d =>
        if (d.id.toLong % mod == 0) graft.sinks.DocOutcome(d.id, ok = false,
          retryable = false, error = Some("mapper_parsing_exception"))
        else graft.sinks.DocOutcome(d.id, ok = true))
    }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sync_full" -> ((s, dir) => SyncRunner.stats(SyncRunner.plan(s, dir, fullJob))),

    // The dead-letter surface, oracle-checked end to end: a REAL
    // quarantining delivery runs (poisoned ids shed, survivors persisted
    // idempotently — rerunning overwrites byte-identically), and the
    // query returns the quarantine parquet itself. The oracle recomputes
    // every column from `orders` arithmetically: which ids the poison
    // rule rejects, the shard/batch coordinates they held in the plan,
    // and the doc bodies they carried — so a green row certifies the
    // shed docs keep their full delivery context for replay.
    "q_sync_dlq" -> ((s, dir) => {
      val base = graft.Artifacts.root(s, "q_sync_dlq")
      val job = fullJob.copy(name = "orders_dlq",
        deadLetter = Some(graft.sinks.DeadLetterPolicy(s"$base/dlq", budget = 5000)))
      SyncRunner.run(s, dir, job,
        ModPoisonClient(graft.sinks.FileBulkClient(s"$base/idx"), 97L))
      Tables.parquet(s, s"$base/dlq")
        .select(col("shard").cast("bigint").as("shard"), col("batch_id"),
          col("_id"), col("error"), col("doc"))
        .orderBy("_id")
    }),
    "q_sync_incremental" -> ((s, dir) => SyncRunner.stats(SyncRunner.plan(s, dir, incrJob))),

    // Index↔source reconciliation — the drift check every sync product
    // needs ("does ES still hold what Hive says it should?"): a REAL
    // delivery runs, one batch file is then destroyed (simulated index
    // data loss), and the reconciler — per-shard doc counts plus a
    // content checksum over the 60-bit id-hash — must report exactly
    // that shard out of sync with exactly the predicted deficit. The
    // oracle recomputes both sides arithmetically (it knows which ids
    // the lost batch held), so a green row certifies detection, not
    // just agreement. Scale shape: both sides are map-side-combinable
    // per-shard aggregations (src = the plan stream, idx = the store's
    // own listing); at 100 TB the index side would be the real index's
    // per-shard stats API — the comparison plan is unchanged.
    "q_sync_reconcile" -> ((s, dir) => {
      val base = graft.Artifacts.root(s, "q_sync_reconcile")
      val job = fullJob.copy(name = "orders_reconcile")
      SyncRunner.run(s, dir, job, graft.sinks.FileBulkClient(s"$base/idx"))
      val lost = java.nio.file.Paths.get(
        s"$base/idx/shard=00003/batch-000000.jsonl")
      require(java.nio.file.Files.deleteIfExists(lost),
        s"drift injection expected $lost to exist")
      val h = "CAST(conv(substr(md5(_id), 1, 15), 16, 10) AS BIGINT)"
      val idx = s.read.text(s"$base/idx/shard=*/batch-*.jsonl")
        .withColumn("shard",
          regexp_extract(input_file_name(), "shard=(\\d+)", 1).cast("bigint"))
        .withColumn("_id",
          regexp_extract(col("value"), "\"_id\":\"([^\"]+)\"", 1))
        .groupBy("shard")
        .agg(count(lit(1)).as("idx_docs"),
          sum(expr(s"$h % 1000000")).as("idx_sum"))
      val src = SyncRunner.docs(s, dir, job)
        .select(col("_id"), col("routing").cast("bigint").as("shard"))
        .groupBy("shard")
        .agg(count(lit(1)).as("src_docs"),
          sum(expr(s"$h % 1000000")).as("src_sum"))
      src.join(idx, Seq("shard"), "left")
        .select(col("shard"), col("src_docs"),
          coalesce(col("idx_docs"), lit(0L)).as("idx_docs"),
          (col("src_docs") - coalesce(col("idx_docs"), lit(0L)))
            .as("missing_docs"),
          (col("src_docs") === coalesce(col("idx_docs"), lit(0L)) &&
            col("src_sum") === coalesce(col("idx_sum"), lit(0L)))
            .as("in_sync"))
        .orderBy("shard")
    }),
    // Time-partitioned index routing (Rollover): per-(period index,
    // shard) doc volume of the monthly job — the planner's view of which
    // index every doc lands in. Window-free: one groupBy over the doc
    // set; the period expression rides the same docsFor path
    // rolloverSync delivers from.
    "q_sync_rollover" -> ((s, dir) =>
      SyncRunner.docs(s, dir, monthlyJob)
        .groupBy(col("_index").as("idx"), col("routing").cast("bigint").as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("doc"))).cast("bigint").as("doc_bytes"),
          min("_id").as("first_id"), max("_id").as("last_id"))
        .orderBy("idx", "shard")),
    // Snapshot-diff change capture (no watermark column): the minimal
    // insert/update/delete action feed between two snapshots, stat'd per
    // (action, shard). Green = the diff found EXACTLY the injected churn
    // — upstream deletes, in-place updates a date watermark cannot see,
    // and fresh inserts — and nothing else (unchanged rows never ship).
    "q_sync_cdc" -> ((s, dir) =>
      SyncRunner.cdcActions(
          SyncRunner.docs(s, dir, cdcOldJob),
          SyncRunner.docs(s, dir, cdcNewJob), shards = 8)
        .groupBy(col("action"), col("routing").cast("bigint").as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum(length(col("doc"))), lit(0L)).cast("bigint")
            .as("doc_bytes"),
          min("_id").as("first_id"), max("_id").as("last_id"))
        .orderBy("action", "shard")),

    // Post-merge served-index state after an upsert run applies on a base
    // sync: per-shard doc count/bytes/id-range of base MERGE changes.
    "q_sync_upsert" -> ((s, dir) =>
      SyncRunner.mergedState(
          SyncRunner.docs(s, dir, baseJob), SyncRunner.docs(s, dir, upsertJob))
        .groupBy(col("routing").cast("bigint").as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("doc"))).cast("bigint").as("doc_bytes"),
          min("_id").as("first_id"), max("_id").as("last_id"))
        .orderBy("shard")),
  )

  /** DuckDB mirror of plan+stats. The oracle uses the simple per-shard
    * row_number form; the Spark side's bucket-offset decomposition is
    * rank-identical by construction (and that identity is exactly what
    * the hash gate certifies).
    */
  private def duckSync(where: String): String =
    "WITH src AS (SELECT CAST(o_orderkey AS VARCHAR) AS _id, " +
      s"$duckDoc AS doc FROM orders$where), " +
      "h AS (SELECT _id, doc, CAST(concat('0x', substr(md5(_id), 1, 15)) AS BIGINT) AS h FROM src), " +
      "r AS (SELECT _id, doc, h, h % 8 AS shard FROM h), " +
      "n AS (SELECT shard, _id, doc, row_number() OVER (PARTITION BY shard ORDER BY h, _id) AS rn FROM r) " +
      "SELECT CAST(shard AS BIGINT) AS shard, CAST((rn - 1) // 500 AS BIGINT) AS batch_id, " +
      "count(*) AS n_docs, CAST(sum(length(doc)) AS BIGINT) AS doc_bytes, " +
      "min(_id) AS first_id, max(_id) AS last_id " +
      "FROM n GROUP BY 1, 2 ORDER BY shard, batch_id"

  /** DuckDB mirror of the MERGE: change-side survivors (non-tombstones)
    * plus base ids untouched by the change window, stat'd per shard.
    */
  private def duckUpsert: String =
    "WITH base AS (SELECT CAST(o_orderkey AS VARCHAR) AS _id, " +
      s"$duckDoc AS doc FROM orders WHERE o_orderdate <= TIMESTAMP '1997-06-01'), " +
      "chg AS (SELECT CAST(o_orderkey AS VARCHAR) AS _id, " +
      s"$duckDocV2 AS doc, (o_orderkey % 7 = 0) AS tomb " +
      "FROM orders WHERE o_orderdate > TIMESTAMP '1997-03-01'), " +
      "merged AS (SELECT _id, doc FROM chg WHERE NOT tomb " +
      "UNION ALL SELECT b._id, b.doc FROM base b " +
      "WHERE b._id NOT IN (SELECT _id FROM chg)), " +
      "h AS (SELECT _id, doc, " +
      "CAST(concat('0x', substr(md5(_id), 1, 15)) AS BIGINT) % 8 AS shard FROM merged) " +
      "SELECT CAST(shard AS BIGINT) AS shard, count(*) AS n_docs, " +
      "CAST(sum(length(doc)) AS BIGINT) AS doc_bytes, " +
      "min(_id) AS first_id, max(_id) AS last_id " +
      "FROM h GROUP BY 1 ORDER BY shard"

  def oracles: Map[String, String] = Map(
    "q_sync_full" -> duckSync(""),
    "q_sync_incremental" -> duckSync(" WHERE o_orderdate > TIMESTAMP '1997-06-01'"),
    "q_sync_rollover" -> ("WITH src AS (SELECT CAST(o_orderkey AS VARCHAR) AS _id, " +
      s"$duckDoc AS doc, " +
      "concat('orders_monthly-', strftime(o_orderdate, '%Y-%m')) AS idx FROM orders), " +
      "h AS (SELECT idx, _id, doc, " +
      "CAST(concat('0x', substr(md5(_id), 1, 15)) AS BIGINT) % 8 AS shard FROM src) " +
      "SELECT idx, CAST(shard AS BIGINT) AS shard, count(*) AS n_docs, " +
      "CAST(sum(length(doc)) AS BIGINT) AS doc_bytes, " +
      "min(_id) AS first_id, max(_id) AS last_id " +
      "FROM h GROUP BY 1, 2 ORDER BY idx, shard"),
    "q_sync_upsert" -> duckUpsert,
    // full-outer recompute of the snapshot diff: doc-string inequality is
    // the update test in both engines (same concat, same decimal render)
    "q_sync_cdc" ->
      ("WITH snap_a AS (SELECT CAST(o_orderkey AS VARCHAR) AS _id, " +
        s"$duckDoc AS doc FROM orders WHERE o_orderdate <= TIMESTAMP '1997-06-01'), " +
        "snap_b AS (SELECT CAST(o_orderkey AS VARCHAR) AS _id, " +
        "concat('{\"order_id\":', CAST(o_orderkey AS VARCHAR), " +
        "',\"status\":\"', CASE WHEN o_orderkey % 5 = 0 THEN 'U' ELSE o_orderstatus END, " +
        "'\",\"total\":', CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR), '}') AS doc " +
        "FROM orders WHERE o_orderkey % 13 <> 0), " +
        "d AS (SELECT COALESCE(a._id, b._id) AS _id, b.doc AS doc, " +
        "CASE WHEN a._id IS NULL THEN 'insert' WHEN b._id IS NULL THEN 'delete' " +
        "WHEN a.doc <> b.doc THEN 'update' ELSE 'noop' END AS action " +
        "FROM snap_a a FULL OUTER JOIN snap_b b ON a._id = b._id), " +
        "f AS (SELECT *, CAST(concat('0x', substr(md5(_id), 1, 15)) AS BIGINT) % 8 AS shard " +
        "FROM d WHERE action <> 'noop') " +
        "SELECT action, CAST(shard AS BIGINT) AS shard, count(*) AS n_docs, " +
        "CAST(COALESCE(sum(length(doc)), 0) AS BIGINT) AS doc_bytes, " +
        "min(_id) AS first_id, max(_id) AS last_id " +
        "FROM f GROUP BY 1, 2 ORDER BY action, shard"),
    // both sides recomputed arithmetically: the index side is the plan
    // minus the rows the destroyed (shard 3, batch 0) file held
    "q_sync_reconcile" ->
      ("WITH src AS (SELECT CAST(o_orderkey AS VARCHAR) AS _id FROM orders), " +
        "h AS (SELECT _id, CAST(concat('0x', substr(md5(_id), 1, 15)) AS BIGINT) AS h FROM src), " +
        "r AS (SELECT _id, h, h % 8 AS shard FROM h), " +
        "n AS (SELECT shard, _id, h, row_number() OVER (PARTITION BY shard ORDER BY h, _id) AS rn FROM r), " +
        "sa AS (SELECT CAST(shard AS BIGINT) AS shard, count(*) AS src_docs, " +
        "CAST(sum(h % 1000000) AS BIGINT) AS src_sum FROM n GROUP BY 1), " +
        "ia AS (SELECT CAST(shard AS BIGINT) AS shard, count(*) AS idx_docs, " +
        "CAST(sum(h % 1000000) AS BIGINT) AS idx_sum FROM n " +
        "WHERE NOT (shard = 3 AND (rn - 1) // 500 = 0) GROUP BY 1) " +
        "SELECT s.shard, s.src_docs, COALESCE(i.idx_docs, 0) AS idx_docs, " +
        "s.src_docs - COALESCE(i.idx_docs, 0) AS missing_docs, " +
        "(s.src_docs = COALESCE(i.idx_docs, 0) AND s.src_sum = COALESCE(i.idx_sum, 0)) AS in_sync " +
        "FROM sa s LEFT JOIN ia i ON s.shard = i.shard ORDER BY s.shard"),
    // the quarantine rows, recomputed arithmetically: poisoned ids with
    // the shard/batch coordinates the full plan gave them + doc bodies
    "q_sync_dlq" -> ("WITH src AS (SELECT CAST(o_orderkey AS VARCHAR) AS _id, " +
      s"$duckDoc AS doc FROM orders), " +
      "h AS (SELECT _id, doc, CAST(concat('0x', substr(md5(_id), 1, 15)) AS BIGINT) AS h FROM src), " +
      "r AS (SELECT _id, doc, h, h % 8 AS shard FROM h), " +
      "n AS (SELECT shard, _id, doc, row_number() OVER (PARTITION BY shard ORDER BY h, _id) AS rn FROM r) " +
      "SELECT CAST(shard AS BIGINT) AS shard, CAST((rn - 1) // 500 AS BIGINT) AS batch_id, " +
      "_id, 'mapper_parsing_exception' AS error, doc " +
      "FROM n WHERE CAST(_id AS BIGINT) % 97 = 0 ORDER BY _id"),
  )
}
