package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sinks.{BulkClient, BulkDoc, BulkRejectedException, DeadLetterBudgetExceeded, DeadLetterPolicy, DocOutcome, FileBulkClient, Writers}

/** Attempt counter for [[FlakyClient]], JVM-global: foreachPartition
  * serializes the client per task, so instance state would be a per-task
  * copy — in local mode a static map is the shared failure script.
  */
object FlakyState {
  private val attempts = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.atomic.AtomicInteger]()
  def next(key: String): Int = attempts.computeIfAbsent(key,
    _ => new java.util.concurrent.atomic.AtomicInteger).incrementAndGet()
}

/** Fails the first `failures` sends of every (shard, batch), then
  * delegates — the transient-outage model for the retry loop:
  * `throw` = network-level request failure, `reject` = per-doc 429-style
  * retryable rejections, `permanent` = per-doc mapping-style rejection.
  */
case class FlakyClient(tag: String, inner: BulkClient, failures: Int,
    mode: String) extends BulkClient {
  override def send(shard: Int, batchIdx: Int, docs: Seq[BulkDoc]): Seq[DocOutcome] = {
    val n = FlakyState.next(s"$tag:$shard:$batchIdx")
    if (n > failures) inner.send(shard, batchIdx, docs)
    else mode match {
      case "throw" => throw new RuntimeException(s"transient network failure #$n")
      case "reject" => docs.map(d => DocOutcome(d.id, ok = false,
        retryable = true, error = Some("429 es_rejected_execution")))
      case "permanent" => docs.zipWithIndex.map { case (d, i) =>
        if (i == 0) DocOutcome(d.id, ok = false, retryable = false,
          error = Some("mapper_parsing_exception"))
        else DocOutcome(d.id, ok = true)
      }
    }
  }
}

/** Permanently rejects a fixed id set (the poisoned-doc model: a
  * mapping-conflict/malformed doc the store will never take); the inner
  * client receives — and persists — only the accepted docs, like a real
  * `_bulk` that indexes item-by-item.
  */
case class PoisonClient(inner: BulkClient, poisoned: Set[String]) extends BulkClient {
  override def send(shard: Int, batchIdx: Int, docs: Seq[BulkDoc]): Seq[DocOutcome] = {
    val good = docs.filterNot(d => poisoned(d.id))
    if (good.nonEmpty || docs.isEmpty) inner.send(shard, batchIdx, good)
    docs.map(d =>
      if (poisoned(d.id)) DocOutcome(d.id, ok = false, retryable = false,
        error = Some(s"mapper_parsing_exception: poisoned ${d.id}"))
      else DocOutcome(d.id, ok = true))
  }
}

/** Throws a permanent infrastructure failure (an access-denied style
  * error retrying cannot fix) and classifies it non-retryable via the
  * [[BulkClient.isRetryable]] hook.
  */
case class DeniedClient() extends BulkClient {
  override def send(shard: Int, batchIdx: Int, docs: Seq[BulkDoc]): Seq[DocOutcome] =
    throw new java.nio.file.AccessDeniedException("/index/forbidden")
  override def isRetryable(e: Throwable): Boolean =
    !e.isInstanceOf[java.nio.file.AccessDeniedException]
}

/** The production writer surface (SURVEY.md §2.A / §7.6): partitioned
  * warehouse layout with partition-pruned reads, and the ES-style bulk
  * sink — deterministic hash routing, in-shard ordering, fixed-size
  * batches, and idempotent redelivery. "Exactly-once" here is the
  * replay test: running the whole sink twice leaves the store
  * byte-identical with zero duplicate `_id`s.
  */
class SinkSpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit(); d
  }

  private def docs = spark.read.parquet(s"$sf0001/documents.parquet")

  test("writePartitioned lays out lang=... dirs and reads partition-prune") {
    val dir = tmp("graft_part").toString
    Writers.writePartitioned(docs.select("doc_id", "lang", "n_chars"), dir, Seq("lang"))
    val langs = docs.select("lang").distinct().collect().map(_.getString(0)).sorted
    val subdirs = Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("lang=")).toSeq.sorted
    assert(subdirs == langs.map("lang=" + _).toSeq)
    // a lang-filtered read partition-prunes the scan (inputFiles is
    // pre-pruning, so assert the scan's PartitionFilters instead)
    val one = spark.read.parquet(dir).where(col("lang") === langs.head)
    val p = one.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("lang"), p.take(1500))
    assert(one.count() == docs.where(col("lang") === langs.head).count())
    // round-trip: nothing lost
    assert(spark.read.parquet(dir).count() == docs.count())
  }

  test("bucketed saveAsTable join reads co-located buckets with no exchange") {
    import org.apache.spark.sql.functions.col
    val o = spark.read.parquet(s"$sf0001/orders.parquet")
      .select("o_orderkey", "o_totalprice")
    val l = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    sinks.Writers.writeBucketed(o, "g_orders_b", 4, Seq("o_orderkey"))
    sinks.Writers.writeBucketed(l, "g_lineitem_b", 4, Seq("l_orderkey"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force a non-broadcast join: the point is that the bucket layout
      // replaces the shuffle both sides would otherwise pay
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("g_orders_b").join(spark.table("g_lineitem_b"),
        col("o_orderkey") === col("l_orderkey"))
      val expected = o.join(l, col("o_orderkey") === col("l_orderkey")).count()
      assert(j.count() == expected)
      val p = j.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n${p.take(2000)}")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"))
      // the scan itself advertises the bucket layout
      assert(p.contains("SelectedBucketsCount"), p.take(2000))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS g_orders_b")
      spark.sql("DROP TABLE IF EXISTS g_lineitem_b")
    }
  }

  test("bulk delivery batches in (h, _id) order per shard; replay is duplicate-free") {
    import graft.sync.{DocField, SyncJob, SyncRunner, SyncSource}
    val dir = tmp("graft_bulk").toString
    val in = docs.select(col("doc_id"), to_json(struct(col("lang"), col("n_chars"))).as("doc"))
    val job = SyncJob("bulk", SyncSource.Table("documents"), idCol = "doc_id",
      fields = Seq(DocField("unused", "1", quoted = false)), shards = 4, batchSize = 50)
    // the prebuilt JSON bodies go straight in as a docs frame
    def runOnce(): Unit =
      SyncRunner.runDocs(SyncRunner.routed(in.select(col("doc_id").cast("string").as("_id"),
        col("doc"), lit("index").as("action")), job.shards), job, FileBulkClient(dir), None)

    def snapshot(): Map[String, String] =
      Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
        .filter(Files.isRegularFile(_))
        .map(p => p.toString.stripPrefix(dir) -> new String(Files.readAllBytes(p), "UTF-8"))
        .toMap

    runOnce()
    val first = snapshot()
    def idsOf(body: String): Seq[String] = body.split("\n").toSeq.filter(_.nonEmpty)
      .map(l => l.split("\"_id\":\"")(1).takeWhile(_ != '"'))
    // every input row landed exactly once, across 4 shards
    val ids = first.values.toSeq.flatMap(idsOf)
    assert(ids.size == in.count())
    assert(ids.distinct.size == ids.size, "duplicate _id in bulk output")
    assert(first.keys.map(_.split("/")(1)).toSet.size == 4)
    // batches respect batchSize (only the last batch per shard may be short)
    first.foreach { case (name, body) =>
      val n = body.split("\n").count(_.nonEmpty)
      assert(n <= 50, s"$name has $n docs > batchSize")
    }
    // a shard's batches, read in batch order, follow the 60-bit md5 prefix
    // h, ties broken by _id
    def h(id: String): BigInt = BigInt(java.security.MessageDigest.getInstance("MD5")
      .digest(id.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15), 16)
    first.toSeq.groupBy(_._1.split("/")(1)).foreach { case (shard, files) =>
      val order = files.sortBy(_._1).flatMap(f => idsOf(f._2))
      assert(order == order.sortBy(i => (h(i), i)), s"$shard is not in (h, _id) order")
    }
    // the exactly-once story: full replay (task-retry analog) changes nothing
    runOnce()
    assert(snapshot() == first, "replay must be byte-identical, not appended")
  }

  private def dirSnapshot(dir: String): Map[String, String] =
    Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(p => p.toString.stripPrefix(dir) -> new String(Files.readAllBytes(p), "UTF-8"))
      .toMap

  test("a transiently-failing client converges byte-identically under the retry loop") {
    import graft.sync.{DocField, SyncJob, SyncRunner, SyncSource}
    val job = SyncJob("flaky", SyncSource.Table("orders"), idCol = "o_orderkey",
      fields = Seq(DocField("order_id", "o_orderkey", quoted = false)),
      shards = 2, batchSize = 200)
    val clean = tmp("graft_flaky_clean").toString
    SyncRunner.run(spark, sf0001, job, FileBulkClient(clean))
    // every (shard, batch)'s first TWO requests fail at the network level
    val thrown = tmp("graft_flaky_throw").toString
    SyncRunner.run(spark, sf0001, job,
      FlakyClient("throw-run", FileBulkClient(thrown), failures = 2, mode = "throw"))
    assert(dirSnapshot(thrown) == dirSnapshot(clean),
      "retried delivery must converge to the clean run's bytes")
    // ... and per-doc retryable rejections (429s) converge the same way
    val rejected = tmp("graft_flaky_reject").toString
    SyncRunner.run(spark, sf0001, job,
      FlakyClient("reject-run", FileBulkClient(rejected), failures = 1, mode = "reject"))
    assert(dirSnapshot(rejected) == dirSnapshot(clean))
  }

  test("permanent rejections and exhausted retries fail loudly with the rejected ids") {
    val docs = Seq(BulkDoc("1", Some("{}")), BulkDoc("2", Some("{}")))
    val sink = FileBulkClient(tmp("graft_flaky_perm").toString)
    // a permanent (non-retryable) rejection throws immediately
    val e = intercept[BulkRejectedException] {
      Writers.deliver(FlakyClient("perm", sink, failures = 1, mode = "permanent"),
        shard = 0, batchIdx = 0, docs)
    }
    assert(e.rejected.map(_.id) == Seq("1"))
    assert(e.getMessage.contains("mapper_parsing_exception"))
    // retryable failures beyond maxRetries also surface, with the ids
    val e2 = intercept[BulkRejectedException] {
      Writers.deliver(FlakyClient("exhaust", sink, failures = 10, mode = "reject"),
        shard = 0, batchIdx = 1, docs, maxRetries = 2, backoffMs = 1)
    }
    assert(e2.rejected.map(_.id) == Seq("1", "2"))
  }

  test("a non-retryable request exception surfaces as the failure's cause") {
    val docs = Seq(BulkDoc("1", Some("{}")), BulkDoc("2", Some("{}")))
    // the isRetryable hook classifies AccessDenied as permanent: no
    // pointless resends, and the REAL exception is the cause — not a
    // generic "docs rejected" label hiding an auth problem
    val e = intercept[BulkRejectedException] {
      Writers.deliver(DeniedClient(), shard = 0, batchIdx = 0, docs, backoffMs = 1)
    }
    assert(e.getCause.isInstanceOf[java.nio.file.AccessDeniedException],
      s"cause was ${e.getCause}")
    assert(e.rejected.map(_.id) == Seq("1", "2"))
    // exhausted RETRYABLE throws also carry the last exception as cause
    val e2 = intercept[BulkRejectedException] {
      Writers.deliver(FlakyClient("cause-exhaust",
          FileBulkClient(tmp("graft_cause").toString), failures = 10, mode = "throw"),
        shard = 0, batchIdx = 0, docs, maxRetries = 1, backoffMs = 1)
    }
    assert(e2.getCause != null &&
      e2.getCause.getMessage.contains("transient network failure"))
  }

  test("dead-letter policy quarantines poisoned docs, the rest deliver byte-identically") {
    import graft.sync.{DocField, SyncJob, SyncRunner, SyncSource}
    val fields = Seq(DocField("order_id", "o_orderkey", quoted = false),
      DocField("status", "o_orderstatus", quoted = true))
    val clean = tmp("graft_dlq_clean").toString
    val cleanJob = SyncJob("dlq_clean", SyncSource.Table("orders"),
      idCol = "o_orderkey", fields = fields, shards = 2, batchSize = 100)
    SyncRunner.run(spark, sf0001, cleanJob, FileBulkClient(clean))
    val all = Writers.foldState(clean)
    // poison 3 ids spread across shards
    val poisoned = all.keySet.toSeq.sorted.take(3).toSet
    val dlqDir = tmp("graft_dlq_store").toString
    val outDir = tmp("graft_dlq_out").toString
    val job = cleanJob.copy(name = "dlq_poisoned",
      deadLetter = Some(DeadLetterPolicy(dlqDir, budget = 10)))
    val counts = SyncRunner.run(spark, sf0001, job,
      PoisonClient(FileBulkClient(outDir), poisoned))
    // the other N-K docs delivered, doc-for-doc identical to the clean run
    assert(counts.deadLettered == 3 && counts.docs == all.size - 3)
    assert(Writers.foldState(outDir) == all.removedAll(poisoned),
      "survivors must deliver byte-identically to the clean run")
    // the K rejects are queryable parquet: id, error, and the doc body
    val dlq = spark.read.parquet(dlqDir)
    assert(dlq.count() == 3)
    val rows = dlq.collect().map(r => r.getAs[String]("_id") ->
      (r.getAs[String]("error"), r.getAs[String]("doc"))).toMap
    assert(rows.keySet == poisoned)
    poisoned.foreach { id =>
      assert(rows(id)._1.contains("mapper_parsing_exception"))
      assert(rows(id)._2 == all(id), "the DLQ must carry the rejected doc body")
    }
    // replay: quarantine decisions are content-deterministic
    val snapBefore = dirSnapshot(outDir)
    SyncRunner.run(spark, sf0001, job, PoisonClient(FileBulkClient(outDir), poisoned))
    assert(dirSnapshot(outDir) == snapBefore, "DLQ replay must stay byte-identical")
    assert(spark.read.parquet(dlqDir).count() == 3)
  }

  test("a request-level outage fails loudly even under a quarantine policy") {
    // quarantine is for per-doc poison (outcome-level rejections from a
    // successful request); an auth/infra failure rejecting the WHOLE
    // request must still throw, or a systemic outage silently
    // dead-letters the corpus batch by batch
    val docs = Seq(BulkDoc("1", Some("{}")), BulkDoc("2", Some("{}")))
    val e = intercept[BulkRejectedException] {
      Writers.deliver(DeniedClient(), shard = 0, batchIdx = 0, docs,
        backoffMs = 1, quarantine = true)
    }
    assert(e.getCause.isInstanceOf[java.nio.file.AccessDeniedException])
  }

  test("successive watermark slices keep their quarantines") {
    import graft.sync.{DocField, SyncJob, SyncMode, SyncRunner, SyncSource}
    val dlqDir = tmp("graft_dlq_slices").toString
    def job(from: String) = SyncJob("dlq_slices", SyncSource.Table("orders"),
      idCol = "o_orderkey",
      fields = Seq(DocField("order_id", "o_orderkey", quoted = false)),
      shards = 2, batchSize = 100,
      mode = SyncMode.Incremental("o_orderdate", from),
      deadLetter = Some(DeadLetterPolicy(dlqDir, budget = 10)))
    // night 1: everything past mid-1997, with 2 poisoned docs
    val clean = tmp("graft_dlq_slices_ref").toString
    SyncRunner.run(spark, sf0001, job("TIMESTAMP '1997-06-01'").copy(deadLetter = None),
      FileBulkClient(clean))
    val poisoned = Writers.foldState(clean).keySet.toSeq.sorted.take(2).toSet
    SyncRunner.run(spark, sf0001, job("TIMESTAMP '1997-06-01'"),
      PoisonClient(FileBulkClient(tmp("graft_dlq_slices_o1").toString), poisoned))
    assert(spark.read.parquet(dlqDir).count() == 2)
    // night 2: a later, clean slice — its (empty) quarantine must NOT
    // destroy night 1's, whose parquet is the rejects' only record
    SyncRunner.run(spark, sf0001, job("TIMESTAMP '1998-06-01'"),
      FileBulkClient(tmp("graft_dlq_slices_o2").toString))
    val dlq = spark.read.parquet(dlqDir)
    assert(dlq.count() == 2, "a later slice's run clobbered the earlier quarantine")
    assert(dlq.select("slice").distinct().count() == 1)
  }

  test("dead-letter budget exceeded still fails loudly") {
    import graft.sync.{DocField, SyncJob, SyncRunner, SyncSource}
    val clean = tmp("graft_dlqb_clean").toString
    val cleanJob = SyncJob("dlqb_clean", SyncSource.Table("orders"),
      idCol = "o_orderkey",
      fields = Seq(DocField("order_id", "o_orderkey", quoted = false)),
      shards = 2, batchSize = 100)
    SyncRunner.run(spark, sf0001, cleanJob, FileBulkClient(clean))
    val poisoned = Writers.foldState(clean).keySet.toSeq.sorted.take(5).toSet
    val job = cleanJob.copy(name = "dlqb_poisoned",
      deadLetter = Some(DeadLetterPolicy(tmp("graft_dlqb_store").toString, budget = 2)))
    // 5 quarantines > budget 2: the run must fail loudly — either the
    // post-action total check or a task's local fast-fail (then wrapped
    // by Spark), so scan the cause chain
    val e = intercept[Exception] {
      SyncRunner.run(spark, sf0001, job,
        PoisonClient(FileBulkClient(tmp("graft_dlqb_out").toString), poisoned))
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .take(10).toSeq
    assert(chain.exists(_.isInstanceOf[DeadLetterBudgetExceeded]),
      s"expected DeadLetterBudgetExceeded in: $chain")
  }

  test("replaying the quarantine after the fix converges the index to the clean state") {
    import graft.sync.{DocField, SyncJob, SyncRunner, SyncSource}
    val fields = Seq(DocField("order_id", "o_orderkey", quoted = false),
      DocField("status", "o_orderstatus", quoted = true))
    val job = SyncJob("dlq_replay", SyncSource.Table("orders"),
      idCol = "o_orderkey", fields = fields, shards = 2, batchSize = 100)
    val clean = tmp("graft_replay_clean").toString
    SyncRunner.run(spark, sf0001, job, FileBulkClient(clean))
    val all = Writers.foldState(clean)
    val poisoned = all.keySet.toSeq.sorted.take(3).toSet
    // night run: 3 docs shed into the quarantine, the rest deliver
    val dlqDir = tmp("graft_replay_dlq").toString
    val outDir = tmp("graft_replay_out").toString
    SyncRunner.run(spark, sf0001,
      job.copy(deadLetter = Some(DeadLetterPolicy(dlqDir, budget = 10))),
      PoisonClient(FileBulkClient(outDir, gen = Some(0)), poisoned))
    assert(Writers.foldState(outDir) == all.removedAll(poisoned))
    // the mapping bug is fixed (plain client now): replay the quarantine
    // into the NEXT delivery generation — nothing the sync shed is lost
    val counts = SyncRunner.replayQuarantine(spark, dlqDir, job,
      FileBulkClient(outDir, gen = Some(1)))
    assert(counts.docs == 3 && counts.batches > 0 && counts.exact, counts.toString)
    val replayFiles = dirSnapshot(outDir).keys.count(_.startsWith("/gen=0001/"))
    assert(counts.batches == replayFiles,
      s"${counts.batches} batches counted, $replayFiles batch files written")
    assert(Writers.foldState(outDir) == all,
      "replayed quarantine must converge the served state to the clean run")
    // a replay that STILL rejects fails loudly — no silent re-quarantine
    // (thrown in an executor task, so Spark wraps it: scan the chain)
    val still = intercept[Exception] {
      SyncRunner.replayQuarantine(spark, dlqDir, job,
        PoisonClient(FileBulkClient(tmp("graft_replay_again").toString), poisoned))
    }
    assert(Iterator.iterate[Throwable](still)(_.getCause).takeWhile(_ != null)
      .take(10).exists(_.isInstanceOf[BulkRejectedException]), still.toString)
    // conflicting bodies for one _id across slices demand an explicit
    // slice filter instead of an arbitrary winner
    val conflictRoot = tmp("graft_replay_conflict").toString
    import spark.implicits._
    Seq((0, 0L, "k1", "err", "{\"v\":1}"))
      .toDF("shard", "batch_id", "_id", "error", "doc")
      .write.parquet(s"$conflictRoot/slice=aaa")
    Seq((0, 0L, "k1", "err", "{\"v\":2}"))
      .toDF("shard", "batch_id", "_id", "error", "doc")
      .write.parquet(s"$conflictRoot/slice=bbb")
    val e = intercept[IllegalArgumentException] {
      SyncRunner.replayQuarantine(spark, conflictRoot, job,
        FileBulkClient(tmp("graft_replay_c_out").toString))
    }
    assert(e.getMessage.contains("conflicting bodies"), e.getMessage)
    // ... and the slice filter resolves it
    val c2 = SyncRunner.replayQuarantine(spark, conflictRoot, job,
      FileBulkClient(tmp("graft_replay_c_out2").toString), where = "slice = 'aaa'")
    assert(c2.docs == 1)
  }

  test("delivery health surfaces in the run counts and job outcomes") {
    import graft.sync.{DocField, SyncConfig, SyncJob, SyncRunner, SyncSource}
    val job = SyncJob("health", SyncSource.Table("orders"), idCol = "o_orderkey",
      fields = Seq(DocField("order_id", "o_orderkey", quoted = false)),
      shards = 2, batchSize = 200)
    // every (shard, batch)'s first send rejects retryably (429 pressure):
    // delivery succeeds, and the resend pressure is visible in the counts
    val counts = SyncRunner.run(spark, sf0001, job,
      FlakyClient("health-run", FileBulkClient(tmp("graft_health").toString),
        failures = 1, mode = "reject"))
    assert(counts.resends >= counts.batches && counts.batches > 0,
      s"one 429 round per batch must surface as resends: $counts")
    assert(counts.deadLettered == 0 && counts.retriedTasks == 0 && counts.exact)
    // ... and through the orchestration loop into the JobOutcome
    val outcomes = SyncConfig.runAll(spark, sf0001, Seq(job.copy(name = "health2")),
      j => FlakyClient("health-all", FileBulkClient(tmp("graft_health2").toString),
        failures = 1, mode = "reject"))
    assert(outcomes.head.ok && outcomes.head.resends >= outcomes.head.batches)
    assert(outcomes.head.countsExact, "no task retried: counts are exact")
  }
}
