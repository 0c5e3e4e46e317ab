package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.sinks.Writers
import graft.sync._

/** The continuous delivery path (the reference's cron loop as a
  * stream): each micro-batch rides the same plan → route → batch →
  * idempotent-deliver engine as a scan-based sync, generation-keyed by
  * batchId, watermark advanced after each delivered batch. The contract
  * under test is the streaming version of SinkSpec's resume pattern:
  * kill between a batch's delivery and its commit, restart from the
  * checkpoint, and the served state must be byte-identical to an
  * uninterrupted run's.
  */
class ContinuousSyncSpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit(); d.toString
  }

  private def dirSnapshot(dir: String): Map[String, String] =
    Files.walk(Paths.get(dir)).iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(p => p.toString.stripPrefix(dir) -> new String(Files.readAllBytes(p), "UTF-8"))
      .toMap

  private val fields = Seq(
    DocField("id", "id", quoted = false),
    DocField("value", "value", quoted = true))

  test("micro-batches deliver through the batch engine; upserts/deletes and the watermark converge") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String, Long, Boolean)]
    val df = input.toDF().toDF("id", "value", "ver", "deleted")
    val job = SyncJob("cs_upsert", SyncSource.Table("unused"), idCol = "id",
      fields = fields, shards = 2, batchSize = 10,
      mode = SyncMode.Upsert("ver", "0", "deleted"))
    val store = new WatermarkStore(tmp("graft_cs_wm"))
    val idx = tmp("graft_cs_idx")
    val q = ContinuousSync.start(df, job, idx, store, tmp("graft_cs_ckpt"))
    try {
      input.addData((1L, "a", 1L, false), (2L, "b", 1L, false))
      q.processAllAvailable()
      assert(Writers.foldState(idx) == Map(
        "1" -> """{"id":1,"value":"a"}""", "2" -> """{"id":2,"value":"b"}"""))
      assert(store.get("cs_upsert").contains("1"),
        s"watermark must ride the delivered batch: ${store.get("cs_upsert")}")
      // batch 2: an update, an insert, and a tombstone — the MERGE shape
      // flowing through generations
      input.addData((2L, "b2", 2L, false), (3L, "c", 2L, false), (1L, "", 2L, true))
      q.processAllAvailable()
      assert(Writers.foldState(idx) == Map(
        "2" -> """{"id":2,"value":"b2"}""", "3" -> """{"id":3,"value":"c"}"""))
      assert(store.get("cs_upsert").contains("2"))
      // batch 3 carries only LATE rows (ver below the stored mark): the
      // row still delivers, but the watermark must not regress — a
      // regressed store would make the batch-mode handoff re-ship the
      // whole regressed window
      input.addData((4L, "late", 1L, false))
      q.processAllAvailable()
      assert(Writers.foldState(idx).keySet == Set("2", "3", "4"))
      assert(store.get("cs_upsert").contains("2"),
        s"late batch regressed the watermark: ${store.get("cs_upsert")}")
    } finally q.stop()
  }

  test("streamed poison lands in per-batch quarantines and replays after the fix") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String, Long, Boolean)]
    val df = input.toDF().toDF("id", "value", "ver", "deleted")
    val dlqRoot = tmp("graft_cs_dlq")
    val job = SyncJob("cs_dlq", SyncSource.Table("unused"), idCol = "id",
      fields = fields, shards = 2, batchSize = 10,
      mode = SyncMode.Incremental("ver", "0"),
      deadLetter = Some(graft.sinks.DeadLetterPolicy(dlqRoot, budget = 5)))
    val idx = tmp("graft_cs_dlq_idx")
    // the store permanently rejects id 2, whichever batch carries it
    val q = ContinuousSync.start(df, job,
      idx, new WatermarkStore(tmp("graft_cs_dlq_wm")), tmp("graft_cs_dlq_ckpt"),
      wrap = c => PoisonClient(c, Set("2")))
    try {
      input.addData((1L, "a", 1L, false), (2L, "b", 1L, false))
      q.processAllAvailable()
      input.addData((3L, "c", 2L, false))
      q.processAllAvailable()
    } finally q.stop()
    // the shed doc is out of the served state but fully recorded, in the
    // batch-scoped dir (run() overwrites its DLQ dir on replay — without
    // batch scoping, batch 1's empty quarantine would clobber batch 0's)
    assert(Writers.foldState(idx).keySet == Set("1", "3"))
    val gens = Files.list(Paths.get(dlqRoot)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("batch=")).toSeq.sorted
    assert(gens == Seq("batch=0", "batch=1"),
      s"each micro-batch must own its quarantine dir, got $gens")
    val shed = spark.read.parquet(dlqRoot)
    assert(shed.count() == 1 &&
      shed.head().getAs[String]("_id") == "2" &&
      shed.head().getAs[String]("doc") == """{"id":2,"value":"b"}""")
    // the mapping bug is fixed: replay the quarantine into the next
    // generation — the streamed shed doc is never lost
    SyncRunner.replayQuarantine(spark, dlqRoot, job,
      graft.sinks.FileBulkClient(idx, gen = Some(99)))
    assert(Writers.foldState(idx) == Map(
      "1" -> """{"id":1,"value":"a"}""", "2" -> """{"id":2,"value":"b"}""",
      "3" -> """{"id":3,"value":"c"}"""))
  }

  test("kill between delivery and commit, restart from checkpoint: byte-identical to uninterrupted") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String, Long, Boolean)]
    val df = input.toDF().toDF("id", "value", "ver", "deleted")
    val job = SyncJob("cs_resume", SyncSource.Table("unused"), idCol = "id",
      fields = fields, shards = 2, batchSize = 5,
      mode = SyncMode.Incremental("ver", "0"))
    val store = new WatermarkStore(tmp("graft_cs_r_wm"))
    val idx = tmp("graft_cs_r_idx")
    val ckpt = tmp("graft_cs_r_ckpt")
    val q1 = ContinuousSync.start(df, job, idx, store, ckpt)
    try {
      input.addData((1L, "a", 1L, false), (2L, "b", 1L, false))
      q1.processAllAvailable()
      input.addData((3L, "c", 2L, false), (4L, "d", 2L, false))
      q1.processAllAvailable()
    } finally q1.stop()
    val uninterrupted = dirSnapshot(idx)
    assert(uninterrupted.keys.exists(_.contains("gen=0001")),
      s"expected a batch-1 generation in ${uninterrupted.keys}")
    // simulate the at-least-once crash window: batch 1 DELIVERED but its
    // offset never committed (commit marker gone), and the delivery was
    // torn mid-write (its generation dir lost). foreachBatch replays
    // batch 1 with the same batchId on restart.
    Files.delete(Paths.get(ckpt, "commits", "1"))
    // ... and its Hadoop local-FS checksum sidecar, or the replay's
    // commit rename trips over the stale crc
    Files.deleteIfExists(Paths.get(ckpt, "commits", ".1.crc"))
    Files.walk(Paths.get(idx)).iterator().asScala.toSeq.reverse
      .filter(_.toString.contains("gen=0001")).foreach(Files.delete(_))
    assert(dirSnapshot(idx) != uninterrupted, "the crash must have torn the index")
    val q2 = ContinuousSync.start(df, job, idx, store, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    assert(dirSnapshot(idx) == uninterrupted,
      "replayed batch must restore the uninterrupted run's bytes exactly")
    assert(Writers.foldState(idx).keySet == Set("1", "2", "3", "4"))
    assert(store.get("cs_resume").contains("2"),
      "watermark re-advance on replay is idempotent")
  }
}
