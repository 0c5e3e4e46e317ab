package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sinks.FileBulkClient
import graft.sync._

/** The sync-job orchestration layer (SURVEY §3.1): a config names the
  * source, id column, doc fields, shards, batch size, and full|incremental
  * mode; the runner delivers deterministic batches through an idempotent
  * bulk client. The contract under test: replay is byte-identical, every
  * source row lands exactly once, batch membership matches the
  * oracle-checked stats query, and incremental mode ships only rows past
  * the watermark.
  */
class SyncSpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit(); d
  }

  private val fields = Seq(
    DocField("order_id", "o_orderkey", quoted = false),
    DocField("status", "o_orderstatus", quoted = true),
    DocField("total", "CAST(o_totalprice AS DECIMAL(12,2))", quoted = false))

  private def fullJob = SyncJob("orders_full", SyncSource.Table("orders"),
    idCol = "o_orderkey", fields = fields, shards = 4, batchSize = 50)

  private def snapshot(dir: String): Map[String, String] =
    Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(p => p.toString.stripPrefix(dir) -> new String(Files.readAllBytes(p), "UTF-8"))
      .toMap

  private def idsOf(snap: Map[String, String]): Seq[String] =
    snap.values.flatMap(_.split("\n")).filter(_.contains("\"_id\":\""))
      .map(l => l.split("\"_id\":\"")(1).takeWhile(_ != '"')).toSeq

  test("full sync delivers every row exactly once and replay is byte-identical") {
    val dir = tmp("graft_sync_full").toString
    SyncRunner.run(spark, sf0001, fullJob, FileBulkClient(dir))
    val first = snapshot(dir)
    val ids = idsOf(first)
    val nOrders = spark.read.parquet(s"$sf0001/orders.parquet").count()
    assert(ids.size == nOrders)
    assert(ids.distinct.size == ids.size, "duplicate _id in sync output")
    // all 4 shards materialized, no batch exceeds batchSize
    assert(first.keys.map(_.split("/")(1)).toSet.size == 4)
    first.foreach { case (name, body) =>
      val n = body.split("\n").count(_.nonEmpty)
      assert(n <= 50, s"$name has $n docs > batchSize")
    }
    SyncRunner.run(spark, sf0001, fullJob, FileBulkClient(dir))
    assert(snapshot(dir) == first, "replay must be byte-identical")
  }

  test("delivered batches match the oracle-checked stats query") {
    val dir = tmp("graft_sync_stats").toString
    SyncRunner.run(spark, sf0001, fullJob, FileBulkClient(dir))
    val stats = SyncRunner.stats(SyncRunner.plan(spark, sf0001, fullJob))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val files = snapshot(dir).map { case (name, body) =>
      // "/shard=NNNNN/batch-MMMMMM.jsonl"
      val parts = name.split("/").filter(_.nonEmpty)
      val shard = parts(0).stripPrefix("shard=").toLong
      val batch = parts(1).stripPrefix("batch-").stripSuffix(".jsonl").toLong
      (shard, batch) -> body.split("\n").count(_.nonEmpty).toLong
    }
    assert(files == stats, "per-(shard,batch) doc counts must match the stats query")
  }

  test("incremental sync ships only rows past the watermark, idempotently") {
    val dir = tmp("graft_sync_incr").toString
    val job = fullJob.copy(name = "orders_incr",
      mode = SyncMode.Incremental("o_orderdate", "TIMESTAMP '1997-06-01'"))
    SyncRunner.run(spark, sf0001, job, FileBulkClient(dir))
    val first = snapshot(dir)
    val ids = idsOf(first)
    val expected = spark.read.parquet(s"$sf0001/orders.parquet")
      .where(col("o_orderdate") > lit("1997-06-01").cast("timestamp_ntz"))
    assert(ids.size == expected.count())
    assert(ids.toSet == expected.select(col("o_orderkey").cast("string"))
      .collect().map(_.getString(0)).toSet)
    SyncRunner.run(spark, sf0001, job, FileBulkClient(dir))
    assert(snapshot(dir) == first, "incremental replay must be byte-identical")
  }

  test("incremental predicate pushes down into the parquet scan") {
    val job = fullJob.copy(mode =
      SyncMode.Incremental("o_orderdate", "TIMESTAMP '1997-06-01'"))
    val p = SyncRunner.source(spark, sf0001, job)
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("o_orderdate"), p.take(1500))
  }

  test("alias-swap full sync: readers never observe a half-written index") {
    import graft.sinks.AliasedIndex
    val root = tmp("graft_alias").toString
    assert(AliasedIndex.resolve(root).isEmpty)
    // v1: publish a full sync; alias lands on it only after the write
    val v1 = SyncRunner.fullSync(spark, sf0001, fullJob, root)
    assert(AliasedIndex.resolve(root).contains(v1))
    val v1Snap = snapshot(v1)
    assert(idsOf(v1Snap).nonEmpty)
    // v2: DURING the write, the alias must still serve the complete v1 —
    // assert from inside the write callback, before the flip
    var duringWrite: Option[String] = None
    val v2 = AliasedIndex.publish(root) { dir =>
      // mirror fullSync's layout (mapping first, then batches) so the
      // recreated version is byte-comparable to v1
      EsMapping.write(dir, EsMapping.forJob(spark, sf0001, fullJob))
      SyncRunner.run(spark, sf0001, fullJob, FileBulkClient(dir))
      duringWrite = AliasedIndex.resolve(root)
    }
    assert(duringWrite.contains(v1),
      s"alias moved before v2 was complete: $duringWrite")
    assert(AliasedIndex.resolve(root).contains(v2))
    assert(snapshot(v2) == v1Snap, "recreated index must be byte-identical")
    // the previous version survives the flip for in-flight readers
    assert(Files.isDirectory(java.nio.file.Paths.get(v1)))
  }

  test("alias swap is atomic under a concurrent reader, and GC keeps 2 versions") {
    import graft.sinks.AliasedIndex
    val root = tmp("graft_alias_gc").toString
    // tiny writes (no Spark) to exercise many flips quickly
    def writeVersion(tag: Int)(dir: String): Unit =
      Files.writeString(java.nio.file.Paths.get(dir, "data.txt"), s"version $tag")
    AliasedIndex.publish(root)(writeVersion(0))
    @volatile var failure: Option[String] = None
    @volatile var stop = false
    val reader = new Thread(() => {
      while (!stop && failure.isEmpty) {
        AliasedIndex.resolve(root).foreach { dir =>
          // whatever the pointer says must be a COMPLETE version: dir
          // exists and its data file is fully written
          val f = java.nio.file.Paths.get(dir, "data.txt")
          if (!Files.exists(f)) failure = Some(s"pointer to incomplete $dir")
          else if (!Files.readString(f).startsWith("version "))
            failure = Some(s"torn read in $dir")
        }
      }
    })
    reader.start()
    (1 to 15).foreach(i => AliasedIndex.publish(root)(writeVersion(i)))
    stop = true
    reader.join(10000)
    assert(failure.isEmpty, failure.getOrElse(""))
    // GC: only the newest `keep`=2 versions remain, alias on the newest
    val left = Files.list(java.nio.file.Paths.get(root)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("v-")).toSeq.sorted
    assert(left == Seq("v-00015", "v-00016"), left.mkString(","))
    assert(AliasedIndex.resolve(root).get.endsWith("v-00016"))
  }

  test("config JSON parses to jobs and the loop delivers each one") {
    val json = """{"jobs": [
      {"name": "orders_small", "table": "orders", "idCol": "o_orderkey",
       "fields": [{"name": "order_id", "expr": "o_orderkey"},
                  {"name": "status", "expr": "o_orderstatus", "quoted": true}],
       "shards": 2, "batchSize": 100},
      {"name": "orders_incr", "table": "orders", "idCol": "o_orderkey",
       "fields": [{"name": "order_id", "expr": "o_orderkey"}],
       "mode": {"watermarkCol": "o_orderdate", "from": "TIMESTAMP '1997-06-01'"}}
    ]}"""
    val jobs = SyncConfig.fromJson(json)
    assert(jobs.map(_.name) == Seq("orders_small", "orders_incr"))
    assert(jobs.head.shards == 2 && jobs.head.batchSize == 100)
    assert(jobs.head.fields(1) == DocField("status", "o_orderstatus", quoted = true))
    assert(jobs(1).mode ==
      SyncMode.Incremental("o_orderdate", "TIMESTAMP '1997-06-01'"))
    assert(jobs(1).shards == 8 && jobs(1).batchSize == 500) // defaults
    val root = tmp("graft_cfgloop").toString
    val outcomes = SyncConfig.runAll(spark, sf0001, jobs,
      j => FileBulkClient(s"$root/${j.name}"))
    assert(outcomes.forall(_.ok), outcomes.mkString("; "))
    val total = spark.read.parquet(s"$sf0001/orders.parquet").count()
    assert(outcomes.head.docs == total)
    assert(outcomes(1).docs > 0 && outcomes(1).docs < total)
    // delivered files exist for both jobs
    assert(idsOf(snapshot(s"$root/orders_small")).size == total)
    assert(idsOf(snapshot(s"$root/orders_incr")).size == outcomes(1).docs)
  }

  test("a failing job is isolated: reported, loop continues") {
    val good = fullJob.copy(name = "good")
    val bad = SyncJob("bad", SyncSource.Sql("SELECT * FROM no_such_table"),
      idCol = "o_orderkey", fields = fields)
    val root = tmp("graft_cfgfail").toString
    val outcomes = SyncConfig.runAll(spark, sf0001, Seq(bad, good),
      j => FileBulkClient(s"$root/${j.name}"))
    assert(!outcomes.head.ok && outcomes.head.error.nonEmpty)
    assert(outcomes(1).ok && outcomes(1).docs > 0,
      "the job after a failed one must still deliver")
    assert(idsOf(snapshot(s"$root/good")).nonEmpty)
  }

  test("SQL-source job runs the query through the same pipeline") {
    val job = SyncJob("big_orders", SyncSource.Sql(
      "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_totalprice > 100000"),
      idCol = "o_orderkey", fields = fields, shards = 2, batchSize = 100)
    val n = SyncRunner.plan(spark, sf0001, job).count()
    val expected = spark.read.parquet(s"$sf0001/orders.parquet")
      .where(col("o_totalprice") > 100000).count()
    assert(n == expected && n > 0)
  }

  test("upsert sync: updates, inserts, and tombstone deletes converge the served index") {
    import graft.sinks.Writers
    import spark.implicits._
    val dir = tmp("graft_upsert").toString
    // v1 = the source at base-sync time; v2 = after an update (id 2), a
    // soft delete (id 3, tombstone flag + watermark bump), an insert (id 4)
    Seq((1L, "a", 1L, false), (2L, "b", 1L, false), (3L, "c", 1L, false))
      .toDF("id", "value", "ver", "deleted").createOrReplaceTempView("upsert_v1")
    Seq((1L, "a", 1L, false), (2L, "b2", 2L, false), (3L, "c", 2L, true),
      (4L, "d", 2L, false))
      .toDF("id", "value", "ver", "deleted").createOrReplaceTempView("upsert_v2")
    val docFields = Seq(DocField("id", "id", quoted = false),
      DocField("value", "value", quoted = true))
    val base = SyncJob("up_base", SyncSource.Sql("SELECT * FROM upsert_v1"),
      idCol = "id", fields = docFields, shards = 2, batchSize = 10)
    val chg = SyncJob("up_chg", SyncSource.Sql("SELECT * FROM upsert_v2"),
      idCol = "id", fields = docFields, shards = 2, batchSize = 10,
      mode = SyncMode.Upsert("ver", "1", "deleted"))
    SyncRunner.run(spark, sf0001, base, FileBulkClient(dir, gen = Some(0)))
    SyncRunner.run(spark, sf0001, chg, FileBulkClient(dir, gen = Some(1)))
    val state = Writers.foldState(dir)
    assert(state.keySet == Set("1", "2", "4"), s"served ids: ${state.keySet}")
    assert(state("1") == """{"id":1,"value":"a"}""")   // untouched base row
    assert(state("2") == """{"id":2,"value":"b2"}""")  // change wins
    assert(state("4") == """{"id":4,"value":"d"}""")   // insert
    // replaying the change generation is idempotent
    SyncRunner.run(spark, sf0001, chg, FileBulkClient(dir, gen = Some(1)))
    assert(Writers.foldState(dir) == state)
    // and the folded store state IS the oracle-checked mergedState
    val merged = SyncRunner.mergedState(
        SyncRunner.docs(spark, sf0001, base), SyncRunner.docs(spark, sf0001, chg))
      .select("_id", "doc").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(merged == state)
  }

  test("runAll executes each job's plan exactly once") {
    // the job's source carries a unique literal marker, so the listener
    // counts exactly this job's executions — concurrent suites sharing
    // the session can't collide; the pre-r10 double-execution (separate
    // stats job + delivery run) would count 2 here
    val marker = "exec_once_marker_8347"
    val counter = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.toString.contains(marker)) counter.incrementAndGet()
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val job = SyncJob("once", SyncSource.Sql(
        s"SELECT o_orderkey, o_orderstatus, '$marker' AS mk FROM orders"),
        idCol = "o_orderkey", fields = fields.take(2), shards = 2, batchSize = 100)
      val root = tmp("graft_once").toString
      val outcomes = SyncConfig.runAll(spark, sf0001, Seq(job),
        j => FileBulkClient(s"$root/${j.name}"))
      assert(outcomes.head.ok)
      assert(outcomes.head.docs ==
        spark.read.parquet(s"$sf0001/orders.parquet").count())
      assert(outcomes.head.batches ==
        snapshot(s"$root/once").size, "batches must equal delivered files")
      // the listener bus is async: wait for the execution event, then a
      // grace period in which a second (double-execution) event would land
      val deadline = System.currentTimeMillis + 30000
      while (counter.get < 1 && System.currentTimeMillis < deadline) Thread.sleep(50)
      Thread.sleep(1000)
      assert(counter.get == 1, s"expected exactly one execution, saw ${counter.get}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("parallel runAll matches sequential outcomes, with per-job isolation") {
    val jobs = Seq(
      fullJob.copy(name = "par_a", shards = 2, batchSize = 200),
      SyncJob("par_bad", SyncSource.Sql("SELECT * FROM no_such_table"),
        idCol = "o_orderkey", fields = fields),
      fullJob.copy(name = "par_b", shards = 3, batchSize = 100))
    val r1 = tmp("graft_par_seq").toString
    val r2 = tmp("graft_par_par").toString
    val seq = SyncConfig.runAll(spark, sf0001, jobs,
      j => FileBulkClient(s"$r1/${j.name}"))
    val par = SyncConfig.runAll(spark, sf0001, jobs,
      j => FileBulkClient(s"$r2/${j.name}"), parallelism = 2)
    assert(par.map(o => (o.job, o.ok, o.docs, o.batches)) ==
      seq.map(o => (o.job, o.ok, o.docs, o.batches)))
    assert(!par(1).ok && par(1).error.nonEmpty)
    assert(snapshot(s"$r2/par_a") == snapshot(s"$r1/par_a"))
    assert(snapshot(s"$r2/par_b") == snapshot(s"$r1/par_b"))
  }

  test("tracked incremental sync advances the watermark and ships only deltas") {
    import graft.sinks.Writers
    import spark.implicits._
    def srcView(rows: Seq[(Long, String, Long)]): Unit =
      rows.toDF("id", "value", "ver").createOrReplaceTempView("wm_src")
    srcView(Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 2L)))
    val store = new WatermarkStore(tmp("graft_wm").toString)
    val dir = tmp("graft_wm_out").toString
    val job = SyncJob("wm_job", SyncSource.Sql("SELECT * FROM wm_src"),
      idCol = "id", fields = Seq(DocField("id", "id", quoted = false),
        DocField("value", "value", quoted = true)),
      shards = 2, batchSize = 10, mode = SyncMode.Incremental("ver", "0"))
    // run 1: everything past the seed bound ships; watermark = max ver
    val d1 = SyncRunner.runTracked(spark, sf0001, job, store,
      FileBulkClient(dir, gen = Some(0)))
    assert(d1.docs == 3 && store.get("wm_job").contains("2"))
    // run 2: a new row arrived (ver 3) — ONLY the delta ships
    srcView(Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 2L), (4L, "d", 3L)))
    val d2 = SyncRunner.runTracked(spark, sf0001, job, store,
      FileBulkClient(dir, gen = Some(1)))
    assert(d2.docs == 1 && store.get("wm_job").contains("3"))
    assert(Writers.foldState(dir).keySet == Set("1", "2", "3", "4"))
    // run 3: no new rows — empty delta, watermark untouched
    val d3 = SyncRunner.runTracked(spark, sf0001, job, store,
      FileBulkClient(dir, gen = Some(2)))
    assert(d3.docs == 0 && store.get("wm_job").contains("3"))
    // a FAILED run leaves the watermark untouched, so its slice
    // re-delivers next run and the served state still converges
    srcView(Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 2L), (4L, "d", 3L),
      (5L, "e", 4L)))
    intercept[Exception] {
      SyncRunner.runTracked(spark, sf0001, job, store,
        FlakyClient("wm-perm", FileBulkClient(dir, gen = Some(3)),
          failures = 99, mode = "permanent"))
    }
    assert(store.get("wm_job").contains("3"), "failed run must not advance")
    val d4 = SyncRunner.runTracked(spark, sf0001, job, store,
      FileBulkClient(dir, gen = Some(3)))
    assert(d4.docs == 1 && store.get("wm_job").contains("4"))
    assert(Writers.foldState(dir).keySet == Set("1", "2", "3", "4", "5"))
    // a Full-mode job refuses tracking loudly
    intercept[IllegalArgumentException] {
      SyncRunner.runTracked(spark, sf0001, job.copy(mode = SyncMode.Full),
        store, FileBulkClient(dir))
    }
  }

  test("a null doc on an index action fails loudly instead of masquerading as a delete") {
    import spark.implicits._
    // id 2's value is null -> concat collapses the doc to NULL; delivering
    // it as a delete (doc==None) would silently drop the document
    Seq((1L, Some("a")), (2L, None: Option[String]))
      .toDF("id", "value").createOrReplaceTempView("nulldoc_src")
    val job = SyncJob("nulldoc", SyncSource.Sql("SELECT * FROM nulldoc_src"),
      idCol = "id", fields = Seq(DocField("value", "value", quoted = true)),
      shards = 1, batchSize = 10)
    val e = intercept[Exception] {
      SyncRunner.run(spark, sf0001, job, FileBulkClient(tmp("graft_nulldoc").toString))
    }
    assert(e.getMessage != null && e.getMessage.contains("null document") ||
      Option(e.getCause).exists(_.getMessage.contains("null document")),
      s"expected a loud null-document failure, got: $e")
    // a null-SAFE field expression delivers fine
    val safe = job.copy(name = "nulldoc_safe",
      fields = Seq(DocField("value", "coalesce(value, '')", quoted = true)))
    val dir = tmp("graft_nulldoc_safe").toString
    val d = SyncRunner.run(spark, sf0001, safe, FileBulkClient(dir))
    assert(d.docs == 2)
  }

  test("tracked runs execute the source once (max rides the delivery accumulator)") {
    val marker = "wm_exec_marker_9174"
    // The source is an inline query, not a temp view: creating a view is
    // itself a listener event whose plan holds the marker, and the
    // listener bus may deliver it after the listener below registers.
    val src = s"SELECT id, ver, '$marker' AS mk FROM VALUES (1L, 1L), (2L, 2L) AS t(id, ver)"
    val counter = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.toString.contains(marker)) counter.incrementAndGet()
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val store = new WatermarkStore(tmp("graft_wm_once").toString)
      val job = SyncJob("wm_once", SyncSource.Sql(src),
        idCol = "id", fields = Seq(DocField("id", "id", quoted = false)),
        shards = 1, batchSize = 10, mode = SyncMode.Incremental("ver", "0"))
      val d = SyncRunner.runTracked(spark, sf0001, job, store,
        FileBulkClient(tmp("graft_wm_once_out").toString))
      assert(d.docs == 2 && store.get("wm_once").contains("2"))
      val deadline = System.currentTimeMillis + 30000
      while (counter.get < 1 && System.currentTimeMillis < deadline) Thread.sleep(50)
      Thread.sleep(1000)
      assert(counter.get == 1,
        s"tracked run must scan the source exactly once, saw ${counter.get}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("timestamp watermarks round-trip as pushdown-safe literals") {
    val store = new WatermarkStore(tmp("graft_wm_ts").toString)
    val job = fullJob.copy(name = "wm_orders",
      mode = SyncMode.Incremental("o_orderdate", "TIMESTAMP '1997-06-01'"))
    val dir = tmp("graft_wm_ts_out").toString
    val d1 = SyncRunner.runTracked(spark, sf0001, job, store, FileBulkClient(dir))
    val expected = spark.read.parquet(s"$sf0001/orders.parquet")
      .where(col("o_orderdate") > lit("1997-06-01").cast("timestamp_ntz")).count()
    assert(d1.docs == expected)
    val wm = store.get("wm_orders").get
    assert(wm.startsWith("TIMESTAMP '"), wm)
    // the recorded literal is the source's true max, so the next run is empty
    val d2 = SyncRunner.runTracked(spark, sf0001, job, store, FileBulkClient(dir))
    assert(d2.docs == 0, s"re-run after advance must ship nothing, shipped $d2 (wm=$wm)")
    // ... and the predicate still reaches the parquet scan
    val resolved = job.copy(mode = SyncMode.Incremental("o_orderdate", wm))
    val p = SyncRunner.source(spark, sf0001, resolved)
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("o_orderdate"), p.take(1200))
  }

  test("string watermarks with escape-significant characters re-parse unchanged") {
    // Spark's default parser treats backslash as an escape character
    // (DuckDB does not) — an unescaped stored literal would re-parse to
    // a DIFFERENT value next run: silent delta loss, plus an
    // expr()-injection surface since the value is data-derived
    val tricky = Seq("""a\b""", """trailing\""", """quote'and\'mix""",
      """double\\back""", "plain")
    tricky.foreach { v =>
      val lit = SyncRunner.wmLiteral(v)
      val back = spark.sql(s"SELECT $lit AS v").head().getString(0)
      assert(back == v, s"literal $lit re-parsed to '$back', expected '$v'")
    }
  }

  test("non-Comparable or mixed-type watermark values fail with an actionable error") {
    val acc = new MaxWatermarkAccumulator
    val bad = intercept[IllegalArgumentException](acc.add(Array[Byte](1, 2)))
    assert(bad.getMessage.contains("Comparable"), bad.getMessage)
    acc.add(java.sql.Timestamp.valueOf("2020-01-01 00:00:00"))
    val mixed = intercept[IllegalArgumentException](acc.add(15L))
    assert(mixed.getMessage.contains("mixes incomparable"), mixed.getMessage)
  }

  test("runAll with a watermark store runs watermarked jobs tracked") {
    val store = new WatermarkStore(tmp("graft_wm_all").toString)
    val root = tmp("graft_wm_all_out").toString
    val jobs = Seq(
      fullJob.copy(name = "all_full", shards = 2, batchSize = 200),
      fullJob.copy(name = "all_incr", shards = 2, batchSize = 200,
        mode = SyncMode.Incremental("o_orderdate", "TIMESTAMP '1997-06-01'")))
    val first = SyncConfig.runAll(spark, sf0001, jobs,
      j => FileBulkClient(s"$root/${j.name}"), watermarks = Some(store))
    assert(first.forall(_.ok))
    assert(store.get("all_incr").nonEmpty && store.get("all_full").isEmpty)
    // second loop invocation: the full job re-ships, the tracked
    // incremental job's delta is empty
    val second = SyncConfig.runAll(spark, sf0001, jobs,
      j => FileBulkClient(s"$root/${j.name}"), watermarks = Some(store))
    assert(second.head.docs == first.head.docs)
    assert(second(1).docs == 0, s"steady-state delta must be empty: ${second(1)}")
  }

  test("parallel tracked runAll: per-job watermarks advance independently, a failed job's stays put") {
    import spark.implicits._
    Seq((1L, 1L), (2L, 2L)).toDF("id", "ver").createOrReplaceTempView("ptrk_a")
    Seq((10L, 5L), (11L, 6L)).toDF("id", "ver").createOrReplaceTempView("ptrk_b")
    val idField = Seq(DocField("id", "id", quoted = false))
    def trackedJob(name: String, view: String) =
      SyncJob(name, SyncSource.Sql(s"SELECT * FROM $view"), idCol = "id",
        fields = idField, shards = 1, batchSize = 10,
        mode = SyncMode.Incremental("ver", "0"))
    val jobs = Seq(
      trackedJob("ptrk_a", "ptrk_a"),
      SyncJob("ptrk_bad", SyncSource.Sql("SELECT * FROM no_such_view"),
        idCol = "id", fields = idField,
        mode = SyncMode.Incremental("ver", "0")),
      trackedJob("ptrk_b", "ptrk_b"))
    val store = new WatermarkStore(tmp("graft_ptrk_wm").toString)
    store.set("ptrk_bad", "99") // pre-existing mark of the failing job
    val root = tmp("graft_ptrk_out").toString
    val outcomes = SyncConfig.runAll(spark, sf0001, jobs,
      j => FileBulkClient(s"$root/${j.name}"), parallelism = 2,
      watermarks = Some(store))
    assert(outcomes.map(_.ok) == Seq(true, false, true), outcomes.mkString("; "))
    assert(outcomes.head.docs == 2 && outcomes(2).docs == 2)
    assert(store.get("ptrk_a").contains("2"))
    assert(store.get("ptrk_b").contains("6"))
    assert(store.get("ptrk_bad").contains("99"),
      "a failed job must not advance (or lose) its watermark")
  }

  test("config JSON parses upsert mode; malformed entries fail with the field's name") {
    val json = """{"jobs": [
      {"name": "orders_up", "table": "orders", "idCol": "o_orderkey",
       "fields": [{"name": "order_id", "expr": "o_orderkey"}],
       "mode": {"watermarkCol": "o_orderdate", "from": "TIMESTAMP '1997-06-01'",
                "deleteWhere": "o_orderstatus = 'F'"}}
    ]}"""
    assert(SyncConfig.fromJson(json).head.mode == SyncMode.Upsert(
      "o_orderdate", "TIMESTAMP '1997-06-01'", "o_orderstatus = 'F'"))
    // a field entry missing "expr" names the field, never an NPE
    val bad = """{"jobs": [{"name": "j", "table": "orders", "idCol": "k",
      "fields": [{"name": "order_id"}]}]}"""
    val e = intercept[IllegalArgumentException](SyncConfig.fromJson(bad))
    assert(e.getMessage.contains("expr"), e.getMessage)
    // a mode object missing "from" names the mode field
    val badMode = """{"jobs": [{"name": "j", "table": "orders", "idCol": "k",
      "fields": [{"name": "f", "expr": "k"}],
      "mode": {"watermarkCol": "c"}}]}"""
    val e2 = intercept[IllegalArgumentException](SyncConfig.fromJson(badMode))
    assert(e2.getMessage.contains("from"), e2.getMessage)
  }

  test("cdc delivery converges a served store to the new snapshot, idempotently") {
    import graft.sinks.Writers
    val oldJob = fullJob.copy(name = "orders_cdcd_a", source = SyncSource.Sql(
      "SELECT * FROM orders WHERE o_orderdate <= TIMESTAMP '1997-06-01'"))
    val newJob = oldJob.copy(name = "orders_cdcd_b", source = SyncSource.Sql(
      "SELECT * FROM orders WHERE o_orderkey % 13 <> 0"),
      fields = Seq(
        DocField("order_id", "o_orderkey", quoted = false),
        DocField("status",
          "CASE WHEN o_orderkey % 5 = 0 THEN 'U' ELSE o_orderstatus END",
          quoted = true),
        DocField("total", "CAST(o_totalprice AS DECIMAL(12,2))",
          quoted = false)))
    val dir = tmp("graft_cdc_deliver").toString
    // generation 0: the full sync that put the OLD snapshot in the store
    SyncRunner.run(spark, sf0001, oldJob, FileBulkClient(dir, gen = Some(0)))
    // generation 1: CDC ships only the churn
    val counts = SyncRunner.runCdc(
      SyncRunner.docs(spark, sf0001, oldJob),
      SyncRunner.docs(spark, sf0001, newJob),
      newJob, FileBulkClient(dir, gen = Some(1)))
    // the folded store now equals a from-scratch full sync of the NEW world
    val fresh = tmp("graft_cdc_fresh").toString
    SyncRunner.run(spark, sf0001, newJob, FileBulkClient(fresh, gen = Some(0)))
    val state = Writers.foldState(dir)
    assert(state == Writers.foldState(fresh))
    // CDC shipped strictly less than the full resync (the point of CDC)
    assert(counts.docs > 0 && counts.docs < state.size)
    // replaying the CDC generation changes nothing
    SyncRunner.runCdc(
      SyncRunner.docs(spark, sf0001, oldJob),
      SyncRunner.docs(spark, sf0001, newJob),
      newJob, FileBulkClient(dir, gen = Some(1)))
    assert(Writers.foldState(dir) == state)
  }

  test("cdc: applying the action feed to the old snapshot reproduces the new one") {
    val oldJob = fullJob.copy(name = "orders_cdc_a", source = SyncSource.Sql(
      "SELECT * FROM orders WHERE o_orderdate <= TIMESTAMP '1997-06-01'"))
    val newJob = oldJob.copy(name = "orders_cdc_b", source = SyncSource.Sql(
      "SELECT * FROM orders WHERE o_orderkey % 13 <> 0"),
      fields = Seq(
        DocField("order_id", "o_orderkey", quoted = false),
        DocField("status",
          "CASE WHEN o_orderkey % 5 = 0 THEN 'U' ELSE o_orderstatus END",
          quoted = true),
        DocField("total", "CAST(o_totalprice AS DECIMAL(12,2))",
          quoted = false)))
    val before = SyncRunner.docs(spark, sf0001, oldJob)
    val after = SyncRunner.docs(spark, sf0001, newJob)
    val acts = SyncRunner.cdcActions(before, after, shards = 4)
      .select("_id", "action", "doc").collect()
      .map(r => (r.getString(0), r.getString(1),
        Option(r.getString(2)))).toSeq
    // classification is exactly the injected churn, nothing else
    val beforeIds = before.select("_id").collect().map(_.getString(0)).toSet
    val afterMap = after.select("_id", "doc").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    acts.foreach {
      case (id, "insert", Some(_)) => assert(!beforeIds(id), id)
      case (id, "delete", None)    => assert(beforeIds(id) && !afterMap.contains(id), id)
      case (id, "update", Some(d)) => assert(beforeIds(id) && afterMap(id) == d, id)
      case other                   => fail(s"malformed action row: $other")
    }
    // replaying the feed over the old state converges to the new snapshot
    val beforeMap = before.select("_id", "doc").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val replayed = acts.foldLeft(beforeMap) {
      case (st, (id, "delete", _)) => st - id
      case (st, (id, _, Some(d)))  => st.updated(id, d)
      case (st, _)                 => st
    }
    assert(replayed == afterMap)
    // unchanged rows never ship: ids untouched by the churn are absent
    val shipped = acts.map(_._1).toSet
    val untouched = beforeIds.filter(id =>
      afterMap.get(id).contains(beforeMap(id)))
    assert(untouched.nonEmpty && untouched.forall(!shipped(_)))
    // a snapshot diffed against itself is an empty feed
    assert(SyncRunner.cdcActions(before, before, shards = 4).count() == 0)
    // deletes route exactly like the run that indexed them would
    val delRouting = SyncRunner.cdcActions(before, after, shards = 4)
      .where(col("action") === "delete").select("_id", "routing").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    val origRouting = before.select("_id", "routing").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(delRouting.nonEmpty &&
      delRouting.forall { case (id, r) => origRouting(id) == r })
  }
}
