package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.search.InvertedIndex
import graft.sinks.{AliasedIndex, DeadLetterPolicy, FileBulkClient}
import graft.sync.{DocField, IncrementalView, SyncJob, SyncRunner, SyncSource}

/** [[Tables.parquet]] reads a schema from one footer on the driver: it
  * must give exactly the schema (and rows) `spark.read.parquet` infers on
  * every kind of parquet the engine reads, start no Spark job, and leave
  * Spark's own behaviour in place where it falls back.
  */
class ParquetReadSpec extends AnyFunSuite {
  import TestSpark._

  private val sf001 = sf0001.replace("sf0.001", "sf0.01")

  private def tmp(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit(); d.toString
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Same schema as Spark's inference, read without a job (no silent
    * fallback); with `withRows`, same rows too. */
  private def parity(what: String, withRows: Boolean, paths: String*): Unit = {
    var ours: DataFrame = null
    val jobs = jobsStartedBy { ours = Tables.parquet(spark, paths: _*) }
    assert(jobs.isEmpty, s"$what: the read started jobs $jobs")
    val sparks = spark.read.parquet(paths: _*)
    assert(ours.schema == sparks.schema, s"$what: schema differs")
    if (withRows) assert(rows(ours) == rows(sparks), s"$what: rows differ")
  }

  /** Job ids started while `body` runs on this thread, seen by a
    * listener. A marker job from another group is run afterwards: the
    * listener bus delivers in order, so once the marker has arrived every
    * job `body` started has too. */
  private def jobsStartedBy(body: => Unit): Seq[Int] = {
    val seen = new ConcurrentLinkedQueue[(String, Int)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add((Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
          .orNull, e.jobId))
    }
    val sc = spark.sparkContext
    val (group, marker) = (s"parquet-read-${System.nanoTime}", s"marker-${System.nanoTime}")
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "reads under test")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "listener flush")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      while (!seen.asScala.exists(_._1 == marker) && System.nanoTime < deadline)
        Thread.sleep(10)
      assert(seen.asScala.exists(_._1 == marker), "listener never saw the marker job")
      seen.asScala.collect { case (g, id) if g == group => id }.toSeq
    } finally sc.removeSparkListener(listener)
  }

  test("fixture tables: the footer schema is Spark's inferred schema at sf0.001 and sf0.01") {
    for (dir <- Seq(sf0001, sf001); n <- Tables.names)
      parity(s"$dir/$n", withRows = false, s"$dir/$n.parquet")
  }

  test("engine-written artifacts: index, view state, warehouse layouts and a DLQ read the same") {
    val docs = Tables(spark, sf0001, "documents").select("doc_id", "text")
    val idx = tmp("graft_pread_idx")
    InvertedIndex.build(spark, idx, docs.where("doc_id % 2 = 0"))
    InvertedIndex.append(spark, idx, docs.where("doc_id % 2 = 1"))
    InvertedIndex.delete(spark, idx, docs.where("doc_id % 5 = 0").select("doc_id"))
    val meta = AliasedIndex.resolve(s"$idx/meta").get
    val segs = Files.readAllLines(Paths.get(meta, "segments")).asScala.toSeq
      .map(_.trim).filter(_.nonEmpty)
    assert(segs.size == 2, s"build + append should leave two segments, got $segs")
    segs.foreach { sg =>
      parity(s"$sg postings", withRows = true, s"$idx/$sg/postings")
      parity(s"$sg docstats", withRows = true, s"$idx/$sg/docstats")
    }
    parity("multi-segment postings", withRows = true, segs.map(sg => s"$idx/$sg/postings"): _*)
    Seq("lexicon", "globals", "deletes").foreach(a =>
      parity(a, withRows = true, s"$meta/$a"))

    val view = tmp("graft_pread_view")
    val orders = Tables(spark, sf0001, "orders")
      .select(col("o_orderstatus").as("status"), Dets.money(col("o_totalprice")).as("total"))
    IncrementalView.refresh(spark, view, orders, IncrementalView.ViewDef(Seq("status"), "total"))
    parity("view state", withRows = true, s"${AliasedIndex.resolve(view).get}/state")

    // a partitioned layout (bucket=N dirs), one b=N dir, and a manifest
    val (data, dv) = operators.Warehouse.deleteVectorLayout(spark, sf0001)
    parity("partitioned delete-vector data", withRows = true, data)
    parity("delete vector", withRows = true, dv)
    val tt = operators.Warehouse.timeTravelLayout(spark, sf0001)
    parity("time-travel bucket dir", withRows = true, s"$tt/files/b=0")
    parity("time-travel snapshot", withRows = true, s"$tt/snapshots/v=1")

    val dlq = tmp("graft_pread_dlq")
    val poisoned = Tables(spark, sf0001, "orders").select("o_orderkey")
      .orderBy("o_orderkey").limit(3).collect().map(_.getLong(0).toString).toSet
    val job = SyncJob("pread_dlq", SyncSource.Table("orders"), idCol = "o_orderkey",
      fields = Seq(DocField("order_id", "o_orderkey", quoted = false)),
      shards = 2, batchSize = 100, deadLetter = Some(DeadLetterPolicy(dlq, budget = 10)))
    SyncRunner.run(spark, sf0001, job,
      PoisonClient(FileBulkClient(tmp("graft_pread_out")), poisoned))
    parity("dead-letter quarantine", withRows = true, dlq)
    assert(Tables.parquet(spark, dlq).count() == 3)
  }

  test("a fixture read starts no Spark job; Spark's own read starts one") {
    val ours = jobsStartedBy {
      Tables.names.foreach(n => Tables(spark, sf0001, n).schema)
    }
    assert(ours.isEmpty, s"Tables reads started jobs $ours")
    val sparks = jobsStartedBy(spark.read.parquet(s"$sf0001/orders.parquet").schema)
    assert(sparks.nonEmpty, "the listener saw no inference job: the check above proves nothing")
  }

  test("fallbacks keep Spark's errors, merged schemas and summary files") {
    def failure(read: => DataFrame): (Class[_], String) =
      try { read; fail("the read did not throw") }
      catch { case e: Exception => (e.getClass, e.getMessage) }
    val missing = s"${tmp("graft_pread_missing")}/nothing_here"
    val empty = tmp("graft_pread_empty")
    for (p <- Seq(missing, empty)) {
      val (ours, sparks) = (failure(Tables.parquet(spark, p)), failure(spark.read.parquet(p)))
      assert(ours._1 == sparks._1, s"$p: ${ours._1} vs ${sparks._1}")
      assert(ours._2 == sparks._2)
    }

    // two files of different shapes
    val shapes = tmp("graft_pread_shapes")
    spark.range(3).select(col("id").as("a")).write.parquet(s"$shapes/part=1")
    spark.range(3).select(col("id").as("a"), (col("id") * 2).as("b"))
      .write.parquet(s"$shapes/part=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(shapes).schema
    assert(merged.fieldNames.toSeq == Seq("a", "b", "part"))
    assert(Tables.parquet(spark, Map("mergeSchema" -> "true"), shapes).schema == merged)
    val s = spark.newSession()
    s.conf.set("spark.sql.parquet.mergeSchema", "true")
    assert(Tables.parquet(s, shapes).schema == merged)
    // mergeSchema off: the first file's shape, as Spark picks it
    parity("unmerged shapes", withRows = true, shapes)

    // a summary file wins over the data files in Spark's inference
    val summ = tmp("graft_pread_summary")
    spark.range(3).select(col("id").as("a")).coalesce(1).write.parquet(s"$summ/data")
    spark.range(3).select(col("id").as("a"), col("id").as("z")).coalesce(1)
      .write.parquet(s"$summ/other")
    val otherFile = Files.list(Paths.get(s"$summ/other")).iterator.asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.copy(otherFile, Paths.get(s"$summ/data/_common_metadata"))
    val withSummary = spark.read.parquet(s"$summ/data").schema
    assert(withSummary.fieldNames.toSeq == Seq("a", "z"))
    assert(Tables.parquet(spark, s"$summ/data").schema == withSummary)
  }
}
