package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.LocalDateTime

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.sinks.{AliasedIndex, BulkClient, BulkDoc, DocOutcome, FileBulkClient, Writers}
import graft.search.InvertedIndex
import graft.sync.{IncrementalView, SyncConfig, SyncJob, SyncMode, SyncRunner, WatermarkStore}

/** Bulk client that injects the seeded faults of [[Inputs.fault]] in front
  * of a [[FileBulkClient]]: permanent rejects every time, retryable
  * rejects on an id's first send in this task only. Counts what it sends
  * into [[SinkCounters]] while tracing is on. */
final case class FaultClient(inner: BulkClient, seed: Long) extends BulkClient {
  @transient private lazy val failedOnce = mutable.Set.empty[String]

  override def send(shard: Int, batchIdx: Int, docs: Seq[BulkDoc]): Seq[DocOutcome] = {
    val t0 = System.nanoTime()
    val outcomes = docs.map { d =>
      Inputs.fault(seed, d.id) match {
        case Inputs.Permanent => DocOutcome(d.id, ok = false, error = Some("mapping conflict"))
        case Inputs.Retryable if failedOnce.add(d.id) =>
          DocOutcome(d.id, ok = false, retryable = true, error = Some("queue full"))
        case _ => DocOutcome(d.id, ok = true)
      }
    }
    val accepted = docs.zip(outcomes).collect { case (d, o) if o.ok => d }
    if (accepted.nonEmpty) inner.send(shard, batchIdx, accepted)
    if (SinkCounters.on) {
      SinkCounters.sendCalls.incrementAndGet()
      SinkCounters.docsSent.addAndGet(docs.size.toLong)
      SinkCounters.docsAccepted.addAndGet(accepted.size.toLong)
      SinkCounters.bytesWritten.addAndGet(accepted.map(d =>
        d.doc.fold(d.id.length + 25L)(b => d.id.length + b.length + 16L)).sum)
      SinkCounters.sendNs.addAndGet(System.nanoTime() - t0)
    }
    outcomes
  }
}

/** The nightly-sync write path. Set-up loads the first half of the order
  * history into a live source directory, runs an aliased full sync of
  * `orders` (the `lineitem` index starts empty), builds the search index over a base slice of
  * `documents` and seeds a view over `events`. Each timed step then lands
  * one seeded delta (a date range of orders and line items, with some line
  * items re-issued as soft deletes, plus new documents and events) and:
  *
  *  - runs the tracked incremental `orders` job and the upsert `lineitem`
  *    job through `SyncConfig.runAll`, into fault-injecting bulk clients
  *    under a dead-letter policy, and checks planned = delivered +
  *    dead-lettered for both;
  *  - appends the new documents to the index (`InvertedIndex.append`);
  *  - folds the new events into the view (`IncrementalView.refresh`).
  *
  * A step's time (`step_p50_s`) ends there. Every second step then also
  * compacts and vacuums the index, republishes the `orders` alias with a
  * full sync, and a client issues one round of the seeded request mix of
  * [[Inputs.requestRound]] (BM25, conjunctive, phrase, search-after,
  * wildcard, fuzzy, more-like-this and view key reads) against the index
  * and view just written; every response is checked afterwards against
  * the corpus as it stood at that step. Serving once per pair, not after
  * every step, keeps a pair of steps near 20 s, so that a run fits the
  * time the benchmark's runs are allowed. */
final class SyncIngest extends Workload {
  import SyncIngest._

  private var ctx: Ctx = _
  private def spark = ctx.spark
  private var live, stream = ""
  private var jobs = Seq.empty[SyncJob]
  private var ordersFull: SyncJob = _
  private var wm: WatermarkStore = _
  private var plan: Plan = _
  private var stepsDone = 0
  private val republishedAt = mutable.Set.empty[Int]
  private val delivered = new java.util.concurrent.atomic.AtomicLong()
  private val outcomes = mutable.ArrayBuffer.empty[(Boolean, SyncConfig.JobOutcome)]
  private val responses = mutable.ArrayBuffer.empty[(OpRecord, Int, Inputs.Req, Seq[Seq[Any]])]
  private var termDf = Seq.empty[(String, Long)]
  private val corpora = mutable.Map.empty[Int, Serve.Corpus]
  private def indexRoot(job: String) = s"${ctx.root}/index/$job"
  private def searchRoot = s"${ctx.root}/search"
  private def viewRoot = s"${ctx.root}/view"

  def setup(c: Ctx): Unit = {
    ctx = c
    live = s"${c.root}/live"
    stream = s"${c.root}/stream"
    plan = c.harness(Plan(c.seed))
    c.harness(writeInputs())
    termDf = c.harness(corpusAt(0).dfList)
    jobs = SyncConfig.fromJson(configJson(c.root, plan.cutoff))
    ordersFull = jobs.head.copy(mode = SyncMode.Full)
    wm = new WatermarkStore(s"${c.root}/wm")
    SyncRunner.fullSync(spark, live, ordersFull, indexRoot(ordersFull.name))
    // the line-item index starts empty: its upsert job ships every line
    // that lands after the base load
    AliasedIndex.publish(indexRoot(jobs(1).name))(_ => ())
    InvertedIndex.build(spark, searchRoot, spark.read.parquet(s"$stream/documents/step=0"))
    IncrementalView.refresh(spark, viewRoot, viewDelta(0), View)
  }

  private def writeInputs(): Unit = {
    val s = Gen.sizes(Scale)
    val seed = ctx.seed
    val bounds = plan.bounds
    val docEnd = plan.docEnd
    val eventEnd = plan.eventEnd
    val ordersDf = spark.createDataFrame(spark.sparkContext.range(0L, s.orders.toLong, 1L, 4)
      .map { k =>
        val o = Gen.orderRow(seed, s, k)
        Row.fromSeq(o.toSeq :+ stepOf(bounds, o.getAs[LocalDateTime](4)))
      }, Gen.OrdersSchema.add("step", "int"))
    val linesDf = spark.createDataFrame(spark.sparkContext.range(0L, s.orders.toLong, 1L, 4)
      .flatMap(k => Gen.lineRows(seed, s, Gen.orderRow(seed, s, k))).map { l =>
        Row.fromSeq(l.toSeq :+ lineId(l) :+ stepOf(bounds, l.getAs[LocalDateTime](10)))
      }, LineSchema)
    val corrections = spark.createDataFrame(plan.corrections.asJava, LineSchema)
    // one file per step: the stream directories are landed file by file
    def byStep(df: DataFrame, table: String): Unit =
      df.where("step >= 0").repartition(col("step")).write.partitionBy("step")
        .parquet(s"$stream/$table")
    val docs = spark.createDataFrame(spark.sparkContext.range(0L, docEnd.last, 1L, 4)
      .map(i => Row.fromSeq(Gen.documentRow(seed, i).toSeq :+ stepOfIndex(docEnd, i))),
      Gen.DocumentsSchema.add("step", "int"))
    val ev = Gen.sizes(EventScale)
    val events = spark.createDataFrame(spark.sparkContext.range(0L, eventEnd.last, 1L, 4)
      .map(i => Row.fromSeq(Gen.eventRow(seed, ev, i).toSeq :+ stepOfIndex(eventEnd, i))),
      Gen.EventsSchema.add("step", "int"))
    Gen.concurrently(() => byStep(ordersDf, "orders"),
      () => byStep(linesDf.where("step >= 0").unionByName(corrections), "lineitem"),
      () => byStep(docs, "documents"), () => byStep(events, "events"))
    Seq("orders", "lineitem").foreach { t =>
      Files.createDirectories(Paths.get(live, s"$t.parquet"))
      land(t, 0)
    }
  }

  /** Move one step's files of `table` into the live source directory. */
  private def land(table: String, step: Int): Unit = {
    val from = Paths.get(stream, table, s"step=$step")
    if (Files.isDirectory(from)) {
      val files = Files.list(from)
      try files.iterator.asScala.filter(_.getFileName.toString.endsWith(".parquet")).toList
        .foreach(f => Files.move(f, Paths.get(live, s"$table.parquet", s"s$step-${f.getFileName}"),
          StandardCopyOption.ATOMIC_MOVE))
      finally files.close()
    }
  }

  /** The documents and events as they stand after `step`. */
  private def corpusAt(step: Int): Serve.Corpus = corpora.getOrElseUpdate(step, {
    val ev = Gen.sizes(EventScale)
    new Serve.Corpus((0L until plan.docEnd(step)).map(Gen.docTokens(ctx.seed, _)),
      (0L until plan.eventEnd(step)).map(Gen.eventRow(ctx.seed, ev, _)))
  })

  /** One round of the request mix (one request of every kind) after step
    * `step`. */
  private def serve(c: Ctx, step: Int): Unit =
    Inputs.requestRound(c.seed, 0, step, termDf, plan.docEnd(0), Gen.EventTypes).foreach { q =>
      var rows: Seq[Seq[Any]] = Nil
      // the page-one cursor a client would hold from its previous response
      val cursor = q match {
        case Inputs.After(ts) => c.harness(corpusAt(step).cursor(ts))
        case _ => (0L, 0L)
      }
      def df = Serve.request(spark, searchRoot, viewRoot, q, cursor)
      val rec = c.op(q.kind) {
        rows = if (q.kind == "view") c.tracer.span("view.read")(df.collect().toSeq.map(Serve.norm))
          else {
            val d = c.tracer.span("search.reader")(df)
            c.tracer.span("search.plan")(d.queryExecution.executedPlan)
            c.tracer.span("search.exec")(d.collect().toSeq.map(Serve.norm))
          }
      }
      if (rec.ok) responses += ((rec, step, q, rows))
    }

  private def viewDelta(step: Int): DataFrame =
    spark.read.parquet(s"$stream/events/step=$step")
      .select(col("event_type"), col("user_id"), graft.Dets.money(col("value")).as("amount"))

  private def clientFor(step: Int)(job: SyncJob): BulkClient =
    FaultClient(FileBulkClient(AliasedIndex.resolve(indexRoot(job.name)).get, gen = Some(step)),
      ctx.seed)

  /** Steps run in pairs (a plain step, then one with maintenance and serving; together
    * 36 days of deltas), as many pairs as the timed region holds at the
    * nominal pair time [[PairS]] (one for 15 s): every run at one
    * `--seconds` does the same work, and a faster engine shows as a
    * shorter region, not as more steps. */
  def run(c: Ctx, deadlineNs: Long): Unit = {
    val pairs = math.max(1, math.round((deadlineNs - System.nanoTime()) / 1e9 / PairS).toInt)
    for (step <- 1 to math.min(2 * pairs, MaxSteps)) {
      c.round(step - 1)
      val s0 = System.nanoTime()
      land("orders", step); land("lineitem", step)
      val i = step
      var res = Seq.empty[SyncConfig.JobOutcome]
      val sync = c.op("sync.runAll") {
        res = SyncConfig.runAll(spark, live, jobs, clientFor(i), parallelism = 2,
          watermarks = Some(wm))
      }
      outcomes ++= res.map(o => (sync.traced, o))
      res.foreach(o => delivered.addAndGet(o.docs))
      c.harness(accounting(i, res)).foreach(c.fail(sync, _))
      c.op("index.append")(
        InvertedIndex.append(spark, searchRoot, spark.read.parquet(s"$stream/documents/step=$i")))
      c.op("view.refresh")(IncrementalView.refresh(spark, viewRoot, viewDelta(i), View))
      c.step(s0, System.nanoTime())
      if (step % 2 == 0) {
        c.op("index.compact")(InvertedIndex.compact(spark, searchRoot))
        c.op("index.vacuum")(InvertedIndex.vacuum(searchRoot))
        c.op("sync.republish") {
          SyncRunner.fullSync(spark, live, ordersFull, indexRoot(ordersFull.name))
          delivered.addAndGet(plan.ordersUpTo(i).size.toLong)
          republishedAt += i
        }
        serve(c, i)
      }
      stepsDone = step
    }
    c.round(0)
  }

  /** Planned = delivered + dead-lettered for both jobs, dead letters equal
    * the seeded permanent faults, and resends appear exactly when the
    * slice holds a retryable fault. */
  private def accounting(step: Int, res: Seq[SyncConfig.JobOutcome]): Option[String] = {
    val problems = res.flatMap { o =>
      val ids = if (o.job == jobs.head.name) plan.orders(step).map(_.toString)
        else plan.lines(step).map(_._1)
      val faults = ids.map(Inputs.fault(ctx.seed, _))
      val perm = faults.count(_ == Inputs.Permanent).toLong
      val retry = faults.count(_ == Inputs.Retryable)
      if (!o.ok) Some(s"${o.job} failed: ${o.error.getOrElse("")}")
      else if (o.retriedTasks == 0 && o.docs + o.deadLettered != ids.size)
        Some(s"${o.job} step $step: planned ${ids.size} != delivered ${o.docs} + dead ${o.deadLettered}")
      else if (o.deadLettered != perm)
        Some(s"${o.job} step $step: dead-lettered ${o.deadLettered}, seeded $perm")
      else if ((retry > 0) != (o.resends > 0) || o.resends > retry)
        Some(s"${o.job} step $step: ${o.resends} resends for $retry retryable faults")
      else None
    }
    problems.headOption
  }

  def check(c: Ctx): Seq[String] = c.harness {
    val orders = mutable.Set.empty[String] ++ plan.ordersUpTo(0).map(_.toString)
    val lines = mutable.Set.empty[String]
    for (i <- 1 to stepsDone) {
      plan.orders(i).map(_.toString).filter(Inputs.fault(c.seed, _) != Inputs.Permanent)
        .foreach(orders += _)
      plan.lines(i).filter(l => Inputs.fault(c.seed, l._1) != Inputs.Permanent).foreach {
        case (id, true) => lines -= id
        case (id, false) => lines += id
      }
      if (republishedAt(i)) { orders.clear(); orders ++= plan.ordersUpTo(i).map(_.toString) }
    }
    val ev = Gen.sizes(EventScale)
    val expectedView = (0L until plan.eventEnd(stepsDone)).map(Gen.eventRow(c.seed, ev, _))
      .groupBy(r => (r.getString(3), r.getLong(2)))
      .map { case (k, rs) => k -> (rs.size.toLong, rs.map(r => BigDecimal(r.getDouble(4)).setScale(2)).sum) }
    val expectedDf = (0L until plan.docEnd(stepsDone)).flatMap(i => Gen.docTokens(c.seed, i).distinct)
      .groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    responses.foreach { case (rec, step, q, rows) =>
      val want = corpusAt(step).answer(q)
      if (rows != want) c.fail(rec, s"$q after step $step: ${rows.take(3)} != ${want.take(3)}")
    }
    Seq(
      c.checked("orders index state") {
        Writers.foldState(AliasedIndex.resolve(indexRoot(jobs.head.name)).get).keySet == orders.toSet
      },
      c.checked("lineitem index state") {
        Writers.foldState(AliasedIndex.resolve(indexRoot(jobs(1).name)).get).keySet == lines.toSet
      },
      c.checked("view contents") {
        IncrementalView.read(spark, viewRoot).collect().map(r =>
          (r.getAs[String]("event_type"), r.getAs[Long]("user_id")) ->
            (r.getAs[Long]("mv_n"), BigDecimal(r.getAs[java.math.BigDecimal]("mv_s")))).toMap ==
          expectedView
      },
      c.checked("index lexicon") {
        InvertedIndex.lexicon(spark, searchRoot).collect()
          .map(r => r.getAs[String]("tok") -> r.getAs[Long]("df")).toMap == expectedDf
      }).flatten
  }

  def records: Long = delivered.get

  def layers(c: Ctx): Map[String, Double] = {
    val traced = c.ops.filter(_.traced)
    def secs(kind: String) = traced.filter(_.kind == kind).map(_.seconds).sum
    val runAllOps = traced.filter(_.kind == "sync.runAll")
    val plans = c.engine.plans.asScala.toSeq
    val tOut = outcomes.filter(_._1).map(_._2)
    Inputs.ReqKinds.filterNot(_ == "view").map(k => s"search.${k}_p50_s" -> {
      val xs = traced.filter(o => o.kind == k && o.ok).map(_.seconds)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }).toMap ++ Map(
      "sync.plan_s" -> plans.filter { case (endMs, _) =>
        runAllOps.exists(o => c.wallMs(o.startNs) <= endMs && endMs <= c.wallMs(o.endNs))
      }.map(_._2).sum / 1e3,
      "sync.run_s" -> secs("sync.runAll"),
      "sync.docs" -> tOut.map(_.docs).sum.toDouble,
      "sync.batches" -> tOut.map(_.batches).sum.toDouble,
      "sync.retried_tasks" -> tOut.map(_.retriedTasks).sum.toDouble,
      "sinks.resends" -> tOut.map(_.resends).sum.toDouble,
      "sinks.dead_lettered" -> tOut.map(_.deadLettered).sum.toDouble,
      "sinks.publish_s" -> secs("sync.republish"),
      "search.append_s" -> secs("index.append"),
      "search.compact_s" -> secs("index.compact"),
      "search.vacuum_s" -> secs("index.vacuum"),
      "search.segments_live" -> SyncIngest.liveSegments(searchRoot).toDouble,
      "search.bytes_on_disk" -> Stats.dirBytes(searchRoot).toDouble,
      "view.refresh_s" -> secs("view.refresh"),
      "view.read_s" -> c.tracer.total("view.read"),
      "search.reader_s" -> c.tracer.total("search.reader"),
      "search.plan_s" -> c.tracer.total("search.plan"),
      "search.exec_s" -> c.tracer.total("search.exec"),
      "view.versions_on_disk" -> SyncIngest.versions(viewRoot).toDouble)
  }

  def describe: Map[String, String] = Map("steps" -> stepsDone.toString,
    "widths" -> plan.widths.take(stepsDone).mkString(","), "sf" -> Scale.toString)
}

/** The workload's sizes. Orders and line items arrive at the rate of the
  * generated history itself (15,000 orders over 2,404 days at sf 0.01,
  * about 6 orders and 25 line items a day, as in FIXTURES.md), and events
  * at the rate of the generated events table (its `ts` spans 30 days).
  * The rest is assumed, chosen so that a step costs about ten seconds and
  * a pair of steps fits one run: see README.md, "Assumed mix". */
object SyncIngest {
  val Scale = 0.01
  /** The view's base: 5,000 events over 30 days. */
  val EventScale = 0.005
  val MaxSteps = 16
  /** Nominal time of a pair of steps: 17–22 s on a 4-core machine. */
  val PairS = 20.0
  /** Assumed: documents have no time column to take a rate from. */
  val DocsPerDay = 3
  /** The base events table's own rate, about 166 a day. */
  val EventsPerDay: Long = Gen.sizes(EventScale).events * 86400L / Gen.EventSpanSec
  /** The base load: orders up to this day of the history (assumed: a bit
    * under half of it, so that 16 steps of deltas remain). */
  val BaseDays = 1100
  val View = IncrementalView.ViewDef(Seq("event_type", "user_id"), "amount")

  val LineSchema: StructType = StructType(Gen.LineitemSchema.fields ++ Seq(
    StructField("l_id", LongType), StructField("step", org.apache.spark.sql.types.IntegerType)))

  def lineId(l: Row): Long = l.getLong(0) * 8 + l.getInt(3)

  /** Step of a date: 0 for the base load, i for (bounds(i-1), bounds(i)],
    * -1 past the last step. */
  def stepOf(bounds: IndexedSeq[LocalDateTime], d: LocalDateTime): Int =
    if (!d.isAfter(bounds.head)) 0
    else bounds.indexWhere(b => !d.isAfter(b)) match { case -1 => -1; case i => i }

  /** Step of row `i` of a stream whose step j ends before `ends(j)`. */
  def stepOfIndex(ends: IndexedSeq[Long], i: Long): Int = ends.indexWhere(i < _)

  /** The seeded delta plan: step boundaries, and per step the orders,
    * line-item actions (id, isDelete) and index/event ranges. */
  final case class Plan(seed: Long) {
    private val s = Gen.sizes(Scale)
    val widths: Seq[Int] = Inputs.deltaWidths(seed, MaxSteps)
    val cutoff: LocalDateTime = Gen.OrderDay0.plusDays(BaseDays)
    val bounds: IndexedSeq[LocalDateTime] =
      widths.scanLeft(cutoff)((d, w) => d.plusDays(w.toLong)).toIndexedSeq
    private val orderRows = (0L until s.orders).map(Gen.orderRow(seed, s, _))
    private val orderStep = orderRows.map(o => stepOf(bounds, o.getAs[LocalDateTime](4)))
    val orders: IndexedSeq[Seq[Long]] = {
      val by = orderRows.indices.groupBy(orderStep)
      bounds.indices.map(i => by.getOrElse(i, Nil).map(_.toLong))
    }
    def ordersUpTo(step: Int): Seq[Long] = (0 to step).flatMap(orders)
    private val lineRows = orderRows.flatMap(Gen.lineRows(seed, s, _))
    private val lineStep = lineRows.map(l => stepOf(bounds, l.getAs[LocalDateTime](10)))
    /** A fiftieth of each step's line items (assumed), chosen among lines
      * landed before it, come back as soft deletes (`l_linestatus = 'D'`). */
    val corrections: Seq[Row] = (1 until bounds.size).flatMap { i =>
      val earlier = lineRows.indices.filter(j => lineStep(j) >= 0 && lineStep(j) < i)
      val n = math.max(1, lineStep.count(_ == i) / 50)
      val r = Gen.rng(seed, "corrections", i)
      Iterator.continually(earlier(r.nextInt(earlier.size))).distinct.take(n).map { j =>
        val l = lineRows(j)
        Row.fromSeq(l.toSeq.updated(9, "D").updated(10, bounds(i - 1).plusHours(12)) :+
          lineId(l) :+ i)
      }
    }
    val lines: IndexedSeq[Seq[(String, Boolean)]] = {
      val by = lineRows.indices.groupBy(lineStep)
      val del = corrections.groupBy(_.getInt(12))
      bounds.indices.map(i => by.getOrElse(i, Nil).map(j => (lineId(lineRows(j)).toString, false)) ++
        del.getOrElse(i, Nil).map(r => (r.getLong(11).toString, true)))
    }
    /** End (exclusive) of each step's documents and events. */
    val docEnd: IndexedSeq[Long] =
      (1000L +: widths.map(_ * DocsPerDay.toLong)).scanLeft(0L)(_ + _).tail.toIndexedSeq
    val eventEnd: IndexedSeq[Long] =
      (Gen.sizes(EventScale).events.toLong +: widths.map(_ * EventsPerDay))
        .scanLeft(0L)(_ + _).tail.toIndexedSeq
  }

  def configJson(root: String, cutoff: LocalDateTime): String = {
    val from = s"TIMESTAMP '${cutoff.toString.replace('T', ' ')}:00'"
    s"""{"jobs": [
      {"name": "orders_incr", "table": "orders", "idCol": "o_orderkey",
       "fields": [{"name": "order_id", "expr": "o_orderkey"},
                  {"name": "customer", "expr": "o_custkey"},
                  {"name": "status", "expr": "o_orderstatus", "quoted": true},
                  {"name": "total", "expr": "CAST(o_totalprice AS DECIMAL(12,2))"},
                  {"name": "date", "expr": "CAST(o_orderdate AS DATE)", "quoted": true},
                  {"name": "priority", "expr": "o_orderpriority", "quoted": true}],
       "shards": 4, "batchSize": 100,
       "mode": {"watermarkCol": "o_orderdate", "from": "$from"},
       "deadLetterDir": "$root/dlq/orders", "deadLetterBudget": 100000},
      {"name": "lineitem_upsert", "table": "lineitem", "idCol": "l_id",
       "fields": [{"name": "order_id", "expr": "l_orderkey"},
                  {"name": "line", "expr": "l_linenumber"},
                  {"name": "part", "expr": "l_partkey"},
                  {"name": "qty", "expr": "CAST(l_quantity AS DECIMAL(12,2))"},
                  {"name": "price", "expr": "CAST(l_extendedprice AS DECIMAL(12,2))"},
                  {"name": "shipped", "expr": "CAST(l_shipdate AS DATE)", "quoted": true}],
       "shards": 4, "batchSize": 200,
       "mode": {"watermarkCol": "l_shipdate", "from": "$from",
                "deleteWhere": "l_linestatus = 'D'"},
       "deadLetterDir": "$root/dlq/lineitem", "deadLetterBudget": 100000}
    ]}"""
  }

  def liveSegments(root: String): Int =
    AliasedIndex.resolve(s"$root/meta").fold(0)(d =>
      Files.readAllLines(Paths.get(d, "segments")).asScala.count(_.trim.nonEmpty))

  def versions(root: String): Int =
    if (!Files.isDirectory(Paths.get(root))) 0
    else {
      val l = Files.list(Paths.get(root))
      try l.iterator.asScala.count(_.getFileName.toString.matches("v-\\d+")) finally l.close()
    }
}
