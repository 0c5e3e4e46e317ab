package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

/** One workload of the benchmark. `setup` runs before the timed region,
  * `run` is the closed loop of the timed region, a fixed amount of work
  * sized from the time to the deadline, `check` verifies outputs
  * afterwards and returns the failures it found that are not tied to one
  * operation. */
trait Workload {
  def setup(ctx: Ctx): Unit
  def run(ctx: Ctx, deadlineNs: Long): Unit
  def check(ctx: Ctx): Seq[String]
  /** Documents or rows the workload delivered in the timed region. */
  def records: Long
  /** Per-layer numbers this workload measures (traced rounds only). */
  def layers(ctx: Ctx): Map[String, Double]
  def describe: Map[String, String]
}

/** Benchmark JVM entry point:
  * `Main --workload W --seed N --seconds S --trace 0|1 --root DIR --out FILE
  * --python PYTHON --oracle ORACLE_PY [--spans FILE]`.
  * Runs one workload in one session and writes its result record (every
  * metric plus the run's settings) as JSON to FILE. */
object Main {
  val Workloads: Map[String, () => Workload] = Map(
    "query_mix" -> (() => new QueryMix),
    "sync_ingest" -> (() => new SyncIngest))

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val root = args("root")
    val out = Paths.get(args("out"))
    val nproc = Runtime.getRuntime.availableProcessors()
    // half the cores run tasks: at these sizes a call is no slower on
    // local[nproc/2] than on local[nproc], and the free cores keep the
    // planning thread, JIT and GC threads and other tenants of a shared host
    // off the task threads' cores, which steadies run-to-run times
    val cpus = math.max(1, nproc / 2)
    val workload = Workloads.getOrElse(name, sys.error(s"unknown workload $name"))()

    val spark = graft.GraftSession.builder(cpus.toString)
      .config("spark.local.dir", s"$root/tmp/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val ctx = new Ctx(spark, seed, root, trace, Seq(args("python"), args("oracle")))
    var setupError: Option[String] = None
    try workload.setup(ctx)
    catch { case NonFatal(e) => setupError = Some(s"setup: ${e.toString.take(300)}") }
    val loadAfterWarmup = loadavg()
    val cpuBefore = cpuTicks()

    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val deadline = ctx.startTimed(seconds)
    if (setupError.isEmpty) workload.run(ctx, deadline)
    ctx.timedEndNs = System.nanoTime()
    val loadEnd = loadavg()
    val cpuAfter = cpuTicks()
    // share of CPU time the hypervisor gave to other guests while timing:
    // a busy host slows every metric without any change in the engine
    val stealFrac = (cpuAfter, cpuBefore) match {
      case (Some((s1, t1)), Some((s0, t0))) if t1 > t0 => (s1 - s0).toDouble / (t1 - t0)
      case _ => -1.0
    }
    val timedS = (ctx.timedEndNs - ctx.timedStartNs) / 1e9
    if (trace) ctx.engine.drain(spark)
    val checkStartNs = System.nanoTime()
    val checkFailures = setupError.toSeq ++ workload.check(ctx)
    val checkS = (System.nanoTime() - checkStartNs) / 1e9

    val ops = ctx.ops
    val failed = ops.filterNot(_.ok)
    // a failed operation is never a fast success: it counts with the whole
    // timed region as its latency
    val lat = ops.map(o => if (o.ok) o.seconds else timedS)
    val attempted = math.max(1, ops.size + checkFailures.size)
    val e2e = Map(
      "setup_s" -> setupS,
      "op_p50_s" -> Stats.quantile(lat, 0.5),
      "op_p90_s" -> Stats.quantile(lat, 0.9),
      "ops_per_s" -> ops.count(_.ok) / timedS,
      "ok_frac" -> (ops.count(_.ok).toDouble / attempted),
      "peak_rss_mb" -> peakRssMb(),
      "docs_per_s" -> workload.records / timedS,
      "step_p50_s" -> Stats.median(ctx.steps.map { case (a, b) => (b - a) / 1e9 }))
    val layers = if (trace) perLayer(ctx, workload) else Map.empty[String, Double]

    if (trace) ctx.tracer.writeJsonl(Paths.get(args("spans")))
    spark.stop()
    // what the engine leaves in the run's temp dir once its session is gone
    val scratchLeft = Stats.dirBytes(s"$root/tmp")
    val record = Json.obj(
      "workload" -> Json.str(name),
      "seed" -> seed.toString,
      "seconds" -> seconds.toString,
      "trace" -> trace.toString,
      "correct" -> (failed.isEmpty && checkFailures.isEmpty).toString,
      "attempted" -> attempted.toString,
      "failed" -> (failed.size + checkFailures.size).toString,
      "errors" -> Json.arr((checkFailures ++ failed.take(20).map(o => s"${o.kind}: ${o.error}"))
        .map(Json.str)),
      "nproc" -> nproc.toString,
      "master" -> Json.str(spark.sparkContext.master),
      "shuffle_partitions" -> Json.str(spark.conf.get("spark.sql.shuffle.partitions")),
      "xmx_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "load_after_warmup" -> loadAfterWarmup.toString,
      "load_end" -> loadEnd.toString,
      "steal_frac" -> stealFrac.toString,
      "ops" -> ops.size.toString,
      "op_kinds" -> Json.obj(ops.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, rs) =>
        k -> Json.num(Map("n" -> rs.size.toDouble, "median_s" -> Stats.median(rs.map(_.seconds)))) }: _*),
      "op_log" -> Json.arr(ops.map(o => Json.arr(Seq(Json.str(o.kind), o.seconds.toString,
        o.ok.toString)))),
      "steps" -> ctx.steps.size.toString,
      "timed_s" -> timedS.toString,
      "phases_s" -> Json.num(Map("session" -> sessionS, "inputs_and_expected" -> ctx.harnessSeconds,
        "timed" -> timedS, "check" -> checkS)),
      "describe" -> Json.obj(workload.describe.toSeq.map { case (k, v) => k -> Json.str(v) }: _*),
      "end_to_end" -> Json.num(e2e),
      "per_layer" -> Json.num(layers + ("scratch.bytes_left" -> scratchLeft.toDouble)))
    Files.write(out, record.getBytes("UTF-8"))
  }

  /** Every per-layer metric, zero where the workload does not exercise the
    * layer. */
  def perLayer(ctx: Ctx, w: Workload): Map[String, Double] = {
    val e = ctx.engine
    val traced = ctx.ops.filter(_.traced)
    val jobs = scala.jdk.CollectionConverters.CollectionHasAsScala(e.jobs).asScala.toSeq
    // driver-only time: each traced operation's wall time not covered by
    // one of its own Spark jobs
    val byOp = jobs.groupBy(_._1)
    val driverOnly = traced.map { o =>
      val spans = byOp.getOrElse(o.id, Nil).map(j => (j._2, j._4)).sortBy(_._1)
      var covered = 0L; var end = Long.MinValue
      spans.foreach { case (a, b) =>
        val s = math.max(a, end)
        if (b > s) covered += b - s
        end = math.max(end, b)
      }
      math.max(0.0, o.seconds - covered / 1e3)
    }.sum
    val common = Map(
      "plans.plan_s" -> scala.jdk.CollectionConverters.CollectionHasAsScala(e.plans).asScala
        .map(_._2).sum / 1e3,
      "spark.jobs" -> jobs.size.toDouble,
      "spark.tasks" -> e.tasks.get.toDouble,
      "spark.sched_wait_s" -> jobs.map(j => (j._3 - j._2) / 1e3).sum,
      "spark.driver_only_s" -> driverOnly,
      "spark.cpu_s" -> e.cpuNs.get / 1e9,
      "spark.run_s" -> e.runMs.get / 1e3,
      "spark.gc_s" -> e.gcMs.get / 1e3,
      "spark.input_mb" -> e.inputBytes.get / 1048576.0,
      "spark.shuffle_write_mb" -> e.shuffleWriteBytes.get / 1048576.0,
      "spark.spill_mb" -> e.spillBytes.get / 1048576.0,
      "sinks.send_calls" -> SinkCounters.sendCalls.get.toDouble,
      "sinks.send_s" -> SinkCounters.sendNs.get / 1e9,
      "sinks.docs_sent" -> SinkCounters.docsSent.get.toDouble,
      "sinks.accept_ratio" -> (if (SinkCounters.docsSent.get == 0) 0.0
        else SinkCounters.docsAccepted.get.toDouble / SinkCounters.docsSent.get),
      "sinks.bytes_written" -> SinkCounters.bytesWritten.get.toDouble,
      "bench.trace_overhead_frac" -> traceOverhead(ctx))
    PerLayerNames.map(n => n -> 0.0).toMap ++ common ++ w.layers(ctx)
  }

  /** Geometric mean over operation kinds of (median traced latency /
    * median untraced latency) − 1. */
  def traceOverhead(ctx: Ctx): Double = {
    val ratios = ctx.ops.filter(_.ok).groupBy(_.kind).values.flatMap { rs =>
      val (t, u) = rs.partition(_.traced)
      if (t.isEmpty || u.isEmpty) None
      else Some(Stats.median(t.map(_.seconds)) / Stats.median(u.map(_.seconds)))
    }
    if (ratios.isEmpty) 0.0 else math.exp(ratios.map(math.log).sum / ratios.size) - 1
  }

  val PerLayerNames: Seq[String] = Seq(
    "operators.build_s", "memo.first_call_extra_s", "plans.plan_s",
    "spark.jobs", "spark.tasks", "spark.sched_wait_s", "spark.driver_only_s",
    "spark.cpu_s", "spark.run_s", "spark.gc_s", "spark.input_mb",
    "spark.shuffle_write_mb", "spark.spill_mb", "spark.count_s", "spark.output_s",
    "sync.plan_s", "sync.run_s", "sync.docs", "sync.batches", "sync.retried_tasks",
    "sinks.send_calls", "sinks.send_s", "sinks.docs_sent", "sinks.accept_ratio",
    "sinks.resends", "sinks.dead_lettered", "sinks.bytes_written", "sinks.publish_s",
    "search.append_s", "search.compact_s", "search.vacuum_s", "search.segments_live",
    "search.bytes_on_disk", "search.reader_s", "search.plan_s", "search.exec_s") ++
    Inputs.ReqKinds.filterNot(_ == "view").map(k => s"search.${k}_p50_s") ++
    Seq("view.refresh_s", "view.versions_on_disk", "view.read_s",
      "scratch.bytes_left", "bench.trace_overhead_frac") ++
    QueryMix.Families.map(f => s"operators.${f}_s")

  def loadavg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split("\\s+").head.toDouble
    catch { case NonFatal(_) => -1.0 }

  /** (steal, total) jiffies of all CPUs from /proc/stat. */
  def cpuTicks(): Option[(Long, Long)] =
    try {
      val f = scala.io.Source.fromFile("/proc/stat").getLines().next().split("\\s+").tail.map(_.toLong)
      Some((f(7), f.take(8).sum))
    } catch { case NonFatal(_) => None }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024
    } catch { case NonFatal(_) => -1.0 }
}

/** Minimal JSON writer for the result record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def num(m: Map[String, Double]): String =
    obj(m.toSeq.sortBy(_._1).map { case (k, v) =>
      k -> (if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString) }: _*)
}
