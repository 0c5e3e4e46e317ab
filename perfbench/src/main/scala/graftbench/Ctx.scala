package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed operation. `ok` turns false when the call threw or its output
  * failed a check (also a check made after the timed region). */
final class OpRecord(val id: Long, val kind: String, val startNs: Long,
    val endNs: Long, val traced: Boolean, @volatile var ok: Boolean,
    @volatile var error: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Shared state of one benchmark run: the session, the run's private
  * directory, the command that runs `oracle.py`, the operation log, the
  * tracer and the engine counters.
  *
  * In a traced run the rounds of the timed loop alternate: even rounds run
  * exactly like an untraced run, odd rounds with the tracer, the engine
  * counters and the sink counters on. Per-layer numbers come from the
  * traced rounds only, and the latencies of the two kinds of round give
  * the tracing overhead. */
final class Ctx(val spark: SparkSession, val seed: Long, val root: String,
    val traceMode: Boolean, val oracleCmd: Seq[String]) {
  val tracer = new Tracer
  val engine = new EngineCounters
  private val opIds = new AtomicLong()
  private val opLog = new ConcurrentLinkedQueue[OpRecord]()
  private val stepLog = new ConcurrentLinkedQueue[(Long, Long)]()
  @volatile var timedStartNs: Long = 0L
  @volatile var timedEndNs: Long = 0L
  private var harnessNs = 0L
  private val wallOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1000000

  /** Wall-clock milliseconds of a System.nanoTime reading. */
  def wallMs(ns: Long): Long = wallOffsetMs + ns / 1000000

  /** Time spent making inputs and expected answers. It is part of
    * `setup_s` (it runs Spark jobs, the engine's first ones among them) and
    * is also reported as a phase of its own in the run record. */
  def harness[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally synchronized { harnessNs += System.nanoTime() - t0 }
  }
  def harnessSeconds: Double = synchronized(harnessNs / 1e9)

  def startTimed(seconds: Double): Long = {
    if (traceMode) engine.attach(spark)
    timedStartNs = System.nanoTime()
    timedStartNs + (seconds * 1e9).toLong
  }

  /** Start round `i` of the timed loop: in a traced run, odd rounds are
    * traced. Pending listener events are delivered first, so each event
    * counts under the round that caused it. */
  def round(i: Int): Unit = if (traceMode && (i % 2 == 1) != tracer.on) {
    engine.drain(spark)
    val on = i % 2 == 1
    engine.on = on
    SinkCounters.on = on
    tracer.on = on
  }

  /** Run one timed operation. A throw is recorded as a failure, never as
    * a fast success; the workload carries on with its next operation. */
  def op(kind: String)(body: => Unit): OpRecord = {
    val traced = tracer.on
    val id = opIds.incrementAndGet()
    if (traced) {
      spark.sparkContext.setLocalProperty(engine.OpProp, id.toString)
      tracer.setOp(id)
    }
    var ok = true
    var err: String = null
    val t0 = System.nanoTime()
    try tracer.span(kind)(body)
    catch {
      case NonFatal(e) =>
        ok = false
        err = e.toString.linesIterator.nextOption().getOrElse("").take(300)
    }
    val rec = new OpRecord(id, kind, t0, System.nanoTime(), traced, ok, err)
    if (traced) {
      spark.sparkContext.setLocalProperty(engine.OpProp, null)
      tracer.setOp(0L)
    }
    opLog.add(rec)
    rec
  }

  /** Fail an operation after the fact (an output check made later). */
  def fail(rec: OpRecord, why: String): Unit = { rec.ok = false; if (rec.error == null) rec.error = why }

  def step(startNs: Long, endNs: Long): Unit = stepLog.add((startNs, endNs))

  def ops: Seq[OpRecord] = opLog.asScala.toSeq.sortBy(_.id)
  def steps: Seq[(Long, Long)] = stepLog.asScala.toSeq

  /** Run `body` outside any timing, rethrowing nothing: used for the
    * post-run checks, whose failures are reported, not raised. */
  def checked(what: String)(body: => Boolean): Option[String] =
    try { if (body) None else Some(s"$what: mismatch") }
    catch { case NonFatal(e) => Some(s"$what: ${e.toString.take(300)}") }
}

object Stats {
  /** Harrell–Davis quantile: every order statistic weighted by the mass a
    * Beta((n+1)q, (n+1)(1−q)) distribution puts on its rank interval.
    * A run holds 17–18 operations of six to fourteen kinds, so the one or
    * two order statistics that interpolation between ranks uses fall on
    * the boundary between two kinds, and the estimate jumps with that one
    * kind's calls; the weighted sum moves smoothly. The weights come from
    * the Beta density on a midpoint grid, normalised by its total. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val n = s.size
    if (n == 1) return s.head
    val (a, b) = ((n + 1) * q, (n + 1) * (1 - q))
    val perRank = 1000
    val dens = Array.tabulate(n * perRank) { i =>
      val t = (i + 0.5) / (n * perRank)
      math.exp((a - 1) * math.log(t) + (b - 1) * math.log1p(-t))
    }
    val total = dens.sum
    s.indices.map(i => s(i) * dens.slice(i * perRank, (i + 1) * perRank).sum / total).sum
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def dirBytes(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val w = java.nio.file.Files.walk(p)
      try w.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(f => try java.nio.file.Files.size(f) catch { case NonFatal(_) => 0L }).sum
      finally w.close()
    }
  }
}
