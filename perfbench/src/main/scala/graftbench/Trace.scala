package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call: which public function, when, under which parent span
  * and operation. Times are System.nanoTime. */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
    parent: Long, op: Long)

/** In-memory span recorder. Off (untraced rounds of a traced run, and
  * every untraced run) it only runs the body. On, it records one span per
  * call with the caller's enclosing span as parent; spans are written out
  * once, when the run ends. */
final class Tracer {
  @volatile var on: Boolean = false
  private val ids = new AtomicLong()
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  private val opOf = new ThreadLocal[Long] { override def initialValue(): Long = 0L }

  /** Mark the calling thread as working on operation `op` (0 = none). */
  def setOp(op: Long): Unit = opOf.set(op)

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, name, t0, System.nanoTime(), parent, opOf.get))
        stack.set(stack.get.tail)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Total seconds of spans named `name`. */
  def total(name: String): Double =
    spans.asScala.iterator.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).sum

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.id).map(s =>
      s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},"parent":${s.parent},"op":${s.op}}""")
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Engine counters for the traced rounds of a run: task metrics, job and
  * scheduling times from a SparkListener, and planning-phase times from a
  * QueryExecutionListener. Jobs are attributed to operations through the
  * `graftbench.op` local property, which Spark copies onto each job. */
final class EngineCounters extends SparkListener with QueryExecutionListener {
  val OpProp = "graftbench.op"
  @volatile var on: Boolean = false
  val tasks, runMs, cpuNs, gcMs, inputBytes, shuffleWriteBytes, spillBytes = new AtomicLong()
  private val jobStart = mutable.Map.empty[Int, (Long, Long)] // job -> (op, submit ms)
  private val stageJob = mutable.Map.empty[Int, Int]
  private val firstLaunch = mutable.Map.empty[Int, Long] // job -> first task launch ms
  /** (op, submitted ms, first task ms, end ms) per finished job. */
  val jobs = new ConcurrentLinkedQueue[(Long, Long, Long, Long)]()
  /** (planning end ms, planning ms) per finished query execution. */
  val plans = new ConcurrentLinkedQueue[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpProp)))
      .map(_.toLong).getOrElse(0L)
    jobStart(e.jobId) = (op, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = if (on) synchronized {
    stageJob.get(e.stageId).foreach { j =>
      if (!firstLaunch.contains(j)) firstLaunch(j) = e.taskInfo.launchTime
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (op, t0) =>
      jobs.add((op, t0, firstLaunch.remove(e.jobId).getOrElse(e.time), e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on && e.taskMetrics != null) {
    val m = e.taskMetrics
    tasks.incrementAndGet()
    runMs.addAndGet(m.executorRunTime)
    cpuNs.addAndGet(m.executorCpuTime)
    gcMs.addAndGet(m.jvmGCTime)
    inputBytes.addAndGet(m.inputMetrics.bytesRead)
    shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  private def planned(qe: QueryExecution): Unit = if (on) {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty)
      plans.add((phases.map(_.endTimeMs).max, phases.map(p => p.endTimeMs - p.startTimeMs).sum))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planned(qe)

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def drain(spark: SparkSession): Unit =
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
}

/** Counters of the benchmark's bulk-client wrapper. Delivery tasks run in
  * this JVM (local mode), so process-wide counters see every call. */
object SinkCounters {
  val sendCalls, sendNs, docsSent, docsAccepted, bytesWritten = new AtomicLong()
  @volatile var on: Boolean = false
}
