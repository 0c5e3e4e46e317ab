package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** The one cache for every artifact a query builds once and serves many
  * times — pinned DataFrames (postings, near-dup edges, graphs, trained
  * codebooks), folded view/search roots, temp-view registrations,
  * warehouse layouts and corpus statistics — and the one source of
  * scratch directories.
  *
  * `get(owner, name, dir)` keys on (owner, name, dir) and stores the
  * FINGERPRINT of `dir` beside the value: path, size and mtime of every
  * file under it, listed through Hadoop `FileSystem`. A hit needs an
  * unchanged fingerprint, so data rewritten under the same path rebuilds
  * on the next call and never serves a stale answer — there is no
  * invalidation call to forget. The stale value is dropped with the
  * rebuild.
  *
  * The owner decides lifetime and sharing:
  *   - a `SparkSession` for session-bound values (pinned DataFrames
  *     reference their session; temp views live in its catalog). Owners
  *     compare by object identity, so a hash collision between two
  *     sessions can never hand one session another's state;
  *   - a `SparkContext` for facts about the data (warehouse layouts,
  *     generator choice, corpus counts): built once from any session.
  *
  * Retention is bounded on every access. Entries whose context has
  * stopped are dropped. At most `cap` distinct live SESSIONS hold
  * entries: session churn (a JVM looping `newSession()`, which never
  * stops the shared context) evicts whole sessions, longest-untouched
  * first and never the session being accessed. The cap counts sessions,
  * not entries, so one session holding many entries never thrashes.
  * Context-owned entries are not capped (one live context per JVM).
  *
  * A build runs at most once per key at a time, outside the map's bin
  * lock (the map only allocates the cell; the build runs under the
  * cell's lazy-val lock), and a build that throws is retried by the next
  * caller. Weak references would not bound anything: memoized DataFrames
  * reference their session, the classic value→key cycle.
  *
  * `root(owner, tag)` hands out fresh, never-reused directory paths
  * under one base per context (unique per process too, so overlapping
  * JVMs never share one). Bases are deleted after their context stops —
  * never while it runs, because a returned DataFrame may still read its
  * root lazily.
  *
  * `stopped` and `cap` are injectable for specs: the suite's shared
  * context cannot be stopped in-test.
  */
class Artifacts private[graft] (
    stopped: SparkContext => Boolean, cap: Int) {

  private final class Cell(val fp: Seq[(String, Long, Long)], thunk: () => Any) {
    lazy val value: Any = thunk()
  }
  private val cells = new ConcurrentHashMap[(AnyRef, String, String), Cell]()
  private val builtCount = new ConcurrentHashMap[(String, String), java.lang.Long]()
  // last-touch tick per session (identity keys: SparkSession keeps
  // Object.equals)
  private val touched = new ConcurrentHashMap[SparkSession, java.lang.Long]()
  private val tick = new AtomicLong()
  private val bases = new ConcurrentHashMap[SparkContext, Path]()
  private val seq = new AtomicLong()

  private def contextOf(owner: AnyRef): SparkContext = owner match {
    case s: SparkSession => s.sparkContext
    case c: SparkContext => c
    case other => throw new IllegalArgumentException(
      s"artifact owner must be a SparkSession or SparkContext, got $other")
  }

  /** The value for (owner, name, dir), built by `build` on a miss or when
    * the files under `dir` changed since the cached build. Every caller of
    * one `name` must expect the same value type. */
  def get[V](owner: AnyRef, name: String, dir: String)(build: => V): V = {
    val sc = contextOf(owner)
    sweep(owner)
    val fp = fingerprint(sc, dir)
    val cell = cells.compute((owner, name, dir), (_, old) =>
      if (old != null && old.fp == fp) old
      else new Cell(fp, () => {
        builtCount.merge((name, dir), 1L, (a, b) => a + b)
        build
      }))
    cell.value.asInstanceOf[V]
  }

  /** A fresh directory path (not yet created) for one use of `tag`. */
  def root(owner: AnyRef, tag: String): String = {
    val sc = contextOf(owner)
    sweep(owner)
    val base = bases.computeIfAbsent(sc, c => {
      val p = Files.createTempDirectory("graft_roots_")
      c.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          graft.sinks.AliasedIndex.deleteRecursively(p)
      })
      p
    })
    s"$base/${tag}_${seq.incrementAndGet()}"
  }

  /** How many times `name` was built for `dir` (any owner) — for specs. */
  private[graft] def builds(name: String, dir: String): Long =
    Option(builtCount.get((name, dir))).fold(0L)(_.longValue)

  private[graft] def liveSize: Int = { sweep(null); cells.size }

  /** Walked with listStatus, not listFiles: the located statuses listFiles
    * builds read each file's permissions, which the local filesystem gets
    * by forking a shell per file (measured 40 ms against 0.5 ms for the
    * ten fixture files, and a 0.25 s slower q_view_incremental call on a
    * 50-file dir). */
  private def fingerprint(sc: SparkContext, dir: String): Seq[(String, Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(sc.hadoopConfiguration)
    def walk(st: org.apache.hadoop.fs.FileStatus): Seq[(String, Long, Long)] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(walk)
      else Seq((st.getPath.toString, st.getLen, st.getModificationTime))
    if (!fs.exists(p)) Nil else walk(fs.getFileStatus(p)).sorted
  }

  private def sessions(): List[SparkSession] = {
    val seen = new java.util.IdentityHashMap[SparkSession, java.lang.Boolean]()
    cells.keySet().asScala.foreach {
      case (s: SparkSession, _, _) => seen.put(s, java.lang.Boolean.TRUE)
      case _ =>
    }
    seen.keySet().asScala.toList
  }

  /** `current` (null from liveSize) is touched and exempt from overflow
    * eviction — the access about to happen must not evict its own
    * working set. */
  private def sweep(current: AnyRef): Unit = {
    current match {
      case s: SparkSession => touched.put(s, java.lang.Long.valueOf(tick.incrementAndGet()))
      case _ =>
    }
    cells.keySet().removeIf(k => stopped(contextOf(k._1)))
    bases.entrySet().removeIf { e =>
      val dead = stopped(e.getKey)
      if (dead) graft.sinks.AliasedIndex.deleteRecursively(e.getValue)
      dead
    }
    var live = sessions()
    while (live.sizeIs > cap) {
      val victims = live.filter(_ ne current)
      if (victims.isEmpty) return
      val v = victims.minBy(s => Option(touched.get(s)).fold(0L)(_.longValue))
      cells.keySet().removeIf(_._1 eq v)
      touched.remove(v)
      live = sessions()
    }
    // touch records die with their session's last entry
    touched.keySet().removeIf(s => (s ne current) && !live.exists(_ eq s))
  }
}

object Artifacts extends Artifacts(_.isStopped, cap = 8)
