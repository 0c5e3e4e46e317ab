package graft.sync

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.Tables
import graft.operators.Dedup

/** First-copy-wins dedup gate for a continuous ingest: each micro-batch
  * is probed against a DURABLE signature store of every document ever
  * seen, near-dups of earlier docs are shed, and the batch's own
  * signatures — shed docs included, the store is grow-only — are
  * appended before the survivors flow on to delivery. Plugged into
  * [[ContinuousSync.start]] via its `gate` parameter, this is the
  * streaming form of `q_dedup_ingest`: the same fold, arriving one
  * micro-batch at a time instead of one nightly batch.
  *
  * Batch rows must carry `doc_id`, `lang`, `text`, `n_chars` (the
  * `documents` shape), and doc ids must be an id-suffix per batch
  * (every id in batch N greater than every id before it — the natural
  * append-only assignment, and what a CDC offset or ingest sequence
  * gives for free). [[Dedup.incrementalCandidates]] then emits each
  * candidate pair exactly once with no distinct pass, and the shed set
  * is batching-invariant: any micro-batch schedule converges to the
  * one-shot corpus answer (IncrementalDedupSpec's fold theorem).
  *
  * Idempotent replay, the [[ContinuousSync]] contract: the store is
  * partitioned `batch=<id>`, a replayed batch OVERWRITES its own
  * partition, and probing reads only partitions strictly below the
  * current batchId — so a half-written partition from a crashed
  * attempt is invisible to its own replay and the shed set is
  * deterministic. At 100 TB the store holds a few hundred bytes per
  * doc (block keys + token codes, not text), and each batch's probe
  * cost is delta × blockmates — the lake's history is read, never
  * self-joined.
  */
class DedupGate(val storeRoot: String, thresh: Double = 0.8,
    num: Int = 4, den: Int = 5) {
  import DedupGate.{TmpName, MarkerName}

  // the size-ratio prune is only lossless when num/den <= thresh
  // (|A|/|B| >= J for any pair); a tighter prune would silently shed
  // fewer docs than the threshold promises
  require(num <= thresh * den,
    s"size-ratio prune $num/$den is tighter than thresh=$thresh: " +
      "true near-dups would be silently missed")

  private val sigCols = Seq("doc_id", "lang", "bucket", "sz", "codes")

  /** Every committed signature row, `batch` from the `batch=N` dirs. */
  private def store(spark: org.apache.spark.sql.SparkSession): DataFrame =
    Tables.parquet(spark, Map("basePath" -> storeRoot), storeRoot)

  /** Signatures from every batch strictly below `batchId`, or None if
    * the store has none (first batch, or a replay of it). The listing
    * check is explicit because reading a nonexistent/empty parquet root
    * throws rather than yielding an empty frame.
    */
  private def prior(batch: DataFrame, batchId: Long): Option[DataFrame] =
    if (!batchIds().exists(_ < batchId)) None
    else Some(store(batch.sparkSession).where(col("batch") < batchId)
      .select(sigCols.map(col): _*))

  /** Shed earlier-seen near-dups from `batch`, record the whole batch's
    * signatures, return the survivors. Shaped for
    * [[ContinuousSync.start]]'s `gate` parameter.
    */
  def filterBatch(batch: DataFrame, batchId: Long): DataFrame = {
    recover()
    val sig = Dedup.signatures(batch)
    val all = prior(batch, batchId).fold(sig)(p => p.unionAll(sig))
    val meta = (df: DataFrame) => df.select("doc_id", "lang", "bucket", "sz")
    val dropped = Dedup.jaccardVerifyUnordered(
        Dedup.incrementalCandidates(meta(sig), meta(all), num, den),
        all.select("doc_id", "codes"), thresh)
      .select(col("doc_b").as("doc_id")).distinct()
    // record BEFORE returning: the survivors frame is consumed lazily by
    // the delivery pass, and the probe above never reads this batch's
    // partition (strict < filter), so writing first keeps the gate's
    // state transition atomic with respect to a crash after delivery
    sig.write.mode("overwrite").parquet(s"$storeRoot/batch=$batchId")
    batch.join(dropped.hint("shuffle_hash"), Seq("doc_id"), "left_anti")
  }

  /** Compact the store's per-micro-batch partitions — its own
    * small-files problem: a long-running stream leaves one parquet dir
    * per batch, and every probe pays the listing/open tax on all of
    * them. Merges every partition with id <= `upTo` into the single
    * partition `batch=<upTo>`; probe visibility is unchanged because
    * every future (or replayable) batchId is > `upTo`, and the strict
    * `batch < batchId` filter still admits the merged rows.
    *
    * MUST run while the stream is stopped, with `upTo` strictly below
    * any batch that could still replay (the stream stopped after batch
    * N, possibly uncommitted => N may replay => pass `upTo = N - 1`).
    * Compacting N itself would hide its rows from its own replay's
    * probe and the replay would shed a different set.
    *
    * Crash-safe via a write-ahead marker: (1) write the merged rows to
    * a dot-dir Spark's listing ignores, (2) commit a marker file naming
    * `upTo`, (3) delete the source partitions, (4) rename the merged
    * dir into place, (5) drop the marker. A crash before (2) leaves the
    * store untouched; after (2) the merged dir is authoritative and
    * [[recover]] — called on every compact() and filterBatch() —
    * finishes steps (3)-(5). No window loses rows.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, upTo: Long): Unit = {
    recover()
    val src = batchIds().filter(_ <= upTo)
    if (src.size <= 1) return
    // merging into a partition id above every existing batch would hide
    // the whole history from any probe whose batchId <= upTo — an
    // operator error that must fail loudly, not deliver duplicates
    require(upTo <= batchIds().max,
      s"compact upTo=$upTo exceeds the newest store partition " +
        s"${batchIds().max}: the merged rows would be invisible to probes")
    val tmp = java.nio.file.Paths.get(storeRoot, TmpName)
    store(spark).where(col("batch") <= upTo).select(sigCols.map(col): _*)
      .write.mode("overwrite").parquet(tmp.toString)
    // the marker is the commit point, so it must APPEAR atomically: a
    // torn plain write would wedge (or worse, misdirect) every future
    // recover(); stage-and-rename is atomic on a POSIX dir
    graft.sinks.AliasedIndex.writeAtomically(
      java.nio.file.Paths.get(storeRoot, MarkerName), upTo.toString.getBytes("UTF-8"))
    finishCompaction(upTo)
  }

  /** Compact everything that can no longer replay: merges all store
    * partitions strictly below the newest one (the newest batch may be
    * uncommitted in the stream checkpoint and replay on restart — its
    * partition must stay addressable by its own id). The safe-`upTo`
    * arithmetic lives here so every stop path shrinks the store the same
    * way ([[ContinuousSync.stopAndCompact]]); a long-running stream that
    * skips it pays an ever-growing per-probe listing tax (one parquet
    * dir per micro-batch ever run), which is an operational leak even
    * though answers stay correct.
    */
  def compactSettled(spark: org.apache.spark.sql.SparkSession): Unit = {
    recover()
    val ids = batchIds()
    if (ids.size > 2) compact(spark, ids.max - 1)
  }

  /** Finish an interrupted compaction if a committed marker is present.
    * Idempotent; called from compact() and filterBatch().
    */
  def recover(): Unit = {
    val marker = java.nio.file.Paths.get(storeRoot, MarkerName)
    if (java.nio.file.Files.exists(marker)) {
      val raw = new String(java.nio.file.Files.readAllBytes(marker), "UTF-8").trim
      finishCompaction(raw.toLongOption.getOrElse(throw new IllegalStateException(
        s"unreadable compaction marker $marker: '$raw' — the marker is " +
          "written by atomic rename, so this is external corruption")))
    }
  }

  private def finishCompaction(upTo: Long): Unit = {
    val tmp = java.nio.file.Paths.get(storeRoot, TmpName)
    // if the staged dir is gone, the move to batch=<upTo> already
    // happened — the sources are deleted and batch=<upTo> IS the merged
    // data; deleting "sources <= upTo" again would destroy it. Only the
    // marker remains to clean up.
    if (java.nio.file.Files.isDirectory(tmp)) {
      batchIds().filter(_ <= upTo).foreach { id =>
        graft.sinks.AliasedIndex.deleteRecursively(
          java.nio.file.Paths.get(storeRoot, s"batch=$id"))
      }
      java.nio.file.Files.move(tmp,
        java.nio.file.Paths.get(storeRoot, s"batch=$upTo"))
    }
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(storeRoot, MarkerName))
  }

  private def batchIds(): Seq[Long] = {
    val root = java.nio.file.Paths.get(storeRoot)
    if (!java.nio.file.Files.isDirectory(root)) Nil
    else {
      val s = java.nio.file.Files.list(root)
      try s.iterator().asScala.toList.flatMap { p =>
        val n = p.getFileName.toString
        if (n.startsWith("batch=")) n.stripPrefix("batch=").toLongOption else None
      }
      finally s.close()
    }
  }
}

object DedupGate {
  /** Spark's file listing ignores dot-prefixed entries, so the staged
    * merge and the commit marker are invisible to probes.
    */
  private val TmpName = ".compact_tmp"
  private val MarkerName = ".compact_commit"
}
