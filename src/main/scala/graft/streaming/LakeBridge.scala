package graft.streaming

import graft.Tables
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** The streaming→lake bridge (r18 verdict #2): an append-commit lake
  * table — snapshot manifest lists over immutable data files, the
  * q_scan_timetravel commit shape — maintained by a Structured
  * Streaming foreachBatch loop under an EXACTLY-ONCE batch ledger (the
  * [[graft.search.InvertedIndex.appendBatch]] precedent, replayed for
  * the commit tier), plus the CDF consumer that reads each commit as
  * the DIFF OF ITS MANIFESTS — no data compare, O(files) planning.
  *
  * Layout:
  * {{{
  *   root/files/f-NNNNN/            one immutable parquet dir per commit
  *   root/snapshots/v-NNNNN/
  *     manifest/                    parquet: (path) — the full file list
  *     batch                        text: highest stream batchId folded
  *     _commit                      marker, written LAST — the publish
  * }}}
  *
  * Exactly-once: foreachBatch is at-least-once — a crash between the
  * snapshot publish and the checkpoint commit replays the same batchId
  * with the same rows, and a second commit of them would double every
  * downstream aggregate. The ledger lives INSIDE the snapshot the
  * `_commit` marker publishes: a replay whose commit already published
  * reads its own batchId back and is skipped; one whose commit didn't
  * finds no `_commit` marker, resolves the OLD snapshot, and re-runs —
  * its crashed attempt's files are unreferenced orphans. Either way the
  * batch lands exactly once. The ledger is CARRIED by later un-batched
  * commits (a nightly load interleaving with the stream), so a replay
  * after maintenance is still skipped.
  *
  * 100 TB: this is the Delta/Iceberg streaming-sink contract — the
  * stream is Kafka, the manifest write is the format's transaction-log
  * commit (whose txn/appId field IS this ledger), and the CDF consumer
  * is an incremental downstream job that never rescans the table.
  */
object LakeBridge {

  private def snapRoot(root: String) = Paths.get(root, "snapshots")

  private def snapDir(root: String, v: Int) =
    snapRoot(root).resolve(f"v-$v%05d")

  /** Committed snapshot versions, ascending — a version exists only
    * once its `_commit` marker does (the atomic publish). */
  def versions(root: String): Seq[Int] = {
    val sr = snapRoot(root)
    if (!Files.exists(sr)) Seq.empty
    else {
      val ls = Files.list(sr)
      try ls.iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("v-") &&
          Files.exists(p.resolve("_commit")))
        .map(_.getFileName.toString.drop(2).toInt).toList.sorted
      finally ls.close()
    }
  }

  def currentVersion(root: String): Option[Int] = versions(root).lastOption

  /** The highest stream batchId folded into snapshot `v`. */
  private def ledger(root: String, v: Int): Option[Long] = {
    val p = snapDir(root, v).resolve("batch")
    if (Files.exists(p)) Files.readString(p).trim.toLongOption else None
  }

  /** Commit kind: "append" (the commit's added files are a ROW delta —
    * Delta/Iceberg dataChange=true) vs "rewrite" (compaction — the
    * added file re-states existing rows and carries NO row delta;
    * dataChange=false). A CDF consumer folding diffs must skip
    * rewrites or it double-counts the whole table across a compaction
    * (r18 advice). Missing marker (pre-r19 layouts) reads as append. */
  def commitKind(root: String, v: Int): String = {
    val p = snapDir(root, v).resolve("kind")
    if (Files.exists(p)) Files.readString(p).trim else "append"
  }

  /** Snapshot v's full file list — the O(files) plan step. */
  def manifest(spark: SparkSession, root: String, v: Int): Seq[String] =
    Tables.parquet(spark, snapDir(root, v).resolve("manifest").toString)
      .collect().map(_.getString(0)).toSeq

  /** One append COMMIT: write the rows as a new immutable file dir,
    * publish a snapshot whose manifest is the previous list plus the
    * new dir, ledger inside, `_commit` marker last. Returns false (and
    * writes nothing) when `batchId` is already covered by the current
    * snapshot's ledger — the exactly-once skip. Empty batches are
    * skipped without a commit (nothing to fold; replaying them is
    * harmless by construction). */
  def appendCommit(spark: SparkSession, root: String, rows: DataFrame,
      batchId: Option[Long] = None): Boolean = {
    val cur = currentVersion(root)
    val done = batchId.exists(b =>
      cur.flatMap(v => ledger(root, v)).exists(_ >= b))
    if (done || rows.isEmpty) return false
    val next = cur.fold(1)(_ + 1)
    val dataDir = Paths.get(root, "files", f"f-$next%05d").toString
    rows.coalesce(1).write.mode("overwrite").parquet(dataDir)
    val prevPaths = cur.map(v => manifest(spark, root, v)).getOrElse(Seq.empty)
    import spark.implicits._
    val sd = snapDir(root, next)
    (prevPaths :+ dataDir).toDF("path").coalesce(1)
      .write.mode("overwrite").parquet(sd.resolve("manifest").toString)
    // carry the highest ledger forward across un-batched commits
    val carried = batchId.orElse(cur.flatMap(v => ledger(root, v)))
    carried.foreach(b =>
      Files.write(sd.resolve("batch"), b.toString.getBytes("UTF-8")))
    Files.write(sd.resolve("kind"), "append".getBytes("UTF-8"))
    Files.write(sd.resolve("_commit"), Array.emptyByteArray)
    true
  }

  /** Read a snapshot (current unless `v` given): plan from its
    * manifest, scan exactly its files. */
  def read(spark: SparkSession, root: String, v: Option[Int] = None): DataFrame = {
    val ver = v.orElse(currentVersion(root)).getOrElse(
      sys.error(s"no committed snapshot at $root"))
    Tables.parquet(spark, manifest(spark, root, ver): _*)
  }

  /** The CDF consumer: every ROW-DELTA commit's delta as (version,
    * DataFrame over ONLY the files that commit added) — the manifest
    * diff, never a table scan. An incremental downstream job folds
    * these in order. Rewrite commits (compaction) are SKIPPED: their
    * added file re-states rows earlier commits already delivered
    * (dataChange=false in Delta/Iceberg terms), so folding it would
    * double-count the entire table (r18 advice; pinned across a
    * compact in StreamLakeSpec). */
  def commitDiffs(spark: SparkSession, root: String): Seq[(Int, DataFrame)] = {
    val vs = versions(root)
    vs.zip(None +: vs.init.map(Some(_)))
      .filter { case (v, _) => commitKind(root, v) == "append" }
      .map { case (v, prevV) =>
        val prev = prevV.map(p => manifest(spark, root, p).toSet)
          .getOrElse(Set.empty[String])
        val added = manifest(spark, root, v).filterNot(prev)
        require(added.nonEmpty, s"commit v$v added no files")
        (v, Tables.parquet(spark, added: _*))
      }
  }

  /** COMPACTION commit — the small-files maintenance op a long stream
    * needs (each micro-batch is one file; an uncompacted stream pays
    * per-file listing/open costs at serve time — the
    * [[graft.search.InvertedIndex.compact]] contract for the lake):
    * rewrite the current snapshot's rows as ONE file dir and publish a
    * manifest naming only it. Readers in flight keep the old snapshot
    * (its files are untouched until [[vacuum]] retires them past the
    * retention window); the ledger carries so stream replays stay
    * skipped through maintenance. */
  def compactCommit(spark: SparkSession, root: String): Int = {
    val cur = currentVersion(spark, root)
    val next = cur + 1
    val dataDir = Paths.get(root, "files", f"f-$next%05d").toString
    read(spark, root).coalesce(1).write.mode("overwrite").parquet(dataDir)
    import spark.implicits._
    val sd = snapDir(root, next)
    Seq(dataDir).toDF("path").coalesce(1)
      .write.mode("overwrite").parquet(sd.resolve("manifest").toString)
    ledger(root, cur).foreach(b =>
      Files.write(sd.resolve("batch"), b.toString.getBytes("UTF-8")))
    Files.write(sd.resolve("kind"), "rewrite".getBytes("UTF-8"))
    Files.write(sd.resolve("_commit"), Array.emptyByteArray)
    next
  }

  private def currentVersion(spark: SparkSession, root: String): Int =
    currentVersion(root).getOrElse(sys.error(s"no committed snapshot at $root"))

  /** VACUUM with snapshot retention — the lifecycle's last op (commit →
    * compact → vacuum): drop every snapshot older than the `keep` most
    * recent, then delete data-file dirs no kept manifest references.
    * Returns (snapshots dropped, file dirs deleted). Retention is the
    * safety contract: a reader planning from a kept snapshot never
    * loses a file mid-scan, because only files EXCLUSIVE to dropped
    * snapshots are deleted — the same grace the inverted index's
    * two-version AliasedIndex gives in-flight readers. The ledger is
    * unaffected: it rides the kept current snapshot. */
  def vacuum(spark: SparkSession, root: String, keep: Int = 2): (Int, Int) = {
    require(keep >= 1, s"vacuum must keep at least one snapshot, got $keep")
    val vs = versions(root)
    val (dropped, kept) = vs.splitAt(math.max(0, vs.size - keep))
    val referenced = kept.flatMap(v => manifest(spark, root, v)).toSet
    def rmTree(p: java.nio.file.Path): Unit = {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }
    val orphaned = dropped.flatMap(v => manifest(spark, root, v))
      .distinct.filterNot(referenced)
    // order matters for crash safety: retire the snapshots FIRST (the
    // `_commit` marker, then the dir) so a crash mid-vacuum never
    // leaves a resolvable snapshot referencing deleted files
    dropped.foreach { v =>
      Files.deleteIfExists(snapDir(root, v).resolve("_commit"))
      rmTree(snapDir(root, v))
    }
    orphaned.foreach(d => rmTree(Paths.get(d)))
    (dropped.size, orphaned.size)
  }

  /** The lake→sync composition (r18 verdict #8): fold every UNSYNCED
    * row-delta commit into an idempotent index delivery through the
    * q_sync_incremental upsert engine — stream → lake commits →
    * incremental index sync, the full product loop under BOTH
    * exactly-once ledgers. Each commit delivers as its own GENERATION
    * (gen = the lake version), so [[graft.sinks.Writers.foldState]]
    * replays them in commit order like a store applying bulk requests.
    * The sync side's ledger (`_synced` at the index root) records the
    * highest lake version delivered; a restart re-reads it and resumes
    * from the next commit. Crash AFTER a delivery but BEFORE its ledger
    * write redelivers that one generation — byte-identically into the
    * same gen dir (the FileBulkClient idempotency contract), so the
    * folded state is exactly-once either way. Rewrite (compaction)
    * commits carry no row delta and are already skipped by
    * [[commitDiffs]] — maintenance cannot double-deliver.
    * Returns the lake versions delivered this call.
    */
  def syncCommits(spark: SparkSession, root: String, job: graft.sync.SyncJob,
      indexDir: String): Seq[Int] = {
    val ledgerPath = Paths.get(indexDir, "_synced")
    val last =
      if (Files.exists(ledgerPath)) Files.readString(ledgerPath).trim.toInt
      else 0
    val todo = commitDiffs(spark, root).filter(_._1 > last)
    todo.foreach { case (v, df) =>
      graft.sync.SyncRunner.runOn(df, job,
        graft.sinks.FileBulkClient(indexDir, gen = Some(v)))
      Files.createDirectories(Paths.get(indexDir))
      // atomic replace: a torn ledger would fail the next call's parse
      graft.sinks.AliasedIndex.writeAtomically(ledgerPath, v.toString.getBytes("UTF-8"))
    }
    todo.map(_._1)
  }

  /** Continuous lake maintenance: every micro-batch appends one commit
    * through the exactly-once ledger. */
  def maintainContinuous(stream: DataFrame, root: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    require(stream.isStreaming, "maintainContinuous needs a streaming DataFrame")
    stream.writeStream
      .queryName(s"graft-lake-${Paths.get(root).getFileName}")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendCommit(batch.sparkSession, root, batch, Some(batchId))
        ()
      }
      .start()
  }
}
