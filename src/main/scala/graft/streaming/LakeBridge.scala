package graft.streaming

import graft.Tables
import graft.sinks.AliasedIndex
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** The streaming→lake bridge (r18 verdict #2): an append-commit lake
  * table — snapshot manifest lists over immutable data files, the
  * q_scan_timetravel commit shape — maintained by a Structured
  * Streaming loop under the EXACTLY-ONCE batch ledger, plus the CDF
  * consumer that reads each commit as the DIFF OF ITS MANIFESTS — no
  * data compare, O(files) planning.
  *
  * Layout:
  * {{{
  *   root/files/f-NNNNN/        one immutable parquet dir per commit
  *   root/snapshots/            an AliasedIndex root, a version per snapshot
  *     v-NNNNN/manifest         newline list of the data dirs it reads
  *     v-NNNNN/kind             "append" | "rewrite"
  *     current                  the commit pointer
  * }}}
  *
  * Data dirs are staged through
  * [[AliasedIndex.stage]] and snapshots published through
  * [[AliasedIndex.publish]], which owns the commit protocol: the
  * `current` flip is the commit, the committed snapshots are the lineage
  * back from it, and the stream ledger rides inside each snapshot. A
  * crash before the flip leaves an uncommitted snapshot and an
  * unreferenced data dir that no reader, CDF consumer or ledger check
  * sees; the replay re-runs onto the old snapshot. The lake keeps every
  * snapshot until [[vacuum]].
  *
  * 100 TB: this is the Delta/Iceberg streaming-sink contract — the
  * stream is Kafka, the manifest write is the format's transaction-log
  * commit (whose txn/appId field IS the ledger), and the CDF consumer
  * is an incremental downstream job that never rescans the table.
  */
object LakeBridge {

  private def snapRoot(root: String) = s"$root/snapshots"

  private def filesRoot(root: String) = Paths.get(root, "files")

  private def snapDir(root: String, v: Int) = Paths.get(snapRoot(root), f"v-$v%05d")

  /** Committed snapshot versions, ascending. */
  def versions(root: String): Seq[Int] =
    AliasedIndex.versions(Paths.get(snapRoot(root))).map(_._1)

  private def number(versionDir: String): Int =
    Paths.get(versionDir).getFileName.toString.drop(2).toInt

  def currentVersion(root: String): Option[Int] =
    AliasedIndex.resolve(snapRoot(root)).map(number)

  /** Commit kind: "append" (the commit's added files are a ROW delta —
    * Delta/Iceberg dataChange=true) vs "rewrite" (compaction — the
    * added file re-states existing rows and carries NO row delta;
    * dataChange=false). A CDF consumer folding diffs must skip
    * rewrites or it double-counts the whole table across a compaction
    * (r18 advice). */
  def commitKind(root: String, v: Int): String =
    Files.readString(snapDir(root, v).resolve("kind")).trim

  private def dataDirs(root: String, v: Int): Seq[String] =
    Files.readAllLines(snapDir(root, v).resolve("manifest")).asScala.toSeq
      .map(_.trim).filter(_.nonEmpty)

  /** Snapshot v's full file list — the O(files) plan step, a file read
    * that starts no Spark job. */
  def manifest(spark: SparkSession, root: String, v: Int): Seq[String] =
    dataDirs(root, v).map(filesRoot(root).resolve(_).toString)

  /** Stage `rows` as one new data dir and publish a snapshot whose
    * manifest is `base` plus that dir; returns the snapshot version. */
  private def commit(root: String, rows: DataFrame, kind: String,
      base: Seq[String], batch: Option[Long]): Int = {
    val files = filesRoot(root)
    Files.createDirectories(files)
    val name = AliasedIndex.nextNames(files, "f").head
    AliasedIndex.stage(files, name)(rows.coalesce(1).write.mode("overwrite").parquet(_))
    number(AliasedIndex.publish(snapRoot(root), keep = Int.MaxValue, batch) { d =>
      Files.writeString(Paths.get(d, "manifest"), (base :+ name).mkString("\n"))
      Files.writeString(Paths.get(d, "kind"), kind)
    })
  }

  /** One append COMMIT: write the rows as a new immutable data dir and
    * publish a snapshot whose manifest is the previous list plus it.
    * Returns false (and writes nothing) when `batchId` is already
    * committed — the exactly-once skip. Empty batches are skipped
    * without a commit (nothing to fold; replaying them is harmless by
    * construction). */
  def appendCommit(spark: SparkSession, root: String, rows: DataFrame,
      batchId: Option[Long] = None): Boolean =
    if (batchId.exists(AliasedIndex.replayed(snapRoot(root), _)) || rows.isEmpty) false
    else {
      commit(root, rows, "append",
        currentVersion(root).fold(Seq.empty[String])(dataDirs(root, _)), batchId)
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
  def compactCommit(spark: SparkSession, root: String): Int =
    commit(root, read(spark, root), "rewrite", Nil, batch = None)

  /** VACUUM with snapshot retention — the lifecycle's last op (commit →
    * compact → vacuum): retire every snapshot older than the `keep` most
    * recent, then the data dirs no kept snapshot names. Returns
    * (snapshots dropped, data dirs deleted). Retention is the safety
    * contract: a reader planning from a kept snapshot never loses a
    * file mid-scan — the grace [[AliasedIndex]] gives in-flight
    * readers. The ledger is unaffected: it rides the kept current
    * snapshot. */
  def vacuum(spark: SparkSession, root: String, keep: Int = 2): (Int, Int) = {
    val dropped = AliasedIndex.vacuum(snapRoot(root), keep)
    val live = versions(root).flatMap(dataDirs(root, _)).toSet
    (dropped.size, AliasedIndex.sweep(filesRoot(root), "f", live).size)
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
      AliasedIndex.writeAtomically(ledgerPath, v.toString.getBytes("UTF-8"))
    }
    todo.map(_._1)
  }

  /** Continuous lake maintenance: every micro-batch appends one commit
    * through the exactly-once ledger. */
  def maintainContinuous(stream: DataFrame, root: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    AliasedIndex.maintain(stream, "lake", root, checkpointDir)((batch, batchId) =>
      appendCommit(batch.sparkSession, root, batch, Some(batchId)))
}
