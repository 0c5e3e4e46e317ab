package graft.sinks

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Full-sync index-recreate with alias swap (SURVEY §3.1): the
  * reference's full mode rebuilds the target index from scratch and then
  * swaps a serving alias onto it, so readers never observe a
  * half-written index. This is the ONE versioned-commit protocol behind
  * every index, view, sync and lake root:
  *
  * {{{
  *   root/
  *     v-00001/…         immutable, fully-written version dirs
  *     v-00002/batch     the stream ledger, when one is kept
  *     _v-00002.parent   the version `current` named when v-00002 published
  *     current           one-line pointer file, atomically replaced
  * }}}
  *
  * Stage → flip → GC. A publish builds the ENTIRE next version under a
  * hidden `.building-*` dir (a crashed writer leaves only hidden junk),
  * renames it to `v-NNNNN`, records its parent, then flips `current` by
  * ATOMIC_MOVE-ing a tmp pointer file over it — readers see the old
  * complete version or the new one (POSIX rename atomicity, the
  * guarantee an ES alias swap gives). Only the flip commits: the
  * committed versions are the lineage back from `current`, so a version
  * renamed into place by a publish that crashed before its flip is never
  * read, counted or carried. GC keeps `keep` versions of that lineage —
  * at least 2, so a reader that resolved just before a publish keeps its
  * version — retires every older version, and never touches a newer one.
  *
  * Ledger (the Delta log's streaming `txn` id): `foreachBatch` is
  * at-least-once and a fold is not idempotent, so a publish given
  * `batch` commits it INSIDE the version it flips, and one without
  * carries the current value forward. A replay whose fold flipped reads
  * its batchId back ([[replayed]]) and is skipped; one whose fold didn't
  * re-runs onto the OLD version. Either way the batch lands once.
  *
  * At 100 TB `root` is an object-store prefix and `current` a manifest
  * object replaced by a put. Single concurrent PUBLISHER assumed
  * (readers are unlimited): two racing publishers pick the same next
  * version and the second ATOMIC_MOVE onto `v-NNNNN` fails loudly.
  */
object AliasedIndex {

  private val Ledger = "batch"

  private def parentRecord(root: Path, name: String): Path =
    root.resolve(s"_$name.parent")

  private def pointer(file: Path): Option[String] =
    if (Files.exists(file)) Some(Files.readString(file).trim) else None

  /** The numbered dirs `prefix-NNNNN` directly under `root`, ascending —
    * the one listing of versions, segments and data dirs. \d{5,}:
    * `%05d` rolls to 6 digits past 99999; a fixed-width match would make
    * the listing blind to them (numbering restarts, GC skips). */
  private[graft] def numbered(root: Path, prefix: String): Seq[(Int, Path)] =
    if (!Files.isDirectory(root)) Seq.empty
    else {
      val re = s"$prefix-(\\d{5,})".r
      val listing = Files.list(root)
      try listing.iterator.asScala.flatMap { p =>
        p.getFileName.toString match {
          case re(n) => Some((n.toInt, p))
          case _     => None
        }
      }.toSeq.sortBy(_._1)
      finally listing.close()
    }

  /** The next `n` names past every numbered dir on disk, crash leftovers
    * included, so a retry never collides with a crashed attempt. */
  private[graft] def nextNames(root: Path, prefix: String, n: Int = 1): Seq[String] = {
    val base = numbered(root, prefix).lastOption.fold(0)(_._1)
    (1 to n).map(i => f"$prefix-${base + i}%05d")
  }

  /** Directory the alias currently serves, if any. */
  def resolve(root: String): Option[String] =
    pointer(Paths.get(root, "current")).map(Paths.get(root, _).toString)

  /** The committed versions, ascending: `current`, then each recorded
    * parent back to the first one GC retired. */
  private[graft] def versions(root: Path): Seq[(Int, Path)] =
    Iterator.iterate(pointer(root.resolve("current")))(
      _.flatMap(n => pointer(parentRecord(root, n))))
      .map(_.map(root.resolve)).takeWhile(_.exists(Files.isDirectory(_))).flatten
      .map(p => (p.getFileName.toString.drop(2).toInt, p)).toSeq.reverse

  /** The highest stream batchId committed with the current version. */
  def lastBatch(root: String): Option[Long] =
    resolve(root).map(Paths.get(_, Ledger)).filter(Files.exists(_)).map { p =>
      val raw = Files.readString(p).trim
      raw.toLongOption.getOrElse(throw new IllegalStateException(
        s"unreadable batch ledger $p: '$raw'"))
    }

  /** The replay check: true when micro-batch `batchId` is already
    * committed at `root`, so its fold must be skipped. */
  def replayed(root: String, batchId: Long): Boolean = {
    require(batchId >= 0, s"negative batchId $batchId")
    lastBatch(root).exists(_ >= batchId)
  }

  /** The one `foreachBatch` loop behind every ledger-kept stream (index,
    * view and lake `maintainContinuous`): `fold` runs each micro-batch,
    * and is expected to skip a [[replayed]] one and publish the rest with
    * their batchId. */
  def maintain(stream: DataFrame, kind: String, root: String,
      checkpointDir: String)(fold: (DataFrame, Long) => Unit): StreamingQuery = {
    require(stream.isStreaming, "maintainContinuous needs a streaming DataFrame")
    stream.writeStream
      .queryName(s"graft-$kind-${Paths.get(root).getFileName}")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(fold)
      .start()
  }

  /** Build the next version via `write(dir)`, flip the alias, GC old
    * versions; returns the published dir. `write` must fully materialize
    * the index under the dir it is given — the flip happens only after
    * it returns. `batch` commits that stream batchId with the version
    * (it must be past the ledger — skip a [[replayed]] batch instead);
    * without it the current version's ledger carries forward.
    */
  def publish(root: String, keep: Int = 2, batch: Option[Long] = None)(
      write: String => Unit): String = {
    require(keep >= 2, s"keep=$keep: must retain >=2 versions or an " +
      "in-flight reader of the previous version races the GC")
    val rootP = Paths.get(root)
    Files.createDirectories(rootP)
    val parent = pointer(rootP.resolve("current"))
    val carried = lastBatch(root)
    batch.foreach(b => require(carried.forall(_ < b),
      s"batch $b is already committed at $root (ledger ${carried.get})"))
    val name = nextNames(rootP, "v").head
    // the losing side of the racing-publishers move fails in stage() and
    // cleans its staging up entirely
    val versionDir = stage(rootP, name) { dir =>
      write(dir)
      batch.orElse(carried).foreach(b =>
        Files.writeString(Paths.get(dir, Ledger), b.toString))
    }
    parent.foreach(p => writeAtomically(parentRecord(rootP, name), p.getBytes("UTF-8")))
    // alias flip: tmp pointer file + atomic rename over `current`
    writeAtomically(rootP.resolve("current"), name.getBytes("UTF-8"))
    gc(rootP, keep)
    versionDir.toString
  }

  /** Replace `target` with `bytes` atomically: write a hidden tmp file in
    * the target's directory, then ATOMIC_MOVE it over the target —
    * readers see the old bytes or the new ones, never a torn file. On
    * failure the tmp file is deleted and the original exception thrown
    * (a cleanup failure is suppressed onto it); the target keeps its old
    * bytes.
    */
  def writeAtomically(target: Path, bytes: Array[Byte]): Unit = {
    val tmp = Files.createTempFile(target.getParent, s".${target.getFileName}-", ".tmp")
    try {
      Files.write(tmp, bytes)
      Files.move(tmp, target,
        StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    } catch {
      case scala.util.control.NonFatal(e) =>
        cleanupQuietly(e, () => Files.deleteIfExists(tmp)); throw e
    }
  }

  /** Write `rootP/name` via `write(dir)` into a hidden staging dir that
    * is renamed into place only after `write` returns: a writer CRASH
    * leaves only hidden junk, never a visible `name`; a writer that FAILS
    * cleans its staging up entirely. */
  private[graft] def stage(rootP: Path, name: String)(write: String => Unit): Path = {
    val staging = Files.createTempDirectory(rootP, s".building-$name-")
    val target = rootP.resolve(name)
    try {
      write(staging.toString)
      Files.move(staging, target, StandardCopyOption.ATOMIC_MOVE)
    } catch {
      case scala.util.control.NonFatal(e) =>
        cleanupQuietly(e, () => deleteRecursively(staging)); throw e
    }
    target
  }

  /** Run cleanup for a failed operation without losing the root cause:
    * a cleanup failure (often the same disk condition) is SUPPRESSED
    * onto the original exception, never thrown in its place. NonFatal
    * callers only — no filesystem walks mid-OOM.
    */
  private def cleanupQuietly(cause: Throwable, cleanup: () => Unit): Unit =
    try cleanup()
    catch { case scala.util.control.NonFatal(c) => cause.addSuppressed(c) }

  private[graft] def deleteRecursively(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(Comparator.reverseOrder[Path]())
      .forEach(f => Files.deleteIfExists(f))
    finally walk.close()
  }

  /** Move `p` out of its numbered namespace, then delete it: a crash
    * mid-delete leaves hidden junk, never a half-deleted visible dir. */
  private def retire(p: Path): Unit = {
    val gone = p.resolveSibling(s".retired-${p.getFileName}")
    deleteRecursively(gone)
    Files.move(p, gone, StandardCopyOption.ATOMIC_MOVE)
    deleteRecursively(gone)
  }

  /** Retire the numbered data dirs `prefix-NNNNN` under `root` that no
    * kept version names (`live`); returns their names, ascending. */
  private[graft] def sweep(root: Path, prefix: String, live: Set[String]): Seq[String] =
    numbered(root, prefix).map(_._2).filterNot(p => live(p.getFileName.toString))
      .map { p => retire(p); p.getFileName.toString }

  /** Explicit version retention: keep the newest `keep` (>= 1) committed
    * versions, retire the rest; returns the retired names. */
  def vacuum(root: String, keep: Int): Seq[String] = {
    require(keep >= 1, s"vacuum must keep at least one version, got $keep")
    gc(Paths.get(root), keep)
  }

  /** Retire every version older than `current` that is not among the
    * newest `keep` of its lineage: lineage versions past `keep`, and the
    * leftovers of publishes that crashed before their flip. A version
    * newer than `current` is never touched. */
  private def gc(root: Path, keep: Int): Seq[String] = {
    val lineage = versions(root)
    val kept = lineage.takeRight(keep).map(_._1).toSet
    lineage.lastOption.fold(Seq.empty[String]) { case (cur, _) =>
      numbered(root, "v").collect { case (n, p) if n < cur && !kept(n) =>
        retire(p)
        Files.deleteIfExists(parentRecord(root, p.getFileName.toString))
        p.getFileName.toString
      }
    }
  }
}
