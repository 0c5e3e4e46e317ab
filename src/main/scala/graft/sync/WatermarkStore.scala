package graft.sync

import java.nio.file.{Files, Paths}

/** Durable per-job watermark state for tracked incremental syncs — the
  * "last synced value" bookkeeping every scan-based sync tool keeps
  * between runs (without it, "incremental" means re-shipping everything
  * past a CONFIGURED constant on every run). One file per job under
  * `root` (`wm-<job>.txt`), holding the watermark as the SQL LITERAL the
  * next run's predicate uses verbatim; writes go to a temp file and
  * ATOMIC_MOVE over the old one, so a crash mid-write leaves the
  * previous watermark intact — and a failed sync run never calls [[set]]
  * at all, so its rows are re-delivered (not lost) on the next run,
  * converging under the idempotent `_id` delivery. At 100 TB this file
  * is a metastore/object-store entry; the read-run-advance protocol is
  * the same.
  */
final class WatermarkStore(root: String) {
  Files.createDirectories(Paths.get(root))

  private def fileFor(job: String) = {
    require(job.matches("[A-Za-z0-9_.-]+"), s"unsafe job name for a file path: $job")
    Paths.get(root, s"wm-$job.txt")
  }

  /** Last recorded watermark literal for `job`, if any. */
  def get(job: String): Option[String] = {
    val f = fileFor(job)
    if (Files.exists(f)) Some(Files.readString(f).trim) else None
  }

  /** Durably record `wmLit` as `job`'s watermark (atomic replace). */
  def set(job: String, wmLit: String): Unit =
    graft.sinks.AliasedIndex.writeAtomically(fileFor(job), wmLit.getBytes("UTF-8"))
}
