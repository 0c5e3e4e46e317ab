package graft.sinks

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator
import scala.jdk.CollectionConverters._

/** Full-sync index-recreate with alias swap (SURVEY §3.1): the
  * reference's full mode rebuilds the target index from scratch and then
  * swaps a serving alias onto it, so readers never observe a
  * half-written index. Filesystem analog of the index/alias pair:
  *
  * {{{
  *   root/
  *     v-00001/…       immutable, fully-written version dirs
  *     v-00002/…
  *     current         one-line pointer file, atomically replaced
  * }}}
  *
  * A publish builds the ENTIRE next version under a hidden `.building-*`
  * dir (a crashed writer leaves only hidden junk, never a visible
  * version), renames it to `v-NNNNN`, then flips `current` by writing a
  * tmp pointer file and ATOMIC_MOVE-ing it over the old one — readers
  * resolving `current` see the old complete version or the new complete
  * version, nothing in between (POSIX rename atomicity, the same
  * guarantee an ES alias swap gives). Old versions are GC'd after the
  * flip, keeping `keep` — at least 2, so a reader that resolved just
  * before a publish still has its version on disk while it reads.
  * At 100 TB `root` is an object-store prefix and `current` a manifest
  * object replaced by a put — the pointer-flip shape is the same.
  *
  * Single concurrent PUBLISHER assumed (the reference's sync loop is one
  * process; readers are unlimited). Two racing publishers pick the same
  * next version number and the second ATOMIC_MOVE onto `v-NNNNN` fails
  * loudly — a visible error, never a corrupted or half-visible version.
  */
object AliasedIndex {

  // \d{5,}: v-%05d rolls to 6 digits past v-99999; a fixed-width match
  // would make versions() blind to them (numbering restarts, GC skips)
  private val VersionRe = "v-(\\d{5,})".r

  private def versions(root: Path): Seq[(Int, Path)] =
    if (!Files.isDirectory(root)) Seq.empty
    else {
      val listing = Files.list(root)
      try listing.iterator.asScala.flatMap { p =>
        p.getFileName.toString match {
          case VersionRe(n) => Some((n.toInt, p))
          case _            => None
        }
      }.toSeq.sortBy(_._1)
      finally listing.close()
    }

  /** Directory the alias currently serves, if any. */
  def resolve(root: String): Option[String] = {
    val cur = Paths.get(root, "current")
    if (!Files.exists(cur)) None
    else Some(Paths.get(root, Files.readString(cur).trim).toString)
  }

  /** Build the next version via `write(dir)`, flip the alias, GC old
    * versions; returns the published dir. `write` must fully materialize
    * the index under the dir it is given — the flip happens only after
    * it returns.
    */
  def publish(root: String, keep: Int = 2)(write: String => Unit): String = {
    require(keep >= 2, s"keep=$keep: must retain >=2 versions or an " +
      "in-flight reader of the previous version races the GC")
    val rootP = Paths.get(root)
    Files.createDirectories(rootP)
    val next = versions(rootP).lastOption.fold(1)(_._1 + 1)
    val name = f"v-$next%05d"
    // the losing side of the racing-publishers move fails in stage() and
    // cleans its staging up entirely
    val versionDir = stage(rootP, name)(write)
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

  /** Remove all but the newest `keep` versions (the current target is
    * always among them — it is the newest).
    */
  private def gc(root: Path, keep: Int): Unit =
    versions(root).dropRight(keep).foreach { case (_, p) => deleteRecursively(p) }
}
