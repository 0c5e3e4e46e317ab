package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every bulk delivery in `src/main/scala` goes through
  * [[graft.sync.SyncRunner.runDocs]], the one partition loop that turns
  * planned docs into [[graft.sinks.Writers.deliver]] calls. A second loop
  * re-states routing, batching and the delivery counts, and drifts from
  * the planner: a loop that routed by Spark's engine-private hash, and
  * one whose counts never saw a retried task, both once existed.
  */
class DeliveryGuardSpec extends AnyFunSuite {

  /** File (relative to `src/main/scala`) → (call sites allowed, why).
    * `Writers.scala` itself is not scanned: it defines `deliver`. */
  private val allowed: Map[String, (Int, String)] = Map(
    "graft/sync/SyncJob.scala" -> (1, "SyncRunner.runDocs: the one delivery loop"))

  private val commentRe = """(?s)/\*.*?\*/|//[^\n]*""".r
  private val siteRe =
    """\bWriters\s*\.\s*deliver\b|import\s+[\w.]*\bWriters\s*\.\s*(\{[^}]*\bdeliver\b[^}]*\}|_\b|deliver\b)""".r

  /** Count the uses of `Writers.deliver` in `source`, comments stripped:
    * a call, an eta-expansion, or an import that brings `deliver` into
    * scope (after which a bare call is invisible to a text scan). */
  private[graft] def deliverSites(source: String): Int =
    siteRe.findAllMatchIn(commentRe.replaceAllIn(source, "")).size

  private def mainSources: Map[String, String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).map { p: Path =>
      root.relativize(p).toString -> Files.readString(p)
    }.toMap
    finally walk.close()
  }

  test("the scanner flags deliver call sites and nothing else") {
    val flagged = Seq(
      "Writers.deliver(client, sh, b, buf.toSeq)",
      "graft.sinks.Writers\n  .deliver(c, 0, 0, docs, quarantine = true)",
      "val f = Writers.deliver _",
      "import graft.sinks.Writers.deliver",
      "import graft.sinks.Writers.{deliver, foldState}",
      "import graft.sinks.Writers._")
    val clean = Seq(
      "Writers.foldState(dir)",
      "import graft.sinks.{BulkClient, Writers}",
      "deliver(batch, job, batchId, track)",
      "// Writers.deliver(client, 0, 0, docs)",
      "/** [[graft.sinks.Writers.deliver]] */ val x = 1",
      "Writers.deliverAll(x)")
    flagged.foreach(c => assert(deliverSites(c) == 1, s"missed: $c"))
    clean.foreach(c => assert(deliverSites(c) == 0, s"false positive: $c"))
  }

  test("src/main/scala calls Writers.deliver only from SyncRunner.runDocs") {
    val found = mainSources.filter(_._1 != "graft/sinks/Writers.scala")
      .map { case (f, src) => f -> deliverSites(src) }.filter(_._2 > 0)
    val unexpected = found.filter { case (f, n) => allowed.get(f).forall(_._1 != n) }
    assert(unexpected.isEmpty,
      s"Writers.deliver call sites outside SyncRunner.runDocs (file -> count): $unexpected; " +
        "build a docs frame (`_id`, `doc`, `action`, `h`, `routing`) and call runDocs")
    val stale = allowed.keySet -- found.keySet
    assert(stale.isEmpty, s"allowed sites no longer call Writers.deliver: $stale")
  }

  test("no bulkIndex partition loop in src/main/scala") {
    val back = mainSources.filter { case (_, src) =>
      """\bbulkIndex\b""".r.findFirstIn(commentRe.replaceAllIn(src, "")).isDefined
    }.keySet
    assert(back.isEmpty, s"bulkIndex is back in $back: deliver through SyncRunner.runDocs")
  }
}
