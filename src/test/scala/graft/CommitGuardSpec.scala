package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The versioned-commit protocol lives in [[graft.sinks.AliasedIndex]]
  * alone: staging, the `current` flip, lineage, GC, the numbered-dir
  * listing and the exactly-once `batch` ledger. Each of the index, view
  * and lake once wrote its own copy of the ledger, its carry and its
  * `foreachBatch` loop, and the lake kept a second versioning scheme
  * (a `_commit` marker, its own listing and recursive delete) whose
  * retried commit could keep a crashed attempt's ledger and lose the
  * replayed batch.
  */
class CommitGuardSpec extends AnyFunSuite {

  private val owner = "graft/sinks/AliasedIndex.scala"

  /** Pattern → (file → sites allowed, relative to `src/main/scala`).
    * `AliasedIndex` is allowed every pattern. */
  private val rules: Seq[(String, scala.util.matching.Regex, Map[String, Int])] = Seq(
    ("the batch ledger file",
      """(Paths\s*\.\s*get|\.resolve)\s*\([^()]*"batch"\s*\)|"[^"\n]*/batch"""".r, Map.empty),
    ("a numbered-dir listing",
      """"[a-z]+-\(?\\\\d|"{3}[a-z]+-\(?\\d|startsWith\(\s*"[a-z]+-"\s*\)""".r, Map.empty),
    ("a _commit marker", """"_commit"""".r, Map.empty),
    ("a foreachBatch loop", """\.\s*foreachBatch\b""".r,
      Map("graft/sync/ContinuousSync.scala" -> 1)),
    ("a recursive file walk", """\bFiles\s*\.\s*walk\b""".r,
      Map("graft/sinks/Writers.scala" -> 1)))

  private val commentRe = """(?s)/\*.*?\*/|//[^\n]*""".r

  private[graft] def sites(rule: Int, source: String): Int =
    rules(rule)._2.findAllMatchIn(commentRe.replaceAllIn(source, "")).size

  private def mainSources: Map[String, String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).map { p: Path =>
      root.relativize(p).toString -> Files.readString(p)
    }.toMap
    finally walk.close()
  }

  test("the scanner flags each rule's sites and nothing else") {
    val flagged = Seq(
      0 -> """Files.write(Paths.get(dir, "batch"), b.toString.getBytes("UTF-8"))""",
      0 -> """val p = snapDir(root, v).resolve("batch")""",
      0 -> """Files.readString(Paths.get(s"$dir/batch"))""",
      1 -> """private val SegRe = "seg-(\\d{5,})".r""",
      1 -> "val re = \"\"\"v-(\\d+)\"\"\".r",
      1 -> """.filter(p => p.getFileName.toString.startsWith("v-"))""",
      2 -> """Files.write(sd.resolve("_commit"), Array.emptyByteArray)""",
      3 -> """stream.writeStream.foreachBatch { (b: DataFrame, id: Long) => f(b) }""",
      3 -> "stream.writeStream\n  .foreachBatch(fold)",
      4 -> """val walk = java.nio.file.Files.walk(p)""")
    val clean = Seq(
      """InvertedIndex.phrase(spark, root, "merge", "batch")""",
      """df.where(col("batch") < batchId)""",
      """Paths.get(storeRoot, s"batch=$id")""",
      """Paths.get(root, "current")""",
      """f"seg-${base + i}%05d"""",
      """// Files.write(Paths.get(dir, "batch"), bytes)""",
      """/** the `_commit` marker */ val x = 1""",
      """private val MarkerName = ".compact_commit"""",
      """AliasedIndex.maintain(stream, "view", root, ckpt)(fold)""",
      """Files.list(root)""")
    flagged.foreach { case (r, c) =>
      assert(sites(r, c) == 1, s"${rules(r)._1} missed: $c")
      rules.indices.filter(_ != r).foreach(o =>
        assert(sites(o, c) == 0, s"${rules(o)._1} false positive: $c"))
    }
    clean.foreach(c => rules.indices.foreach(r =>
      assert(sites(r, c) == 0, s"${rules(r)._1} false positive: $c")))
  }

  rules.indices.foreach { r =>
    val (what, _, allowed) = rules(r)
    test(s"only AliasedIndex holds $what in src/main/scala") {
      val found = mainSources.filter(_._1 != owner)
        .map { case (f, src) => f -> sites(r, src) }.filter(_._2 > 0)
      val unexpected = found.filter { case (f, n) => !allowed.get(f).contains(n) }
      assert(unexpected.isEmpty,
        s"$what outside AliasedIndex (file -> count): $unexpected; " +
          "publish through AliasedIndex.publish / replayed / maintain / sweep")
      val stale = allowed.keySet -- found.keySet
      assert(stale.isEmpty, s"allowed sites no longer hold $what: $stale")
    }
  }
}
