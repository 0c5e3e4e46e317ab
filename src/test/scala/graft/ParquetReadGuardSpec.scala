package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every parquet read in `src/main/scala` goes through [[Tables.parquet]]:
  * a plain `spark.read...parquet(...)` starts a schema-inference job per
  * read, and nothing else would notice one coming back.
  */
class ParquetReadGuardSpec extends AnyFunSuite {

  /** File (relative to `src/main/scala`) → (reads allowed, why). */
  private val allowed: Map[String, (Int, String)] = Map(
    "graft/Tables.scala" -> (1, "the helper itself: its fallback and its schema-given read"))

  private val commentRe = """(?s)/\*.*?\*/|//[^\n]*""".r
  private val otherFormats = Set("csv", "json", "orc", "text", "textFile", "table", "jdbc", "xml")

  /** Count the `DataFrameReader` uses (`.read` as a property, not
    * `readStream` or a `read(...)` method) whose chain of
    * `option`/`options`/`schema` calls does not end in a non-parquet
    * format. Default deny: `.parquet(`, `.load(` without a non-parquet
    * `format`, and a reader kept in a val all count. */
  private[graft] def parquetReads(source: String): Int = {
    val code = commentRe.replaceAllIn(source, "")
    def ws(i: Int): Int = if (i < code.length && code(i).isWhitespace) ws(i + 1) else i
    def ident(i: Int): String = code.substring(i).takeWhile(_.isLetterOrDigit)
    // index just past the parenthesized group opening at `i`
    def group(i: Int): Int = {
      var (j, depth, inStr) = (i, 0, false)
      while (j < code.length && !(depth == 0 && j > i)) {
        val c = code(j)
        if (inStr) { if (c == '\\') j += 1 else if (c == '"') inStr = false }
        else if (c == '"') inStr = true
        else if (c == '(') depth += 1
        else if (c == ')') depth -= 1
        j += 1
      }
      j
    }
    def parquetChain(i: Int): Boolean = {
      val dot = ws(i)
      if (dot >= code.length || code(dot) != '.') true // the reader escapes into a val
      else {
        val at = ws(dot + 1)
        val name = ident(at)
        val open = ws(at + name.length)
        name match {
          case "option" | "options" | "schema" if code.startsWith("(", open) =>
            parquetChain(group(open))
          case "format" => code.startsWith("\"parquet\"", ws(open + 1))
          case f => !otherFormats(f)
        }
      }
    }
    """\.read\b(?=\s*\.)""".r.findAllMatchIn(code).count(m => parquetChain(m.end))
  }

  test("the scanner flags plain parquet reads and nothing else") {
    val flagged = Seq(
      """spark.read.parquet(s"$dir/x")""",
      "s.read.option(\"basePath\", root)\n      .parquet(root)",
      """spark.read.format("parquet").load(p)""",
      "val r = spark.read.options(o)\n    f.fold(r.parquet(p: _*))(x => x)")
    val clean = Seq(
      """Tables.parquet(s, s"$dir/x")""",
      """df.write.mode("overwrite").parquet(p)""",
      """s.read.text(p).write.parquet(q)""",
      """spark.readStream.schema(sch).parquet(p)""",
      """IncrementalView.read(s, root).select("a")""",
      "s.read.option(\"header\", \"true\")\n  .schema(\"a BIGINT\")\n  .csv(p)",
      """s.read.format("binaryFile").option("pathGlobFilter", "*.txt").load(p)""",
      """s.read.orc(p).groupBy("k")""",
      "// spark.read.parquet over the policy root\nval n = 1",
      "/* spark.read.parquet(p) */ val m = 2")
    flagged.foreach(c => assert(parquetReads(c) == 1, s"missed: $c"))
    clean.foreach(c => assert(parquetReads(c) == 0, s"false positive: $c"))
  }

  test("no parquet read in src/main/scala bypasses Tables.parquet") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    val walk = Files.walk(root)
    val found: Map[String, Int] =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).map { p: Path =>
        root.relativize(p).toString -> parquetReads(Files.readString(p))
      }.filter(_._2 > 0).toMap
      finally walk.close()
    val unexpected = found.filter { case (f, n) => allowed.get(f).forall(_._1 != n) }
    assert(unexpected.isEmpty,
      s"parquet reads outside Tables.parquet (file -> count): $unexpected; route them " +
        "through Tables.parquet or list the site in `allowed` with its reason")
    val stale = allowed.keySet -- found.keySet
    assert(stale.isEmpty, s"allowed sites no longer read parquet: $stale")
  }
}
