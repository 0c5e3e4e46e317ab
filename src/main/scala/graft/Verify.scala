package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, filter) = args match {
      case Array(s, o)    => (s, o, Seq.empty[String])
      case Array(s, o, f) => (s, o, f.split(',').toSeq)
      case _ => sys.error(
        s"usage: graft.Verify <sfDir> <outDir> [nameFilter,...] — got ${args.length} args")
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val selected =
      if (filter.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => filter.exists(n.contains) }
    // a typo'd filter selecting zero queries must fail loudly — an empty
    // dump is indistinguishable from a successful run to the caller
    if (selected.isEmpty) sys.error(
      s"[verify] filter ${filter.mkString(",")} matched 0 of ${SparkEntry.queries.size} queries")
    println(s"[verify] running ${selected.size}/${SparkEntry.queries.size} queries")
    dumpAll(spark, sfDir, outDir, selected.toSeq)
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** Runs each query into `$outDir/$name` parquet, deleting that dump
    * first: a key that fails (even while its plan is being built) leaves
    * no previous run's output behind for a compare to pass on. The
    * failures — name, exception class and message — go to
    * `$outDir/verify_failed.json` (`[]` when none); returns their names. */
  private[graft] def dumpAll(spark: SparkSession, sfDir: String, outDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)]): Seq[String] = {
    val failed = queries.flatMap { case (name, fn) =>
      try {
        graft.sinks.AliasedIndex.deleteRecursively(Paths.get(outDir, name))
        fn(spark, sfDir).coalesce(1).write.parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name -> e)
      }
    }
    Files.writeString(Paths.get(outDir, "verify_failed.json"), failed.map { case (n, e) =>
      s"""{"name":${q(n)},"error":${q(e.getClass.getName)},"message":${q(String.valueOf(e.getMessage))}}"""
    }.mkString("[", ",", "]"))
    failed.map(_._1)
  }

  /** JSON string literal of `s`: escapes backslash, quote and ALL control
    * chars (<0x20) — a tab or CR in authored SQL would otherwise make the
    * reader's json.load fail and silently zero the correctness dump. */
  private[graft] def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
