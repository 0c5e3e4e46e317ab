package graft

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetOptions, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import scala.util.Try

/** Shared fixture reader (SURVEY.md §7.2 phase 0) and the engine's one
  * parquet read path.
  *
  * All fixture tables — including `events` — are plain parquet reads. The
  * timestamp columns (`events.ts`, `o_orderdate`, `l_shipdate`) are parquet
  * `timestamp[us]` with isAdjustedToUTC=false, which Spark 4 infers natively
  * as TIMESTAMP_NTZ — lining up with DuckDB's naive TIMESTAMP, so the oracle
  * comparison needs no conversion on either side. (Earlier fixture
  * generations wrote `events.ts` as TIMESTAMP(NANOS), which needed a
  * nanosAsLong + truncate-to-µs workaround here; the regenerated fixtures
  * made that a type error and it is gone — SURVEY.md §7.4 R6.)
  *
  * Scans stay declarative: no caching, no driver-side materialization of
  * rows — Catalyst pushes each query's filters/projections into the
  * parquet scan (verify with `.explain("formatted")`: PushedFilters /
  * ReadSchema). The only driver-side work is the schema: [[parquet]]
  * reads one footer instead of letting `spark.read.parquet` start a
  * schema-inference job. On `local[2]` (4-core VM, sf0.01 fixtures, warm
  * JVM) a `spark.read.parquet` of one table took 67–74 ms, a
  * [[parquet]] read 8–11 ms, listing and DataFrame analysis included.
  *
  * 100 TB note: at scale these would be partitioned-directory reads (e.g.
  * `events/date=.../`) registered in a catalog so partition pruning + DPP
  * apply; the single-file fixture layout changes nothing about the query
  * code above this helper.
  */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** `spark.read.parquet(paths: _*)` without the schema-inference job.
    * With `mergeSchema` off, Spark infers a schema by running a one-task
    * job that reads the footer of the first data file (by path) under
    * `paths`; this does the same step on the driver — list, pick that
    * file, read its footer, convert with Spark's own
    * `readSchemaFromFooter` — and hands the result to
    * `spark.read.schema(...)`, so schema, plan and rows are unchanged.
    * Spark infers as before (same semantics, same errors) when
    * `mergeSchema` is on, a `_metadata` / `_common_metadata` summary file
    * is present, no data file is found, a footer column shares its name
    * with a `k=v` directory, or the footer cannot be read. Nothing is
    * cached: every call reads one footer, so data rewritten under a path
    * shows on the next read.
    */
  def parquet(spark: SparkSession, paths: String*): DataFrame =
    parquet(spark, Map.empty[String, String], paths: _*)

  def parquet(spark: SparkSession, options: Map[String, String],
      paths: String*): DataFrame = {
    val reader = spark.read.options(options)
    footerSchema(spark, options, paths)
      .fold(reader.parquet(paths: _*))(reader.schema(_).parquet(paths: _*))
  }

  /** Spark's file filter (`HadoopFSUtils.shouldFilterOutPathName`). */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !(name.startsWith("_common_metadata") || name.startsWith("_metadata"))

  private def footerSchema(spark: SparkSession, options: Map[String, String],
      paths: Seq[String]): Option[StructType] = {
    val sqlConf = spark.sessionState.conf
    if (new ParquetOptions(options, sqlConf).mergeSchema) return None
    val conf = spark.sessionState.newHadoopConfWithOptions(options)
    def leaves(fs: FileSystem, st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq
        .filterNot(c => hidden(c.getPath.getName)).flatMap(leaves(fs, _))
    Try {
      val files = paths.flatMap { p =>
        val path = new Path(p)
        val fs = path.getFileSystem(conf)
        Option(fs.globStatus(path)).toSeq.flatten.flatMap(leaves(fs, _))
      }
      val summary = Set("_metadata", "_common_metadata")
      if (files.isEmpty || files.exists(f => summary(f.getPath.getName))) None
      else {
        val first = files.minBy(_.getPath.toString)
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(first, conf), SKIP_ROW_GROUPS)
        val schema = ParquetFileFormat.readSchemaFromFooter(
          new Footer(first.getPath, footer),
          new ParquetToSparkSchemaConverter(sqlConf))
        val partKeys = first.getPath.toUri.getPath.split("/")
          .collect { case d if d.contains("=") => d.takeWhile(_ != '=').toLowerCase }
        if (schema.fieldNames.exists(f => partKeys.contains(f.toLowerCase))) None
        else Some(schema)
      }
    }.toOption.flatten
  }

  /** Register all fixtures as temp views (for SQL-string entry points).
    * The ten reads (file listing + ten footers) are memoized per
    * (session, dir) in [[Artifacts]] — several SQL-entry queries call this
    * back-to-back, and the ten reads cost 80–115 ms (`local[2]`, sf0.01;
    * 0.67–0.74 s while each read ran an inference job) against under
    * 1 ms for the fingerprint check that serves the memo. A view is re-pointed
    * only when it is not already the memoized read (first call, a session
    * alternating fixture dirs, or data rewritten under `sfDir`):
    * re-registering ten views costs tens of milliseconds, the identity
    * check microseconds.
    */
  def registerAll(spark: SparkSession, sfDir: String): Unit = {
    val catalog = spark.sessionState.catalog
    Artifacts.get(spark, "tables", sfDir)(names.map(n => n -> apply(spark, sfDir, n)))
      .foreach { case (n, df) =>
        if (!catalog.getRawTempView(n).exists(_.plan.exists(_ eq df.queryExecution.analyzed)))
          df.createOrReplaceTempView(n)
      }
  }
}
