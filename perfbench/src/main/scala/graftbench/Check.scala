package graftbench

import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent output fingerprints: row count plus the exact
  * (decimal) sum of a per-row xxhash64 over every column. */
object Check {
  final case class Fingerprint(rows: Long, hash: BigDecimal)

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Columns renamed positionally (outputs may repeat a name); map-typed
    * values hash through their JSON form, which Spark can hash. */
  private def rowHash(df: DataFrame): Column = {
    val named = df.schema.fields.zipWithIndex.map { case (f, i) =>
      val c = col(s"`c$i`")
      if (hasMap(f.dataType)) to_json(c) else c
    }
    if (named.isEmpty) lit(0L) else xxhash64(named.toIndexedSeq: _*)
  }

  private def positional(df: DataFrame): DataFrame =
    df.toDF(df.columns.indices.map(i => s"c$i"): _*)

  private def aggs(df: DataFrame): (Column, Column) =
    (count(lit(1)).as("n"), coalesce(sum(rowHash(df).cast(DecimalType(38, 0))),
      lit(BigDecimal(0)).cast(DecimalType(38, 0))).as("h"))

  /** Hand `df`'s output, with positional column names, to `write` and
    * return its fingerprint, gathered in the same pass through an
    * observed metric. */
  private def observed(df: DataFrame)(write: DataFrame => Unit): Fingerprint = {
    val p = positional(df)
    val (n, h) = aggs(p)
    val obs = Observation()
    write(p.observe(obs, n, h))
    val m = obs.get
    Fingerprint(m("n").asInstanceOf[Long],
      BigDecimal(m("h").asInstanceOf[java.math.BigDecimal]))
  }

  /** Write `df`'s full output to the noop sink; return its fingerprint. */
  def writeNoop(df: DataFrame): Fingerprint =
    observed(df)(_.write.format("noop").mode("overwrite").save())

  /** Write `df`'s full output, under its own column names, as parquet
    * under `path` (part files in the output's row order); return its
    * fingerprint. */
  def writeParquet(df: DataFrame, path: String): Fingerprint =
    observed(df)(_.toDF(df.columns.toIndexedSeq: _*).write.mode("overwrite").parquet(path))

  /** Run the oracle comparison (`oracle.py`, started as `cmd`) on the
    * tables under `tables` and the outputs under `out`: per key, None when
    * the output equals its oracle, else the reason. Left when the script
    * could not run to the end. */
  def oracle(cmd: Seq[String], tables: String, out: String)
      : Either[String, Map[String, Option[String]]] =
    try {
      val log = new java.io.File(out, "oracle.log")
      val p = new ProcessBuilder((cmd ++ Seq(tables, out)).asJava).redirectErrorStream(true)
        .redirectOutput(log).start()
      if (!p.waitFor(120, TimeUnit.SECONDS)) { p.destroyForcibly(); p.waitFor() }
      val lines = java.nio.file.Files.readAllLines(log.toPath).asScala.toList
      if (p.exitValue != 0) Left(s"exit ${p.exitValue}: ${lines.takeRight(3).mkString(" | ").take(300)}")
      else Right(lines.flatMap(_.split(" ", 3) match {
        case Array("PASS", k) => Some(k -> None)
        case Array("FAIL", k, why) => Some(k -> Some(why))
        case _ => None
      }).toMap)
    } catch { case scala.util.control.NonFatal(e) => Left(e.toString.take(300)) }
}
