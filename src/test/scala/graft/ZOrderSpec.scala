package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Proves the q_scan_zorder layout premise at the file level: after the
  * Morton-curve rewrite, BOTH interleaved dimensions have narrow per-file
  * min/max ranges, so footer stats prune a user-band query AND a
  * time-window query from the same copy — where a linear time-sort layout
  * leaves the user dimension full-span in every file.
  */
class ZOrderSpec extends AnyFunSuite {
  import TestSpark._

  private val userLo = 1L
  private val userHi = 2L
  private val tLo = "2024-01-10"
  private val tHi = "2024-01-14"

  /** (nFiles, filesOverlappingUserBand, filesOverlappingTimeWindow) from
    * per-file column stats — exactly what parquet footer pruning sees. */
  private def overlaps(path: String): (Long, Long, Long) = {
    val stats = spark.read.parquet(path)
      .groupBy(input_file_name().as("f"))
      .agg(min("user_id").as("u0"), max("user_id").as("u1"),
        min("ts").as("t0"), max("ts").as("t1"))
      .collect()
    val n = stats.length.toLong
    val uOv = stats.count(r =>
      r.getAs[Long]("u0") <= userHi && r.getAs[Long]("u1") >= userLo).toLong
    val lo = java.time.LocalDateTime.parse(tLo + "T00:00:00")
    val hi = java.time.LocalDateTime.parse(tHi + "T00:00:00")
    val tOv = stats.count { r =>
      val t0 = r.getAs[java.time.LocalDateTime]("t0")
      val t1 = r.getAs[java.time.LocalDateTime]("t1")
      !t0.isAfter(hi) && !t1.isBefore(lo)
    }.toLong
    (n, uOv, tOv)
  }

  test("z-order layout prunes files on BOTH dimensions; linear sort only on its own") {
    // building the layout is the query's memoized side effect
    val served = SparkEntry.queries("q_scan_zorder")(spark, sf0001)
    assert(served.count() > 0)

    val (zn, zu, zt) = overlaps(operators.Warehouse.zorderLayout(spark, sf0001))
    assert(zn >= 8, s"expected a multi-file layout, got $zn files")
    assert(zu <= zn / 2, s"z-order: user band hits $zu of $zn files — no skipping")
    assert(zt <= zn / 2, s"z-order: time window hits $zt of $zn files — no skipping")

    // Baseline: the same data linearly sorted by time. Time predicates
    // prune, but every file spans (nearly) the whole user domain.
    val linDir = java.nio.file.Files.createTempDirectory("graft_zorder_linear_")
    try {
      val linPath = linDir.toString
      Tables(spark, sf0001, "events")
        .repartitionByRange(16, col("ts"))
        .sortWithinPartitions("ts")
        .write.mode("overwrite").parquet(linPath)
      val (ln, lu, lt) = overlaps(linPath)
      assert(lu >= ln - 1, s"linear layout unexpectedly prunes user band: $lu of $ln")
      assert(lt <= ln / 2, s"linear layout must prune its own sort column: $lt of $ln")
      assert(zu < lu, "z-order must beat linear sort on the non-sort dimension")
    } finally graft.sinks.AliasedIndex.deleteRecursively(linDir) // one events copy per run
  }

  test("q_scan_zorder pushes both range predicates into the parquet scan") {
    val plan = SparkEntry.queries("q_scan_zorder")(spark, sf0001)
      .queryExecution.executedPlan.toString
    // the pushed user_id bounds appear verbatim; the ts window shows in
    // the Filter node's full predicate text (PushedFilters elides long
    // lists) — same assertions as PlanSpec, duplicated here so this
    // suite stands alone
    assert(plan.contains("GreaterThanOrEqual(user_id,1)") &&
      plan.contains("LessThanOrEqual(user_id,2)"), plan.take(2500))
    assert(plan.contains(">= 2024-01-10 00:00:00") &&
      plan.contains("< 2024-01-14 00:00:00"), plan.take(2500))
  }
}
