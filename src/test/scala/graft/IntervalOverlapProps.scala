package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.IntervalOverlap

/** Property harness for the hand-rolled IntervalOverlapExec sweep:
  * random interval sets over a SMALL user space and a coarse time grid
  * (forcing equal starts, touching ends, same-user overlaps and intervals
  * over several stripes) must give the per-pair counts of a brute-force
  * all-pairs check, across partition counts. Seeded generator, not
  * rand() — failures reproduce.
  */
class IntervalOverlapProps extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val W = IntervalOverlap.StripeWidth
  private type Iv = (Option[Long], Option[Long], Option[Long]) // user, start, end

  // deterministic pseudo-random intervals from a seed (splitmix-style):
  // starts on a W/4 grid over 12 stripes, lengths 0..10 grid steps
  private def gen(seed: Long, n: Int, users: Int): Seq[Iv] =
    (0 until n).map { i =>
      var z = seed + 0x9e3779b97f4a7c15L * (i + 1)
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z = z ^ (z >>> 31)
      val start = math.floorMod(z >>> 7, 48).toLong * (W / 4)
      val len = math.floorMod(z >>> 23, 11).toLong * (W / 4)
      (Some(math.floorMod(z, users).toLong), Some(start), Some(start + len))
    }

  private def brute(ivs: Seq[Iv]): Map[(Long, Long), Long] = {
    val rows = ivs.collect { case (Some(u), Some(s), Some(e)) => (u, s, e) }.toIndexedSeq
    val pairs = for {
      i <- rows.indices; j <- rows.indices if i < j
      (ua, sa, ea) = rows(i); (ub, sb, eb) = rows(j)
      if ua != ub && sa < eb && sb < ea
    } yield (math.min(ua, ub), math.max(ua, ub))
    pairs.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
  }

  private def native(ivs: Seq[Iv]): Map[(Long, Long), Long] =
    IntervalOverlap.pairs(ivs.toDF("user_id", "s_start", "s_end"), "user_id", "s_start", "s_end")
      .groupBy("ua", "ub").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

  test("native sweep equals brute-force pair counts on adversarial random inputs") {
    for (seed <- Seq(1L, 7L, 42L); parts <- Seq(3, 13)) {
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try {
        val ivs = gen(seed, 300, users = 6)
        val want = brute(ivs)
        assert(want.values.sum > 1000, s"seed=$seed: too few overlaps to mean anything")
        assert(native(ivs) == want, s"seed=$seed parts=$parts")
      } finally spark.conf.set("spark.sql.shuffle.partitions", 8)
    }
  }

  test("equal starts, touching ends, multi-stripe spans, same user and nulls") {
    def iv(u: Long, s: Long, e: Long): Iv = (Some(u), Some(s), Some(e))
    val cases: Seq[(String, Seq[Iv], Map[(Long, Long), Long])] = Seq(
      ("equal starts pair once", Seq(iv(1, 10, 20), iv(2, 10, 30)), Map((1L, 2L) -> 1L)),
      ("a_end == b_start does not pair", Seq(iv(1, 0, W), iv(2, W, 2 * W)), Map.empty),
      // b starts four stripes after a: found through a's copies only
      ("a span over several stripes", Seq(iv(3, 0, 5 * W + 1), iv(2, 4 * W + 7, 4 * W + 9)),
        Map((2L, 3L) -> 1L)),
      // both copied into stripes 1 and 2; reported only in stripe 0
      ("co-spanning pair reported once", Seq(iv(1, W - 1, 3 * W), iv(2, W - 2, 3 * W)),
        Map((1L, 2L) -> 1L)),
      ("same user never pairs", Seq(iv(5, 0, W), iv(5, 1, 2), iv(6, 1, 2)),
        Map((5L, 6L) -> 2L)),
      ("null rows are dropped", Seq(iv(1, 0, 10), (None, Some(0L), Some(10L)),
        (Some(2L), None, Some(10L)), (Some(3L), Some(0L), None), iv(4, 5, 6)),
        Map((1L, 4L) -> 1L)),
      // [5, 5) overlaps [3, 8) by the half-open test, not [5, 9)
      ("an empty interval", Seq(iv(1, 5, 5), iv(2, 3, 8), iv(3, 5, 9)),
        Map((1L, 2L) -> 1L, (2L, 3L) -> 1L)),
      ("empty input", Seq.empty, Map.empty))
    for ((name, ivs, want) <- cases) {
      assert(brute(ivs) == want, s"$name: the brute force disagrees with the case")
      assert(native(ivs) == want, name)
    }
  }
}
