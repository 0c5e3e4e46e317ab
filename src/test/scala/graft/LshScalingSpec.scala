package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The two LSH pair-generators' fan-out knobs (simhash signature width,
  * sign-LSH hyperplane count) exist so candidate volume stays LINEAR in
  * the corpus when the knob scales with log2(N). A compile-time constant
  * fan-out (16 buckets) pins bucket count, so bucket population grows
  * linearly and within-bucket pairs quadratically — the round-9 verdict's
  * last scale-weak plans. This spec measures candidate volume on
  * synthetic corpora at N and 4N: fixed knob → ~16× pairs (quadratic),
  * corpus-scaled knob (+2 bits per band / +2 planes) → ~4× (linear).
  * Fixture-parameter outputs are also pinned: the signature/bucket bit b
  * is identical at every width (prefix property), so widening the knob
  * can never change a narrow-width query's rows.
  */
class LshScalingSpec extends AnyFunSuite {
  import TestSpark._
  import graft.operators.Dedup

  // --- synthetic corpora: content-hash pseudo-randomness, no rand() ---

  /** n 64-dim vectors, components uniform-ish in [-0.5, 0.5), 4 labels. */
  private def synthEmb(n: Int) = spark.range(n).selectExpr(
    "id AS vec_id", "CAST(id % 4 AS BIGINT) AS label",
    "transform(sequence(1, 64), j -> " +
      "CAST(conv(substr(md5(concat(id, ':', j)), 1, 15), 16, 10) AS DOUBLE) " +
      s"/ ${(1L << 60).toDouble}D - 0.5D) AS v")

  /** n docs of 21 near-unique tokens (100k vocab) — signature bits are
    * unbiased iid majority votes, the uniform-bucket regime.
    */
  private def synthDocs(n: Int) = spark.range(n).selectExpr(
    "id AS doc_id", "'en' AS lang",
    "transform(sequence(0, 20), j -> concat('t', CAST(pmod(" +
      "CAST(conv(substr(md5(concat(id, '/', j)), 1, 15), 16, 10) AS BIGINT), " +
      "100000) AS STRING))) AS toks")

  /** Within-(label, bucket) pair count — the self-join volume the cosine
    * generator pays, summed as C(n_b, 2) without materializing pairs.
    */
  private def cosineCandidateVolume(n: Int, planes: Int): Long = {
    synthEmb(n).selectExpr("label", s"lsh_bucket(v, $planes) AS bucket")
      .groupBy("label", "bucket").count()
      .agg(sum(expr("count * (count - 1) DIV 2"))).head().getLong(0)
  }

  private def simhashCandidateVolume(n: Int, bits: Int, bands: Int): Long =
    Dedup.simhashCandidates(
      Dedup.simhashSignatures(synthDocs(n), bits), bits, bands).count()

  test("cosine pair volume: fixed planes quadratic, corpus-scaled planes ~linear") {
    val (small, big) = (2000, 8000)
    val fixedS = cosineCandidateVolume(small, 4)
    val fixedB = cosineCandidateVolume(big, 4)
    assert(fixedS > 0)
    assert(fixedB.toDouble / fixedS > 10,
      s"fixed fan-out should be ~quadratic (16x): $fixedB vs $fixedS")
    // 4x corpus -> +2 planes (log2 scaling): bucket population constant
    val scaledB = cosineCandidateVolume(big, 6)
    assert(scaledB.toDouble / fixedS < 6,
      s"scaled fan-out should be ~linear (4x): $scaledB vs $fixedS")
  }

  test("simhash candidate volume: fixed width quadratic, corpus-scaled width ~linear") {
    val (small, big) = (1000, 4000)
    val fixedS = simhashCandidateVolume(small, 16, 4)
    val fixedB = simhashCandidateVolume(big, 16, 4)
    assert(fixedS > 0)
    assert(fixedB.toDouble / fixedS > 10,
      s"fixed width should be ~quadratic (16x): $fixedB vs $fixedS")
    // 4x corpus -> +2 bits per band (16 -> 24 over 4 bands)
    val scaledB = simhashCandidateVolume(big, 24, 4)
    assert(scaledB.toDouble / fixedS < 6,
      s"scaled width should be ~linear (4x): $scaledB vs $fixedS")
  }

  test("widening the knobs never changes fixture-parameter outputs (prefix property)") {
    // signature prefix: the low 16 bits of a 64-bit signature ARE the
    // 16-bit signature, doc for doc
    val docs = synthDocs(300)
    val s16 = Dedup.simhashSignatures(docs, 16)
      .selectExpr("doc_id", "simhash").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val s64 = Dedup.simhashSignatures(docs, 64)
      .selectExpr("doc_id", "simhash & 65535 AS low").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s16 == s64, "wider signature must extend, not reshuffle, the narrow one")
    // bucket prefix: plane b is the same hyperplane at every fan-out
    val e = synthEmb(300)
    val b4 = e.selectExpr("vec_id", "lsh_bucket(v, 4) AS b").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val b6 = e.selectExpr("vec_id", "lsh_bucket(v, 6) & 15 AS b").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(b4 == b6, "wider bucket must refine, not reshuffle, the narrow one")
  }

  /** n docs of 21 tokens from a SMALL (100-word) vocab — background
    * pairwise Jaccard ~0.1, the regime where minhash band collisions
    * actually occur (near-unique tokens would yield zero candidates at
    * any knob setting, proving nothing).
    */
  private def synthSimilarDocs(n: Int) = spark.range(n).selectExpr(
    "id AS doc_id", "'en' AS lang",
    "array_sort(array_distinct(transform(sequence(0, 20), j -> concat('w', CAST(pmod(" +
      "CAST(conv(substr(md5(concat(id, '~', j)), 1, 15), 16, 10) AS BIGINT), " +
      "100) AS STRING))))) AS toks")

  private def minhashCandidateVolume(n: Int, perms: Int, bands: Int): Long =
    Dedup.minhashCandidates(synthSimilarDocs(n), perms, bands).count()

  test("minhash candidate volume: fixed rows-per-band quadratic, deeper rows ~linear") {
    val (small, big) = (1000, 4000)
    val fixedS = minhashCandidateVolume(small, 8, 2)
    val fixedB = minhashCandidateVolume(big, 8, 2)
    assert(fixedS > 0)
    assert(fixedB.toDouble / fixedS > 10,
      s"fixed rows-per-band should be ~quadratic (16x): $fixedB vs $fixedS")
    // 4x corpus -> +2 rows per band (background collision odds shrink by
    // E[j²] ~ 1/100 here, overshooting the 4x the corpus added)
    val scaledB = minhashCandidateVolume(big, 12, 2)
    assert(scaledB.toDouble / fixedS < 6,
      s"deeper bands should be ~linear (4x): $scaledB vs $fixedS")
  }

  test("minhash signature prefix property: wider perms extend, never reshuffle") {
    val mismatches = synthSimilarDocs(300)
      .selectExpr("minhash_sig(toks) AS s8", "slice(minhash_sig(toks, 16), 1, 8) AS p8")
      .where("s8 != p8").count()
    assert(mismatches == 0, "minhash_sig(toks, 16)[1..8] must equal minhash_sig(toks)")
  }

  test("auto fan-out picks the fixture width on a small corpus, wider on a large one") {
    val target = 64L
    // in-memory corpora: their memo key dir is an empty temp dir
    val dir = java.nio.file.Files.createTempDirectory("graft_lshspec").toString
    val nS = Dedup.approxCorpusCount(synthDocs(1000), "doc_id", "lshspec:auto:small", dir)
    val nB = Dedup.approxCorpusCount(synthDocs(64000), "doc_id", "lshspec:auto:big", dir)
    val wS = Dedup.autoWidth(nS, target, 4, 16)
    val wB = Dedup.autoWidth(nB, target, 4, 16)
    assert(wS == 4, s"~1000/64 buckets floor at the fixture width, got $wS")
    assert(wB >= 9 && wB <= 11, s"~64000/64 buckets need ~10 bits, got $wB")
    // memoized: the same key answers from cache (identical value, no rebuild)
    assert(Dedup.approxCorpusCount(synthDocs(1000), "doc_id", "lshspec:auto:small", dir) == nS)
    assert(Artifacts.builds("dedup.corpusCount.lshspec:auto:small", dir) == 1)
    // the cap wins over the derivation, the floor over a tiny corpus
    assert(Dedup.autoWidth(1L << 40, target, 4, 16) == 16)
    assert(Dedup.autoWidth(1, target, 4, 16) == 4)
  }

  test("knob=auto resolves to fixture parameters on the small fixture (outputs pinned)") {
    def sims() = SparkEntry.queries("q_dedup_simhash")(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    def cos() = SparkEntry.queries("q_dedup_cosine")(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    def lsh() = SparkEntry.queries("q_sim_lsh")(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    val (s0, c0, l0) = (sims(), cos(), lsh())
    try {
      // 500 docs / 500 vectors: every auto derivation floors at the
      // declared fixture width, so outputs must be byte-identical —
      // scale-safety by default costs a small corpus nothing
      spark.conf.set("spark.graft.dedup.simhashBits", "auto")
      spark.conf.set("spark.graft.dedup.cosinePlanes", "auto")
      spark.conf.set("spark.graft.sim.lshPlanes", "auto")
      assert(sims() == s0, "simhashBits=auto must floor at the fixture width")
      assert(cos() == c0, "cosinePlanes=auto must floor at the fixture fan-out")
      assert(lsh() == l0, "lshPlanes=auto must floor at the fixture fan-out")
    } finally {
      spark.conf.unset("spark.graft.dedup.simhashBits")
      spark.conf.unset("spark.graft.dedup.cosinePlanes")
      spark.conf.unset("spark.graft.sim.lshPlanes")
    }
  }

  test("conf knobs reach the declared queries without disturbing default outputs") {
    def rows() = SparkEntry.queries("q_dedup_simhash")(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    val defaults = rows()
    try {
      // a 64-bit signature with hamming<=3 on the same corpus is a SUBSET
      // (more bits can only add differences); the plumbing must not throw
      spark.conf.set("spark.graft.dedup.simhashBits", "64")
      val wide = rows()
      assert(wide.size <= defaults.size)
    } finally spark.conf.unset("spark.graft.dedup.simhashBits")
    assert(rows() == defaults, "unsetting the knobs must restore the oracle shape")
    def cosRows() = SparkEntry.queries("q_dedup_cosine")(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    val cosDefaults = cosRows()
    try {
      spark.conf.set("spark.graft.dedup.cosinePlanes", "6")
      assert(cosRows().size <= cosDefaults.size) // refined buckets: subset
    } finally spark.conf.unset("spark.graft.dedup.cosinePlanes")
    assert(cosRows() == cosDefaults)
  }
}
