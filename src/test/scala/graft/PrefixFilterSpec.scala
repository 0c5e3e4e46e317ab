package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** candidatePairs is the exact, adaptive replacement for the raw
  * length-blocked self-join in the Jaccard dedup paths: prefix filtering
  * (AllPairs/PPJoin) on Zipfian vocabularies, a size-ratio-pruned block
  * join on degenerate ones. Properties that keep it honest:
  *  - NO LOST PAIRS: every pair the verify stage confirms must appear
  *    among the candidates of BOTH generators (a miss is a wrong answer,
  *    not a perf bug);
  *  - FEWER CANDIDATES: each generator must emit strictly fewer pairs
  *    than the raw blocked join it replaces;
  *  - RIGHT GENERATOR: the chooser must pick the blocked path on the
  *    fixture's 31-word vocabulary and the prefix path on a
  *    realistically-huge vocabulary.
  */
class PrefixFilterSpec extends AnyFunSuite {
  import TestSpark._
  import graft.operators.Dedup

  private def meta = spark.read.parquet(s"$sf0001/documents.parquet")
    .selectExpr("doc_id", "lang", "n_chars DIV 50 AS bucket",
      "size(array_distinct(split(text, ' '))) AS sz")

  private def tokenEnc = spark.read.parquet(s"$sf0001/documents.parquet")
    .selectExpr("doc_id",
      "array_sort(transform(array_distinct(split(text, ' ')), " +
        "t -> CAST(conv(substr(md5(t), 1, 15), 16, 10) AS BIGINT))) AS codes")

  private def blockedCount = {
    val m = meta
    m.as("a").join(m.as("b"),
      col("a.lang") === col("b.lang") && col("a.bucket") === col("b.bucket") &&
      col("a.doc_id") < col("b.doc_id")).count()
  }

  test("both generators beat the raw blocked self-join count") {
    val blocked = blockedCount
    val viaPrefix = Dedup.prefixCandidates(tokenEnc, meta, 4, 5).count()
    assert(viaPrefix < blocked, s"prefix: $viaPrefix !< $blocked")
    val adaptive = Dedup.candidatePairs(tokenEnc, meta, 4, 5, "spec:near", sf0001).count()
    assert(adaptive < blocked, s"adaptive: $adaptive !< $blocked")
    // candidate count can never go below the TRUE pair count, and this
    // fixture is adversarial for rarity ordering (31-token vocabulary, so
    // the "rarest" tokens have df in the hundreds and co-occur constantly;
    // a real corpus vocabulary makes prefixes near-unique). The honest
    // bound: candidates within a small factor of the irreducible floor.
    val truePairs = SparkEntry.queries("q_dedup_near")(spark, sf0001).count()
    assert(viaPrefix <= 3 * truePairs,
      s"prefix candidate excess unbounded: $viaPrefix for $truePairs true pairs")
  }

  test("no qualifying pair is lost by either generator") {
    val near = SparkEntry.queries("q_dedup_near")(spark, sf0001)
      .select("doc_a", "doc_b")
    assert(near.count() > 0, "fixture should contain at least one near-dup pair")
    for ((cand, tag) <- Seq(
        (Dedup.prefixCandidates(tokenEnc, meta, 4, 5), "prefix"),
        (Dedup.candidatePairs(tokenEnc, meta, 4, 5, "spec:near2", sf0001), "adaptive"))) {
      assert(near.join(cand, Seq("doc_a", "doc_b"), "left_anti").isEmpty,
        s"a verified near-dup pair was absent from the $tag candidate set")
    }
  }

  test("chooser: blocked path on the degenerate fixture, prefix on Zipfian vocab") {
    // fixture: 31-word vocab << pbar^2 * nblocks -> blocked path, whose
    // plan has no Generate (explode) stage
    val fixturePlan = Dedup.candidatePairs(tokenEnc, meta, 4, 5, "spec:near3", sf0001)
      .queryExecution.optimizedPlan.toString
    assert(!fixturePlan.contains("Generate"),
      s"expected size-pruned block join on fixture vocab:\n${fixturePlan.take(1200)}")
    // synthetic corpus with a huge vocabulary: 400 docs x 20 near-unique
    // tokens -> vocab ~8000 >> pbar^2 * nblocks -> prefix path (explodes
    // prefixes, so the plan carries a Generate)
    val zipf = spark.range(400).selectExpr(
      "id AS doc_id", "'en' AS lang", "CAST(0 AS BIGINT) AS bucket",
      "20 AS sz",
      "array_sort(transform(sequence(0, 19), j -> id * 20 + j)) AS codes")
    val zm = zipf.select("doc_id", "lang", "bucket", "sz")
    val ze = zipf.select("doc_id", "codes")
    // an in-memory corpus: its memo key dir is an empty temp dir
    val zipfDir = java.nio.file.Files.createTempDirectory("graft_zipf").toString
    val zipfPlan = Dedup.candidatePairs(ze, zm, 4, 5, "spec:zipf", zipfDir)
      .queryExecution.optimizedPlan.toString
    assert(zipfPlan.contains("Generate"),
      s"expected prefix path on Zipfian vocab:\n${zipfPlan.take(1200)}")
  }

  test("each generator called directly: plan shape, no lost pairs; cache clears") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val prefix = Dedup.prefixCandidates(tokenEnc, meta, 4, 5)
    assert(prefix.queryExecution.optimizedPlan.toString.contains("Generate"),
      "the prefix generator must explode prefixes")
    val m = meta
    val blocked = Dedup.incrementalCandidates(m, m, 4, 5)
    assert(!blocked.queryExecution.optimizedPlan.toString.contains("Generate"),
      "the blocked generator must be a plain block join")
    // both generators are exact supersets of the qualifying pairs; on
    // identical input their candidate SETS may differ, but the verified
    // pairs must not — assert through the verify stage
    val near = rows(SparkEntry.queries("q_dedup_near")(spark, sf0001)
      .select("doc_a", "doc_b"))
    assert(near.subsetOf(rows(prefix)) && near.subsetOf(rows(blocked)),
      "a generator lost qualifying pairs")
    // the memoized choice clears when the corpus under its dir is
    // rewritten: a copy of the fixture (blocked path) is overwritten in
    // place with a huge-vocabulary corpus, and the same key must switch
    // to the prefix path instead of serving the stale choice
    val dir = java.nio.file.Files.createTempDirectory("graft_gen_rewrite")
    val docs = dir.resolve("documents.parquet")
    java.nio.file.Files.copy(java.nio.file.Paths.get(sf0001, "documents.parquet"), docs)
    def plan(): String = {
      val d = spark.read.parquet(docs.toString)
      val m = d.selectExpr("doc_id", "lang", "n_chars DIV 50 AS bucket",
        "size(array_distinct(split(text, ' '))) AS sz")
      val e = d.selectExpr("doc_id", "array_sort(transform(array_distinct(" +
        "split(text, ' ')), t -> CAST(conv(substr(md5(t), 1, 15), 16, 10) AS BIGINT))) AS codes")
      Dedup.candidatePairs(e, m, 4, 5, "spec:rewrite", dir.toString)
        .queryExecution.optimizedPlan.toString
    }
    assert(!plan().contains("Generate"), "fixture copy must take the blocked path")
    assert(!plan().contains("Generate"))
    assert(Artifacts.builds("dedup.candidateGen.spec:rewrite", dir.toString) == 1)
    val staged = dir.resolve("staged").toString
    spark.range(400).selectExpr("id AS doc_id", "'en' AS lang", "100 AS n_chars",
        "concat_ws(' ', transform(sequence(0, 19), j -> concat('t', id * 20 + j))) AS text")
      .coalesce(1).write.parquet(staged)
    graft.sinks.AliasedIndex.deleteRecursively(docs)
    java.nio.file.Files.move(java.nio.file.Paths.get(staged), docs)
    assert(plan().contains("Generate"), "rewritten corpus served the stale generator choice")
  }

  test("q_dedup_cosine two-level block bounds within-block pairs") {
    // label alone is a coarse cluster that grows linearly with the corpus;
    // composing it with the sign-LSH bucket must strictly shrink the
    // worst block and the total pair count
    graft.functions.LshBucket.register(spark)
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .selectExpr("vec_id", "label",
        "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      .selectExpr("vec_id", "label", "lsh_bucket(v, 4) AS bucket")
    def pairSum(df: org.apache.spark.sql.DataFrame, keys: String*) =
      df.groupBy(keys.map(col): _*).count()
        .agg(sum(expr("count * (count - 1) DIV 2"))).head().getLong(0)
    val oneLevel = pairSum(e, "label")
    val twoLevel = pairSum(e, "label", "bucket")
    assert(twoLevel < oneLevel,
      s"two-level blocking must bound pairs: $twoLevel !< $oneLevel")
    assert(twoLevel * 2 <= oneLevel,
      s"expected >=2x pair reduction from the LSH level, got $twoLevel vs $oneLevel")
  }

  test("integer prefix math: ceil(t*sz) has no float drift at boundary sizes") {
    // p = sz - ceil(t*sz) + 1 via (num*sz + den - 1) DIV den; double ceil
    // of 0.8*5 is 5 (4.000000000000001), which would shorten the prefix
    for (sz <- 1 to 200) {
      val exact = sz - ((4 * sz + 4) / 5) + 1
      val viaDouble = sz - math.ceil(0.8 * sz).toInt + 1
      assert(exact >= 1, s"prefix length must be positive at sz=$sz")
      assert(exact >= viaDouble, s"integer math weaker than double at sz=$sz")
    }
    assert(5 - ((4 * 5 + 4) / 5) + 1 == 2) // the sz=5 case double ceil gets wrong
  }
}
