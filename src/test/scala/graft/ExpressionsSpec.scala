package graft

import org.scalatest.funsuite.AnyFunSuite

/** Each custom Catalyst expression must agree exactly with its built-in
  * (slower) formulation on real data — the optimization is only allowed
  * to change the plan, never a bit of the result.
  */
class ExpressionsSpec extends AnyFunSuite {
  import TestSpark._
  import graft.operators.Dedup
  import org.apache.spark.sql.functions._

  private lazy val toksDf = {
    Tables(spark, sf0001, "documents")
      .selectExpr("doc_id", "array_sort(array_distinct(split(text, ' '))) AS toks")
  }

  test("sorted_intersect_size == size(array_intersect) on sorted sets") {
    val pairs = toksDf.limit(40).as("a").crossJoin(toksDf.limit(40).as("b"))
      .selectExpr("sorted_intersect_size(a.toks, b.toks) AS fast",
        "size(array_intersect(a.toks, b.toks)) AS ref")
    assert(pairs.where(col("fast") =!= col("ref")).count() == 0)
  }

  test("sorted_jaccard_ge: NULL below threshold, exact ratio at/above") {
    val pairs = toksDf.limit(60).as("a").crossJoin(toksDf.limit(60).as("b"))
      .selectExpr(
        "sorted_jaccard_ge(a.toks, b.toks, 0.3D) AS fused",
        "CAST(size(array_intersect(a.toks, b.toks)) AS DOUBLE) / " +
          "(size(a.toks) + size(b.toks) - size(array_intersect(a.toks, b.toks))) AS ref")
    assert(pairs.where(col("ref") >= 0.3 && (col("fused").isNull || col("fused") =!= col("ref"))).count() == 0)
    assert(pairs.where(col("ref") < 0.3 && col("fused").isNotNull).count() == 0)
  }

  test("vec_dot == aggregate(zip_with) fold, bit-exact") {
    val e = Tables(spark, sf0001, "embeddings")
      .selectExpr("transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      .selectExpr("vec_dot(v, v) AS fast",
        "aggregate(zip_with(v, v, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (a, p) -> a + p) AS ref")
    assert(e.where(col("fast") =!= col("ref")).count() == 0)
  }

  test("vec_dot is NULL on length mismatch (zip_with null-pad semantics)") {
    val df = spark.sql(
      """SELECT vec_dot(array(1.0D, 2.0D), array(3.0D)) AS mismatch,
        |       vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS ok,
        |       vec_dot(CAST(NULL AS ARRAY<DOUBLE>), array(1.0D)) AS nullin""".stripMargin)
    val r = df.collect()(0)
    assert(r.isNullAt(0))
    assert(r.getDouble(1) == 11.0)
    assert(r.isNullAt(2))
  }

  test("minhash_sig: skips NULL elements, NULL for empty input (list_min semantics)") {
    val df = spark.sql(
      """SELECT minhash_sig(array('a', CAST(NULL AS STRING), 'b')) AS skipped,
        |       minhash_sig(array('a', 'b')) AS plain,
        |       minhash_sig(CAST(array() AS ARRAY<STRING>)) AS empty,
        |       minhash_sig(array(CAST(NULL AS STRING))) AS allnull""".stripMargin)
    val r = df.collect()(0)
    assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    assert(r.isNullAt(2))
    assert(r.isNullAt(3))
  }

  test("weighted-mean cents: HALF_UP away from zero on negative half-cents") {
    import graft.functions.WeightedMean
    assert(WeightedMean.cents(0.125) == 13L)
    assert(WeightedMean.cents(-0.125) == -13L) // math.round would give -12
    assert(WeightedMean.cents(1234.56) == 123456L)
    assert(WeightedMean.cents(-1234.56) == -123456L)
  }

  test("trigram_codes jaccard == string-trigram jaccard, bit-exact") {
    val d = Tables(spark, sf0001, "documents").selectExpr("doc_id",
      "trigram_codes(text) AS tc",
      "array_sort(array_distinct(transform(sequence(1, length(text) - 2), i -> substr(text, i, 3)))) AS ts")
    val pairs = d.limit(30).as("a").crossJoin(d.limit(30).as("b"))
      .selectExpr("sorted_jaccard_ge(a.tc, b.tc, 0.1D) AS fast",
        "sorted_jaccard_ge(a.ts, b.ts, 0.1D) AS ref")
    assert(pairs.where(!(col("fast") <=> col("ref"))).count() == 0)
  }

  test("trigram_codes handles non-ASCII code points and short strings") {
    val r = spark.sql(
      """SELECT size(trigram_codes('ab')) AS short,
        |       size(trigram_codes('aaaa')) AS dedup,
        |       size(trigram_codes('日本語テスト')) AS cjk""".stripMargin).collect()(0)
    assert(r.getInt(0) == 0)
    assert(r.getInt(1) == 1) // 'aaa' twice, distinct once
    assert(r.getInt(2) == 4) // 6 code points -> 4 trigrams, all distinct
  }

  test("GraftExtensions installs all nine custom functions") {
    // ExpressionInfo validates its arguments eagerly, so applying the
    // extensions exercises the whole injectFunction surface.
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val fresh = spark.newSession()
    val names = Seq("vec_dot", "sorted_intersect_size", "sorted_jaccard_ge",
      "minhash_sig", "trigram_codes", "topk_sum", "lsh_bucket", "freq_sketch",
      "rolling_kgram_hash")
    assert(names.filterNot(fresh.catalog.functionExists) == Nil)
    assert(fresh.sql("SELECT lsh_bucket(array_repeat(1.0D, 64), 4)").head().getInt(0) ==
      graft.functions.LshBucket.bucket(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.fill(64)(1.0)), 4,
        failOnError = true))
    val e = intercept[org.apache.spark.sql.AnalysisException](
      fresh.sql("SELECT lsh_bucket(array(1.0D))").collect())
    assert(e.getCondition == "WRONG_NUM_ARGS.WITHOUT_SUGGESTION")
  }

  test("building a key leaves every function as the extension installed it") {
    // q_dedup_cosine_wide's build reads vectors through vec_dot and lsh_bucket
    SparkEntry.queries("q_dedup_cosine_wide")(spark, sf0001)
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT vec_dot(array(1d))").collect())
    assert(e.getCondition == "WRONG_NUM_ARGS.WITHOUT_SUGGESTION")
    val described = spark.sql("DESCRIBE FUNCTION vec_dot").collect().map(_.getString(0))
    assert(described.contains("Usage: vec_dot(a, b) - dot product of two double arrays"),
      described.mkString("\n"))
    // resolvable through SQL in a session no key has been built in
    val fresh = spark.newSession()
    assert(fresh.sql("SELECT rolling_kgram_hash('abcdef', 3)").head().getSeq[Long](0) ==
      graft.functions.RollingKgramHash.hashes(
        org.apache.spark.unsafe.types.UTF8String.fromString("abcdef"), 3).toSeq)
    val sketch = fresh.sql(
      "SELECT freq_sketch(x, 8)['a'].est FROM VALUES ('a'), ('b'), ('a') AS t(x)")
    assert(sketch.head().getLong(0) == 2L)
  }

  /** 64-d vectors as `v ARRAY<DOUBLE>` rows, read through a shuffle so
    * the projection over them runs in the plan, not folded on the driver.
    */
  private def vectorRows(vs: Seq[Option[Seq[Option[Double]]]]) = {
    import spark.implicits._
    vs.zipWithIndex.map { case (v, i) => (i, v) }.toDF("id", "v").repartition(2)
  }

  private def lshCondition(t: Throwable): Option[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).collectFirst {
      case st: org.apache.spark.SparkThrowable if st.getCondition != null => st.getCondition
    }

  test("lsh_bucket == the lshBucketExpr chain, bit-exact, interpreted and codegen") {
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val rnd = new scala.util.Random(42)
    val special = Seq(-0.0, 0.0, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, Double.MinPositiveValue, -Double.MinPositiveValue)
    val random = (0 until 300).map { i =>
      Some(Seq.fill(64)(Some(
        if (i % 5 == 0) special(rnd.nextInt(special.size)) // sparse specials
        else rnd.nextGaussian())))
    }
    val fixed = Seq(
      Some(Seq.fill(64)(Some(-0.0))),
      Some(Seq.fill(64)(Some(1.0))), // integer sums: exact zeros on balanced planes
      Some(Seq.tabulate(64)(j => Some(if (j == 17) Double.NaN else 1.0))),
      Some(Seq.tabulate(64)(j => if (j == 40) None else Some(1.0))), // null element
      Some(Seq.tabulate(70)(j => Some(j - 30.5))), // past 64: extra elements ignored
      None) // null array
    val rows = vectorRows(random ++ fixed)
    val short = vectorRows(Seq(Some(Seq(Some(1.0), Some(2.0)))))
    // the chain at 30 planes holds every narrower chain as its low bits
    // (a sum of distinct plane bits), so one chain checks all 30 fan-outs
    val chain = Dedup.lshBucketExpr(j => s"element_at(v, $j)", 30)
    val cols = s"$chain AS chain" +: (1 to 30).map(p => s"lsh_bucket(v, $p) AS b$p")
    def check(): Unit = {
      val out = rows.selectExpr("id" +: cols: _*).collect()
      assert(out.length == 306)
      for (r <- out; p <- 1 to 30)
        assert(r.getInt(p + 1) == (r.getInt(1) & ((1 << p) - 1)),
          s"row ${r.getInt(0)}, planes $p")
      val byId = out.map(r => r.getInt(0) -> r.getInt(30 + 1)).toMap
      assert(byId(300) == 0 && byId(303) == 0 && byId(305) == 0,
        "all -0.0, a null element and a null array clear every bit")
      assert(byId(302) == (1 << 30) - 1, "a NaN sum sets every bit")
      // and the chains the queries run, rendered at their own fan-out
      for (p <- Seq(4, 6)) {
        val direct = rows.selectExpr(s"${Dedup.lshBucketExpr(j => s"element_at(v, $j)", p)} AS c",
          s"lsh_bucket(v, $p) AS b").where("c != b")
        assert(direct.count() == 0, s"planes $p")
      }
      val conditions = Seq(chain, "lsh_bucket(v, 4)").map(e =>
        lshCondition(intercept[Exception](short.selectExpr(e).collect())))
      assert(conditions == Seq.fill(2)(Some("INVALID_ARRAY_INDEX_IN_ELEMENT_AT")))
    }
    check()
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      check()
    } finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    // without ANSI, element_at reads past the end as NULL: every bit clear
    try {
      spark.conf.set("spark.sql.ansi.enabled", "false")
      val r = short.selectExpr(s"$chain AS c", "lsh_bucket(v, 30) AS b").head()
      assert(r.getInt(0) == 0 && r.getInt(1) == 0)
    } finally spark.conf.unset("spark.sql.ansi.enabled")
  }

  test("minhash_sig equals the naive per-hash formulation") {
    val h = "CAST(conv(substr(md5(t), 1, 15), 16, 10) AS BIGINT)"
    val as = Seq(3, 5, 7, 11, 13, 17, 19, 23)
    val naive = as.zipWithIndex.map { case (a, i) =>
      s"array_min(transform(toks, t -> (($h % 2147483647) * $a + $i) % 2147483647))"
    }.mkString("array(", ", ", ") AS ref")
    val df = toksDf.selectExpr("minhash_sig(toks) AS fast", naive)
    assert(df.where(col("fast") =!= col("ref")).count() == 0)
  }
}
