package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions._

/** The one installation point for the engine's custom Catalyst
  * functions, optimizer and adaptive rules, and planner strategies — the
  * supported way to extend a cluster-wide session without touching
  * application code:
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * `GraftSession.builder` sets it, so every function is builtin-level:
  * visible in every new session, with one arity check and usage text, and
  * no temp-function scoping. Nothing else registers a function or adds a
  * rule or strategy (ExtensionInstallGuardSpec).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "scala_udf")

  /** Arity guard: a wrong argument count must surface as a readable
    * analysis-time error, not an IndexOutOfBoundsException from the
    * builder reaching into the argument Seq.
    */
  private def arity(name: String, n: Int, es: Seq[Expression]): Seq[Expression] = {
    if (es.length != n)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> name, "expectedNum" -> n.toString,
          "actualNum" -> es.length.toString, "docroot" -> ""))
    es
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("vec_dot"),
      info("vec_dot", "vec_dot(a, b) - dot product of two double arrays"),
      (es: Seq[Expression]) => { val a = arity("vec_dot", 2, es); VecDot(a(0), a(1)) }))
    ext.injectFunction((FunctionIdentifier("sorted_intersect_size"),
      info("sorted_intersect_size",
        "sorted_intersect_size(a, b) - |a intersect b| over sorted distinct arrays"),
      (es: Seq[Expression]) => { val a = arity("sorted_intersect_size", 2, es)
        SortedIntersectSize(a(0), a(1)) }))
    ext.injectFunction((FunctionIdentifier("sorted_jaccard_ge"),
      info("sorted_jaccard_ge",
        "sorted_jaccard_ge(a, b, t) - Jaccard if >= t else NULL, over sorted distinct arrays"),
      (es: Seq[Expression]) => { val a = arity("sorted_jaccard_ge", 3, es)
        SortedJaccardGe(a(0), a(1), a(2)) }))
    ext.injectFunction((FunctionIdentifier("minhash_sig"),
      info("minhash_sig",
        "minhash_sig(toks[, perms]) - MinHash signature (default 8 hashes)"),
      (es: Seq[Expression]) => MinHashSig.build(es)))
    ext.injectFunction((FunctionIdentifier("trigram_codes"),
      info("trigram_codes",
        "trigram_codes(s) - sorted distinct character trigrams as packed 63-bit codes"),
      (es: Seq[Expression]) => TrigramCodes(arity("trigram_codes", 1, es).head)))
    ext.injectFunction((FunctionIdentifier("topk_sum"),
      info("topk_sum", "topk_sum(v, k) - exact sum of the k largest cent-quantized values"),
      (es: Seq[Expression]) => TopKSum.build(arity("topk_sum", 2, es))))
    ext.injectFunction((FunctionIdentifier("lsh_bucket"),
      info("lsh_bucket",
        "lsh_bucket(v, planes) - sign-LSH bucket of a 64-d double vector over fixed Rademacher planes"),
      (es: Seq[Expression]) => LshBucket.build(arity("lsh_bucket", 2, es))))
    ext.injectFunction((FunctionIdentifier("freq_sketch"),
      info("freq_sketch",
        "freq_sketch(item, maxMapSize) - frequent-items sketch served as item -> (est, lb, ub)"),
      (es: Seq[Expression]) => FreqSketch.build(arity("freq_sketch", 2, es))))
    ext.injectFunction((FunctionIdentifier("rolling_kgram_hash"),
      info("rolling_kgram_hash",
        "rolling_kgram_hash(s, k) - polynomial hash of every k-code-point window of s"),
      (es: Seq[Expression]) => RollingKgramHash.build(arity("rolling_kgram_hash", 2, es))))
    // Domain optimizer rule: size-ratio prefilter ahead of the fused
    // Jaccard merge (see JaccardSizePrefilter's scaladoc).
    ext.injectOptimizerRule(_ => graft.plans.JaccardSizePrefilter)
    // A runtime bloom probe copied onto its own creation side always
    // passes; drop it (see RedundantBloomProbe's scaladoc).
    ext.injectOptimizerRule(_ => graft.plans.RedundantBloomProbe)
    // Whole-operator extensions: the native as-of join's and interval
    // overlap's planner strategies (graft.plans.AsOfJoin logical node ->
    // AsOfJoinExec; graft.plans.IntervalOverlap -> IntervalOverlapExec).
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.IntervalOverlapStrategy)
    // Materialized-view routing: aggregates over a registered view
    // source answer from the O(keyspace) state table. Analysis-time —
    // after pruning the source shape no longer matches (ViewRewrite doc).
    ext.injectPostHocResolutionRule(s => new graft.plans.ViewRewriteRule(s))
    // Adaptive physical rule: a small output sort gathers into one task
    // instead of sampling and range-shuffling (GatherSmallSort's scaladoc).
    ext.injectQueryStagePrepRule(_ => graft.plans.GatherSmallSort)
  }
}
