package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The injected optimizer rule (JaccardSizePrefilter via
  * GraftExtensions, active in every engine session): a
  * `sorted_jaccard_ge(a, b, t) IS NOT NULL` filter gains size-ratio
  * guards in the OPTIMIZED plan, and the kept row set is unchanged.
  */
class RuleSpec extends AnyFunSuite {
  import TestSpark._

  private def pairs = {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .selectExpr("doc_id", "lang",
        "array_sort(array_distinct(split(text, ' '))) AS toks")
    docs.as("a").join(docs.as("b"),
        col("a.lang") === col("b.lang") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.toks").as("ta"), col("b.toks").as("tb"))
  }

  test("size-ratio guards appear in the optimized plan") {
    val filtered = pairs.where(expr("sorted_jaccard_ge(ta, tb, 0.8D)").isNotNull)
    val opt = filtered.queryExecution.optimizedPlan.toString
    assert(opt.contains("sorted_jaccard_ge"), opt.take(1500))
    assert(opt.contains("size("), s"rule did not inject size guards:\n${opt.take(1500)}")
  }

  test("no guards under a disjunction: Or-branch rows are not dropped") {
    // jaccard>=t does NOT imply the size ratio when the predicate is only
    // one branch of an Or — a row can survive via the other disjunct. The
    // rule must derive guards from top-level conjuncts only.
    val cond = col("doc_a") % 7 === 0 ||
      expr("sorted_jaccard_ge(ta, tb, 0.8D)").isNotNull
    val filtered = pairs.where(cond)
    val opt = filtered.queryExecution.optimizedPlan.toString
    assert(!opt.contains("size("),
      s"rule fired on a disjunct — guards are not implied:\n${opt.take(1500)}")
    // row-identity against the alias form the rule cannot touch
    val raw = pairs
      .select(col("doc_a"), col("doc_b"),
        expr("sorted_jaccard_ge(ta, tb, 0.8D)").as("jacc"))
      .where(col("doc_a") % 7 === 0 || col("jacc").isNotNull)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ruled = filtered
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ruled == raw)
    assert(raw.exists(_._1 % 7 == 0), "fixture should exercise the Or branch")
  }

  test("guards still fire on a conjunction alongside other predicates") {
    val filtered = pairs.where(
      expr("sorted_jaccard_ge(ta, tb, 0.8D)").isNotNull && col("doc_a") % 2 === 0)
    val opt = filtered.queryExecution.optimizedPlan.toString
    assert(opt.contains("size("), s"conjunct form lost the guards:\n${opt.take(1500)}")
  }

  test("a user's own size() predicate does not suppress guarding") {
    // per-instance tracking: only the rule's own prior output counts as
    // "already guarded"; an unrelated size(x) conjunct must not mask it
    val filtered = pairs.where(
      expr("sorted_jaccard_ge(ta, tb, 0.8D)").isNotNull && expr("size(ta) > 3"))
    val opt = filtered.queryExecution.optimizedPlan.toString
    // the user predicate contributes one size(, the two guards more
    val nSize = "size\\(".r.findAllIn(opt).length
    assert(nSize >= 3, s"user size() conjunct suppressed the guards ($nSize):\n${opt.take(1500)}")
  }

  test("rule is idempotent: re-optimizing adds no duplicate guards") {
    val filtered = pairs.where(expr("sorted_jaccard_ge(ta, tb, 0.8D)").isNotNull)
    val once = filtered.queryExecution.optimizedPlan
    val twice = plans.JaccardSizePrefilter(plans.JaccardSizePrefilter(once))
    val n1 = "size\\(".r.findAllIn(once.toString).length
    val n2 = "size\\(".r.findAllIn(twice.toString).length
    assert(n1 == n2, s"guard count grew on re-run: $n1 -> $n2")
  }

  test("guards are row-identical: rule output equals the raw predicate") {
    // evaluate the raw expression WITHOUT the IS-NOT-NULL-filter shape the
    // rule matches — emits jacc for every pair, then filters on the alias
    // (an Attribute, not the expression, so the rule cannot fire here)
    val raw = pairs
      .select(col("doc_a"), col("doc_b"),
        expr("sorted_jaccard_ge(ta, tb, 0.8D)").as("jacc"))
      .where(col("jacc").isNotNull)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ruled = pairs.where(expr("sorted_jaccard_ge(ta, tb, 0.8D)").isNotNull)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ruled == raw)
    assert(raw.nonEmpty)
  }
}
