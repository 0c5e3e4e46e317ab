package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** All k-gram polynomial hashes of a string, one per character position,
  * computed with an O(1)-per-position rolling recurrence (Rabin-Karp).
  *
  * The hash of the k code points starting at position i (0-based; the
  * same code-point slices `substr(text, i+1, k)` yields) is the FIXED
  * public polynomial
  *
  *   H(i) = ( sum_{j=0}^{k-1} (cp_{i+j} + 1) * B^(k-1-j) )  mod M
  *
  * with B = 1000003 and M = 2^61 - 1 (a Mersenne prime, so the modular
  * product reduces with shifts instead of division). The +1 keeps NUL
  * code points from vanishing as leading zero coefficients. The rolling
  * step drops the leading term, multiplies by B, and adds the next code
  * point — O(n) total where the per-position direct form is O(n*k); for
  * the k=24 fingerprints of q_dedup_substring that is the difference
  * between hashing a corpus in one pass and 24.
  *
  * Because the definition is plain modular arithmetic (not an opaque
  * digest), the IDENTICAL value is computable in ANSI SQL: the DuckDB
  * oracle evaluates the sum form per gram in 128-bit integers
  * (`Dedup.rollDuck`), and `RollingKgramHashSpec` pins the recurrence
  * against the direct sum on adversarial strings, so the two engines'
  * fingerprints are equal by construction, not by sampling.
  *
  * Output order is positional (gram i at index i); callers that need set
  * semantics distinct() after the explode, exactly as with the transform
  * formulation this replaces.
  */
case class RollingKgramHash(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"rolling_kgram_hash: k must be >= 1, got $k")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "rolling_kgram_hash"

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(RollingKgramHash.hashes(input.asInstanceOf[UTF8String], k))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.RollingKgramHash$$.MODULE$$.hashes($a, $k))")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RollingKgramHash {
  /** Mersenne prime 2^61 - 1. */
  val M: Long = (1L << 61) - 1
  /** Polynomial base (prime, > any Unicode code point + 1). */
  val B: Long = 1000003L

  /** (a * b) mod M for a, b in [0, M). The 128-bit product hi*2^64 + lo
    * reduces via 2^64 = 8 mod M: fold (hi<<3 | lo>>>61) + (lo & M), then
    * one more fold + conditional subtract brings the value under M.
    * hi < 2^58 (product < 2^122), so hi<<3 never overflows.
    */
  @inline def mulmod(a: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, b)
    val lo = a * b
    var r = ((hi << 3) | (lo >>> 61)) + (lo & M)
    r = (r & M) + (r >>> 61)
    if (r >= M) r - M else r
  }

  /** B^(k-1-j) mod M for j = 0..k-1 — the per-position coefficients of
    * the sum form. Shared with the DuckDB oracle builder so both engines
    * inline the same constants from the same computation.
    */
  def powers(k: Int): Array[Long] = {
    val out = new Array[Long](k)
    out(k - 1) = 1L
    var j = k - 2
    while (j >= 0) { out(j) = mulmod(out(j + 1), B); j -= 1 }
    out
  }

  /** Direct O(n*k) evaluation of the definition — the reference the spec
    * pins the rolling recurrence against. Not used in any query path.
    */
  def hashesDirect(s: UTF8String, k: Int): Array[Long] = {
    val cps = codePoints(s)
    val n = cps.length
    if (n < k) return Array.emptyLongArray
    val pw = powers(k)
    val out = new Array[Long](n - k + 1)
    var i = 0
    while (i <= n - k) {
      var h = 0L
      var j = 0
      while (j < k) {
        h += mulmod(cps(i + j).toLong + 1L, pw(j))
        if (h >= M) h -= M
        j += 1
      }
      out(i) = h
      i += 1
    }
    out
  }

  /** Rolling O(n) evaluation: Horner for the first window, then
    * H(i+1) = (H(i) - (cp_i + 1) * B^(k-1)) * B + (cp_{i+k} + 1) mod M.
    */
  def hashes(s: UTF8String, k: Int): Array[Long] = {
    val cps = codePoints(s)
    val n = cps.length
    if (n < k) return Array.emptyLongArray
    val bk = { // B^(k-1) mod M
      var p = 1L; var j = 1
      while (j < k) { p = mulmod(p, B); j += 1 }
      p
    }
    val out = new Array[Long](n - k + 1)
    var h = 0L
    var j = 0
    while (j < k) { // Horner: h = h*B + (cp+1)
      h = mulmod(h, B) + cps(j).toLong + 1L
      if (h >= M) h -= M
      j += 1
    }
    out(0) = h
    var i = 1
    while (i <= n - k) {
      // drop leading coefficient (add M first: subtraction stays >= 0)
      var t = h + M - mulmod(cps(i - 1).toLong + 1L, bk)
      if (t >= M) t -= M
      t = mulmod(t, B) + cps(i + k - 1).toLong + 1L
      if (t >= M) t -= M
      h = t
      out(i) = h
      i += 1
    }
    out
  }

  /** UTF-16 -> code points, matching substr()'s code-point counting
    * (the TrigramCodes decode). */
  private def codePoints(s: UTF8String): Array[Int] = {
    val str = s.toString
    val len = str.length
    var n = 0
    var i = 0
    while (i < len) { i += Character.charCount(str.codePointAt(i)); n += 1 }
    val cps = new Array[Int](n)
    i = 0; var m = 0
    while (i < len) {
      val cp = str.codePointAt(i)
      cps(m) = cp; m += 1; i += Character.charCount(cp)
    }
    cps
  }

  def build(es: Seq[Expression]): Expression = es match {
    case Seq(c, kk) =>
      require(kk.foldable, "rolling_kgram_hash: k must be a literal")
      RollingKgramHash(c, kk.eval().asInstanceOf[Number].intValue)
    case _ => throw new IllegalArgumentException(
      s"rolling_kgram_hash expects 2 arguments, got ${es.size}")
  }
}
