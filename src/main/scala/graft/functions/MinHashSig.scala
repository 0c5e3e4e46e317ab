package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Custom Catalyst expression: the `perms`-value MinHash signature of a
  * string array in one pass, one md5 per token.
  *
  * The naive formulation — `array_min(transform(toks, t -> H(t || '#i')))`
  * per i — hashes every token once per signature row (`perms` md5s per
  * token). Here the base hash H(t) (first 15 hex digits of md5 as a
  * 60-bit int, same definition as everywhere else in this repo) is
  * computed once and the hash functions are derived affinely:
  *
  *   h_i(t) = ((H(t) mod M) * A_i + i) mod M,  M = 2147483647 (prime),
  *   A_i = i-th odd prime (3, 5, 7, 11, ...)
  *
  * — a formula the DuckDB oracle reproduces verbatim at the fixture
  * width (8), so LSH candidates (and therefore results) still
  * hash-match. Hash i is the SAME function at every width (the
  * multiplier table is a fixed sequence), so a wider signature extends
  * the narrow one element-for-element — the prefix property the
  * corpus-scaled banding knobs rely on.
  */
case class MinHashSig(child: Expression, perms: Int = 8) extends UnaryExpression {
  require(perms >= 1 && perms <= 256, s"bad minhash perms=$perms")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"
  // Empty (or all-null-element) input yields null — matching what the
  // oracle's list_min gives — so the output is nullable over non-null input.
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val s = MinHashSig.sig(input.asInstanceOf[ArrayData], perms)
    if (s == null) null else new GenericArrayData(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val s = ctx.freshName("graftSig")
      s"""
         |long[] $s = graft.functions.MinHashSig$$.MODULE$$.sig($a, $perms);
         |if ($s == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($s); }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSig {
  val M: Long = 2147483647L

  /** Grow-only table of odd-prime multipliers; index i is fixed forever,
    * so signatures of different widths share their common prefix.
    */
  @volatile private var primes: Array[Long] = Array(3L, 5L, 7L, 11L, 13L, 17L, 19L, 23L)

  private def isPrime(n: Long): Boolean = {
    var d = 3L
    while (d * d <= n) { if (n % d == 0) return false; d += 2 }
    true
  }

  private[graft] def multipliers(n: Int): Array[Long] = {
    var cur = primes
    if (cur.length < n) synchronized {
      cur = primes
      if (cur.length < n) {
        val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
        buf ++= cur
        var c = cur.last + 2
        while (buf.size < n) { if (isPrime(c)) buf += c; c += 2 }
        cur = buf.toArray
        primes = cur
      }
    }
    cur
  }

  /** Fixture-width multipliers, mirrored verbatim in the DuckDB oracle. */
  def A: Array[Long] = multipliers(8).take(8)

  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** H(t): first 15 hex digits of md5(t) as an unsigned 60-bit long —
    * bit-identical to conv(substr(md5(t),1,15),16,10).
    */
  def h(bytes: Array[Byte]): Long = {
    val md = digest.get()
    md.reset()
    val d = md.digest(bytes)
    // first 8 bytes big-endian = 16 hex digits; drop the last nibble
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** Null (not Long.MaxValue sentinels) when no hashable element exists —
    * the value DuckDB's list_min gives on an empty list. Null elements are
    * skipped, as every list_* aggregate-style reduction skips NULLs.
    * `base * mult` cannot overflow: base < 2^31 and the 256th odd
    * multiplier is < 2^12.
    */
  def sig(toks: ArrayData, perms: Int): Array[Long] = {
    val mult = multipliers(perms)
    val out = Array.fill(perms)(Long.MaxValue)
    val n = toks.numElements()
    var seen = false
    var t = 0
    while (t < n) {
      val u = if (toks.isNullAt(t)) null else toks.getUTF8String(t)
      if (u != null) {
        seen = true
        val base = h(u.getBytes) % M
        var i = 0
        while (i < perms) {
          val hi = (base * mult(i) + i) % M
          if (hi < out(i)) out(i) = hi
          i += 1
        }
      }
      t += 1
    }
    if (seen) out else null
  }

  def sig(toks: ArrayData): Array[Long] = sig(toks, 8)

  /** Build from SQL arguments: `minhash_sig(toks[, perms])`, the width a
    * foldable integer literal (it shapes the output schema, so it cannot
    * be per-row data).
    */
  def build(es: Seq[Expression]): MinHashSig = es match {
    case Seq(c) => MinHashSig(c)
    case Seq(c, p) =>
      require(p.foldable, "minhash_sig: perms must be a literal")
      MinHashSig(c, p.eval().asInstanceOf[Number].intValue)
    case _ => throw new IllegalArgumentException(
      s"minhash_sig expects 1 or 2 arguments, got ${es.size}")
  }
}
