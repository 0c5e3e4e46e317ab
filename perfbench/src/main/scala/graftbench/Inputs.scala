package graftbench

import java.util.SplittableRandom

/** Everything a workload derives from its seed besides the tables: the
  * key sample, the delta widths, the fault positions and the request
  * stream. All pure functions of their arguments (see SeedSpec). */
object Inputs {
  private def shuffle[T](xs: Seq[T], r: SplittableRandom): Seq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse.dropRight(1)) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq.asInstanceOf[Seq[T]]
  }

  def family(key: String): String = key.split('_').lift(1).getOrElse(key)

  /** `keys` in a seeded order. */
  def keyOrder(seed: Long, keys: Seq[String]): Seq[String] =
    shuffle(keys.sorted, Gen.rng(seed, "key-order", 0))

  /** Delta widths in days, in complementary pairs (w, 36 − w) with w
    * seeded from [[WidthSet]], so every two steps cover 36 days whatever
    * the seed. The span is assumed: 36 days of deltas make a pair of steps
    * that fits one run. */
  val WidthSet: Seq[Int] = Seq(12, 14, 16, 18, 20, 22, 24)
  val PairDays = 36
  def deltaWidths(seed: Long, steps: Int): Seq[Int] =
    (0 until (steps + 1) / 2).flatMap { p =>
      val w = WidthSet(Gen.rng(seed, "widths", p).nextInt(WidthSet.size))
      Seq(w, PairDays - w)
    }.take(steps)

  /** Seeded bulk faults for one document id: about 1 in 200 ids is
    * permanently rejected, 1 in 40 is rejected once as retryable. The
    * rates are assumed, not measured: a step lands some 75–150 orders and
    * 300–600 line items, so it meets about 3 permanent and 14 retryable
    * faults, and a run meets both kinds. */
  sealed trait Fault
  case object NoFault extends Fault
  case object Retryable extends Fault
  case object Permanent extends Fault
  def fault(seed: Long, id: String): Fault = {
    val v = Gen.rng(seed, s"fault:$id", 0).nextInt(1000)
    if (v < 5) Permanent else if (v < 30) Retryable else NoFault
  }

  // ---- search requests -------------------------------------------------

  sealed trait Req { def kind: String }
  final case class Bm25(terms: Seq[String]) extends Req { def kind = "bm25" }
  final case class And(terms: Seq[String]) extends Req { def kind = "and" }
  final case class Phrase(terms: Seq[String]) extends Req { def kind = "phrase" }
  final case class After(terms: Seq[String]) extends Req { def kind = "after" }
  final case class Wildcard(prefix: String) extends Req { def kind = "wildcard" }
  final case class Fuzzy(term: String) extends Req { def kind = "fuzzy" }
  final case class Mlt(doc: Long) extends Req { def kind = "mlt" }
  final case class ViewKey(key: String) extends Req { def kind = "view" }
  val ReqKinds: Seq[String] = Seq("bm25", "and", "phrase", "after", "wildcard", "fuzzy", "mlt", "view")

  /** Request `round` of `client`: one request of each kind in a seeded
    * order. Terms are drawn from `df` (term → document frequency) with
    * probability proportional to document frequency. */
  def requestRound(seed: Long, client: Int, round: Long, df: Seq[(String, Long)],
      nDocs: Long, viewKeys: Seq[String]): Seq[Req] = {
    val r = Gen.rng(seed, s"requests-$client", round)
    val total = df.map(_._2).sum
    def term(): String = {
      var x = r.nextLong(total)
      df.find { case (_, n) => x -= n; x < 0 }.get._1
    }
    def distinctTerms(n: Int): Seq[String] =
      Iterator.continually(term()).distinct.take(n).toSeq
    def edited(t: String): String = {
      val i = r.nextInt(t.length)
      t.updated(i, ('a' + r.nextInt(26)).toChar)
    }
    val reqs = Seq(
      Bm25(distinctTerms(1 + r.nextInt(3))),
      And(distinctTerms(2)),
      Phrase(distinctTerms(2 + r.nextInt(2))),
      After(distinctTerms(1 + r.nextInt(2))),
      Wildcard({ val t = term(); t.take(math.min(2, t.length)) }),
      Fuzzy(edited(term())),
      Mlt(r.nextLong(nDocs)),
      ViewKey(viewKeys(r.nextInt(viewKeys.size))))
    shuffle(reqs, r)
  }
}
