package graftbench

import org.scalatest.funsuite.AnyFunSuite

/** The seed alone decides every generated input: the same seed regenerates
  * identical inputs, another seed changes them. */
class SeedSpec extends AnyFunSuite {
  private val sizes = Gen.sizes(0.001)
  private val df = Gen.Vocab.zipWithIndex.map { case (t, i) => t -> (i + 1).toLong }
  private val ids = (0 until 2000).map(_.toString)

  private def inputs(seed: Long) = Seq(
    Inputs.keyOrder(seed, QueryMix.Keys),
    Inputs.deltaWidths(seed, 20),
    ids.map(Inputs.fault(seed, _)),
    (0L until 5).flatMap(r => Inputs.requestRound(seed, 0, r, df, 500, Gen.EventTypes)),
    (0L until 50).map(Gen.orderRow(seed, sizes, _)),
    (0L until 50).flatMap(k => Gen.lineRows(seed, sizes, Gen.orderRow(seed, sizes, k))),
    (0L until 50).map(Gen.eventRow(seed, sizes, _)),
    (0L until 200).map(Gen.documentRow(seed, _)),
    (0L until 5).map(Gen.embeddingRow(seed, _).getSeq[Float](1)))

  test("the same seed regenerates identical inputs") {
    assert(inputs(7) == inputs(7))
  }

  test("a different seed changes every input") {
    inputs(7).zip(inputs(8)).foreach { case (a, b) => assert(a != b) }
  }

  test("the key order is a permutation of the fixed key set") {
    (1L to 5L).foreach(seed => assert(Inputs.keyOrder(seed, QueryMix.Keys).sorted == QueryMix.Keys.sorted))
  }

  test("delta widths cover a fixed span every two steps") {
    Seq(1L, 2L, 3L).foreach(seed =>
      assert(Inputs.deltaWidths(seed, 16).grouped(2).map(_.sum).toSet == Set(Inputs.PairDays)))
  }

  test("faults hit a small, seeded share of ids") {
    val f = ids.map(Inputs.fault(11, _))
    val perm = f.count(_ == Inputs.Permanent)
    val retry = f.count(_ == Inputs.Retryable)
    assert(perm > 0 && perm < 40 && retry > 10 && retry < 120)
  }

  test("the sync delta plan is a function of the seed") {
    val a = SyncIngest.Plan(5)
    val b = SyncIngest.Plan(5)
    val c = SyncIngest.Plan(6)
    assert(a.orders == b.orders && a.lines == b.lines && a.corrections == b.corrections)
    assert(a.orders != c.orders && a.lines != c.lines)
    // every step lands new orders and line items, and some soft deletes
    assert((1 until a.bounds.size).forall(i => a.orders(i).nonEmpty && a.lines(i).exists(_._2)))
  }
}
