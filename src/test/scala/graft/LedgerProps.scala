package graft

import java.nio.file.{Files, Path, Paths}

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll
import graft.sinks.AliasedIndex

/** Model-based property for [[AliasedIndex]]'s commit protocol and its
  * exactly-once batch ledger, on the filesystem alone (no Spark). Random
  * sequences of batched, un-batched and replayed publishes, writes that
  * throw, leftovers of publishes that crashed between their rename and
  * their flip, and explicit vacuums run against a model that tracks the
  * committed lineage and the highest committed batchId. After every step:
  *
  *  - `lastBatch` equals the model's highest committed batch, and never
  *    goes backwards;
  *  - a replay is skipped, and a failed or unflipped publish changes
  *    nothing a reader or the ledger can see;
  *  - `current` serves the newest committed write;
  *  - the committed lineage on disk is exactly `keep` long (or all of
  *    it, when shorter), every older version is retired, and no version
  *    newer than `current` is ever deleted.
  */
object LedgerProps extends Properties("graft.ledger") {

  sealed trait Op
  final case class Batched(id: Long) extends Op
  case object Unbatched extends Op
  final case class Throwing(id: Option[Long]) extends Op
  case object Leftover extends Op
  final case class Vacuum(keep: Int) extends Op

  private val genOp: Gen[Op] = Gen.frequency(
    5 -> Gen.choose(0L, 15L).map(Batched(_)),
    2 -> Gen.const(Unbatched),
    1 -> Gen.option(Gen.choose(0L, 15L)).map(Throwing(_)),
    1 -> Gen.const(Leftover),
    1 -> Gen.choose(1, 3).map(Vacuum(_)))

  private def data(dir: String): String = Files.readString(Paths.get(dir, "data"))

  private def onDisk(root: Path): Seq[Int] = AliasedIndex.numbered(root, "v").map(_._1)

  /** What a reader and the ledger can see. */
  private def visible(root: String) = (AliasedIndex.resolve(root).map(data),
    AliasedIndex.lastBatch(root), AliasedIndex.versions(Paths.get(root)).map(_._1))

  property("lastBatch tracks the model; replays, failed and unflipped publishes change nothing; keep holds") =
    forAll(Gen.choose(0, 40).flatMap(Gen.listOfN(_, genOp)), Gen.choose(2, 3)) { (ops, keep) =>
      val rootP = Files.createTempDirectory("graft_ledger")
      val root = rootP.toString
      var ledger = Option.empty[Long] // highest committed batchId
      var served = Option.empty[String] // the newest committed write
      var lineage = 0 // committed versions kept on disk
      var tag = 0
      val failures = Seq.newBuilder[String]
      def check(cond: Boolean, what: => String): Unit = if (!cond) failures += what
      try ops.zipWithIndex.foreach { case (op, i) =>
        val before = visible(root)
        val newer = onDisk(rootP).filter(n =>
          AliasedIndex.versions(rootP).lastOption.forall(_._1 < n))
        def publish(batch: Option[Long]): Unit = {
          tag += 1
          val t = s"w$tag"
          AliasedIndex.publish(root, keep, batch)(d =>
            Files.writeString(Paths.get(d, "data"), t))
          ledger = batch.orElse(ledger); served = Some(t); lineage = math.min(lineage + 1, keep)
        }
        op match {
          case Batched(id) =>
            if (ledger.exists(_ >= id)) {
              check(AliasedIndex.replayed(root, id), s"step $i: replay of $id not detected")
              check(visible(root) == before, s"step $i: a replay check changed state")
            } else {
              check(!AliasedIndex.replayed(root, id), s"step $i: fresh batch $id read as a replay")
              publish(Some(id))
            }
          case Unbatched => publish(None)
          case Throwing(id) =>
            val threw = try {
              AliasedIndex.publish(root, keep, id) { d =>
                Files.writeString(Paths.get(d, "data"), "torn")
                throw new RuntimeException("write failed")
              }
              false
            } catch { case _: RuntimeException => true }
            check(threw, s"step $i: a failing write published")
            check(visible(root) == before, s"step $i: a failed publish changed ${visible(root)} from $before")
          case Leftover =>
            // a publish that renamed its version into place and crashed
            // before the flip, carrying a ledger far past the model's
            val name = AliasedIndex.nextNames(rootP, "v").head
            Files.createDirectories(rootP.resolve(name))
            Files.writeString(rootP.resolve(name).resolve("data"), "unflipped")
            Files.writeString(rootP.resolve(name).resolve("batch"), "999")
            check(visible(root) == before, s"step $i: an unflipped version became visible")
          case Vacuum(k) =>
            val retired = AliasedIndex.vacuum(root, k)
            lineage = math.min(lineage, k)
            check(newer.forall(onDisk(rootP).contains),
              s"step $i: vacuum deleted a version newer than current: $retired")
            check(visible(root)._1 == before._1 && visible(root)._2 == before._2,
              s"step $i: vacuum changed what current serves")
        }
        val (cur, last, kept) = visible(root)
        check(last == ledger, s"step $i ($op): lastBatch $last, model $ledger")
        check(before._2.forall(b => last.exists(_ >= b)), s"step $i: ledger went back from ${before._2} to $last")
        check(cur == served, s"step $i: current serves $cur, model $served")
        check(kept.size == lineage, s"step $i: ${kept.size} committed versions kept, model $lineage")
        kept.lastOption.foreach(c => check(onDisk(rootP).filter(_ < c) == kept.init,
          s"step $i: versions older than current outside the kept lineage: ${onDisk(rootP)} vs $kept"))
      } finally AliasedIndex.deleteRecursively(rootP)
      val found = failures.result()
      Prop(found.isEmpty) :| found.mkString("; ")
    }
}
