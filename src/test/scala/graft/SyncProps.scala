package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll
import graft.sinks._

/** Model-based properties for the sync delivery machinery — the pieces
  * whose failure modes are combinatorial (retry scripts, generation
  * stacks, merge order) and where example tests under-cover:
  *
  *  - [[Writers.deliver]] is checked against an independent reference
  *    model of the retry contract over RANDOM failure scripts;
  *  - [[Writers.foldState]] over a random generation stack equals a
  *    plain map replay, and redelivery (replay) changes nothing;
  *  - [[graft.sync.MaxWatermarkAccumulator]] equals `max` under any
  *    partitioning and merge order (what task scheduling permutes);
  *  - the integer ceil used for Jaccard prefixes equals exact rational
  *    arithmetic everywhere (the float-ceil trap, pinned as a law);
  *  - [[graft.sync.SyncRunner.planDocs]]' bucket-offset rank assigns the
  *    same batches as the plain per-shard `row_number` window.
  */
object SyncProps extends Properties("graft.sync") {

  // ---- deliver() vs a reference model of the retry contract ----------

  sealed trait Attempt
  case object Throws extends Attempt // network-level failure
  /** Per-doc MIXED outcomes: docs at `perm` positions are permanently
    * rejected, docs at `retry` positions retryably, the rest accepted —
    * the real `_bulk` response shape (positions beyond the batch size
    * are ignored; both-sets positions count as permanent).
    */
  final case class Mixed(perm: Set[Int], retry: Set[Int]) extends Attempt
  case object Accepts extends Attempt

  /** Replays a script; every attempt consumes one entry ([[Accepts]]
    * after exhaustion). Records the last fully-accepted batch.
    */
  final class ScriptedClient(script: Seq[Attempt]) extends BulkClient {
    var calls = 0
    var lastAccepted: Option[Seq[BulkDoc]] = None
    override def send(shard: Int, batchIdx: Int, docs: Seq[BulkDoc]): Seq[DocOutcome] = {
      val a = if (calls < script.length) script(calls) else Accepts
      calls += 1
      val outcomes = a match {
        case Throws => throw new RuntimeException("scripted network failure")
        case Mixed(perm, retry) => docs.zipWithIndex.map { case (d, i) =>
          if (perm(i)) DocOutcome(d.id, ok = false, retryable = false, error = Some("mapping"))
          else if (retry(i)) DocOutcome(d.id, ok = false, retryable = true, error = Some("429"))
          else DocOutcome(d.id, ok = true)
        }
        case Accepts => docs.map(d => DocOutcome(d.id, ok = true))
      }
      if (outcomes.forall(_.ok)) lastAccepted = Some(docs)
      outcomes
    }
  }

  /** Independent restatement of the documented contract: attempts run in
    * script order; any permanent rejection in an attempt fails the batch
    * immediately; an attempt with only retryable failures (or a thrown
    * request) is retried while the resend budget lasts; an attempt with
    * no failures wins.
    */
  private def referenceModel(script: Seq[Attempt], nDocs: Int,
      maxRetries: Int): Either[String, Int] = {
    var attempt = 0 // resends used
    var i = 0
    while (true) {
      val a = if (i < script.length) script(i) else Accepts
      i += 1
      val kind = a match {
        case Accepts => "ok"
        case Throws  => "retry"
        case Mixed(perm, retry) =>
          if (perm.exists(_ < nDocs)) "permanent"
          else if (retry.exists(_ < nDocs)) "retry"
          else "ok"
      }
      kind match {
        case "ok"        => return Right(i)
        case "permanent" => return Left("permanent")
        case "retry" =>
          attempt += 1
          if (attempt > maxRetries) return Left("exhausted")
      }
    }
    sys.error("unreachable")
  }

  private val genDocs: Gen[Seq[BulkDoc]] = for {
    n <- Gen.choose(1, 8)
    ids <- Gen.pick(n, 0 until 50)
  } yield ids.toSeq.sorted.map(i => BulkDoc(i.toString, Some(s"""{"v":$i}""")))

  private val genAttempt: Gen[Attempt] = Gen.frequency(
    3 -> Gen.const(Throws),
    3 -> Gen.const(Accepts),
    4 -> (for {
      perm <- Gen.someOf(0 until 8).map(_.toSet)
      retry <- Gen.someOf(0 until 8).map(_.toSet)
    } yield Mixed(perm, retry)))

  private val genScript: Gen[List[Attempt]] = Gen.listOfN(6, genAttempt)

  property("deliver matches the retry-contract reference model (mixed per-doc outcomes)") =
    forAll(genDocs, genScript, Gen.choose(0, 4)) { (docs, script, maxRetries) =>
      val client = new ScriptedClient(script)
      val actual =
        try { Writers.deliver(client, 0, 0, docs, maxRetries, backoffMs = 0); Right(client.calls) }
        catch { case e: BulkRejectedException =>
          Left(if (e.rejected.exists(!_.retryable)) "permanent" else "exhausted") }
      val expected = referenceModel(script, docs.size, maxRetries)
      val stateOk = expected match {
        case Right(_) => client.lastAccepted.contains(docs) // full batch, original order
        case Left(_)  => true
      }
      Prop(actual == expected && stateOk) :| s"actual=$actual expected=$expected"
    }

  /** Reference model of the QUARANTINE contract: outcome-level permanent
    * rejections are removed from the batch and collected (in outcome
    * order), retryable failures resend the surviving batch against the
    * bounded budget, a clean attempt (or an empty surviving batch) ends
    * the delivery. Thrown requests stay retryable (the default
    * isRetryable; non-retryable request classification is covered by
    * example tests — it throws regardless of quarantine).
    */
  private def quarantineModel(script: Seq[Attempt], docs: Seq[BulkDoc],
      maxRetries: Int): Either[String, Seq[String]] = {
    var remaining = docs
    val dead = scala.collection.mutable.ArrayBuffer.empty[String]
    var attempt = 0
    var i = 0
    while (remaining.nonEmpty) {
      val a = if (i < script.length) script(i) else Accepts
      i += 1
      val retryNeeded = a match {
        case Accepts => return Right(dead.toSeq)
        case Throws  => true
        case Mixed(perm, retry) =>
          val n = remaining.size
          val permIdx = perm.filter(_ < n)
          val retryIdx = (retry -- perm).filter(_ < n)
          dead ++= permIdx.toSeq.sorted.map(remaining(_).id)
          remaining = remaining.zipWithIndex
            .collect { case (d, j) if !permIdx(j) => d }
          if (retryIdx.isEmpty) return Right(dead.toSeq)
          true
      }
      if (retryNeeded) {
        attempt += 1
        if (attempt > maxRetries) return Left("exhausted")
      }
    }
    Right(dead.toSeq) // the whole batch ended up quarantined
  }

  property("deliver with quarantine sheds exactly the permanently-rejected docs") =
    forAll(genDocs, genScript, Gen.choose(0, 4)) { (docs, script, maxRetries) =>
      val client = new ScriptedClient(script)
      val actual =
        try Right(Writers.deliver(client, 0, 0, docs, maxRetries, backoffMs = 0,
          quarantine = true).deadLettered.map(_.id))
        catch { case _: BulkRejectedException => Left("exhausted") }
      val expected = quarantineModel(script, docs, maxRetries)
      Prop(actual == expected) :| s"actual=$actual expected=$expected"
    }

  // ---- foldState over a random generation stack ----------------------

  private val genGenerationStack: Gen[List[List[(Int, Boolean)]]] = {
    val genOneGen = for {
      n <- Gen.choose(0, 6)
      ids <- Gen.pick(n, 0 until 10)
      dels <- Gen.listOfN(n, Gen.oneOf(true, false))
    } yield ids.toList.sorted.zip(dels) // unique ids within a generation
    Gen.choose(1, 4).flatMap(g => Gen.listOfN(g, genOneGen))
  }

  property("foldState equals a plain map replay of the generation stack, and replay is idempotent") =
    forAll(genGenerationStack) { stack =>
      val dir = java.nio.file.Files.createTempDirectory("graft_foldprop")
      try {
        def writeAll(): Unit = stack.zipWithIndex.foreach { case (entries, g) =>
          val docs = entries.map { case (id, del) =>
            BulkDoc(id.toString, if (del) None else Some(s"""{"v":$id,"g":$g}"""))
          }
          if (docs.nonEmpty) FileBulkClient(dir.toString, gen = Some(g)).send(0, 0, docs)
        }
        writeAll()
        val expected = stack.zipWithIndex.foldLeft(Map.empty[String, String]) {
          case (m, (entries, g)) => entries.foldLeft(m) {
            case (m2, (id, true))  => m2 - id.toString
            case (m2, (id, false)) => m2 + (id.toString -> s"""{"v":$id,"g":$g}""")
          }
        }
        val first = Writers.foldState(dir.toString)
        writeAll() // task-retry analog: redeliver every generation
        val second = Writers.foldState(dir.toString)
        Prop(first == expected && second == expected) :|
          s"folded=$first expected=$expected"
      } finally {
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files.walk(dir)
        try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .iterator.asScala.foreach(java.nio.file.Files.deleteIfExists(_))
        finally walk.close()
      }
    }

  // ---- MaxWatermarkAccumulator under arbitrary partition/merge order --

  property("MaxWatermarkAccumulator equals max under any partitioning and merge order") =
    forAll(Gen.listOf(Gen.choose(-1000L, 1000L)), Gen.choose(1, 5)) { (xs, nParts) =>
      val parts = xs.grouped(math.max(1, (xs.size + nParts - 1) / nParts)).toList
      val accs = parts.map { p =>
        val a = new graft.sync.MaxWatermarkAccumulator
        p.foreach(v => a.add(java.lang.Long.valueOf(v)))
        a
      }
      val merged = new graft.sync.MaxWatermarkAccumulator
      scala.util.Random.shuffle(accs).foreach(merged.merge(_))
      val expected = if (xs.isEmpty) None else Some(java.lang.Long.valueOf(xs.max))
      Prop(merged.value == expected) :| s"got=${merged.value} want=$expected"
    }

  // ---- planDocs' bucket-offset rank == the plain per-shard window ------

  private val genRankCase: Gen[(Seq[String], Int, Int)] = for {
    n <- Gen.choose(0, 300)
    ids <- Gen.listOfN(n, Gen.choose(0L, Long.MaxValue).map(_.toString))
    shards <- Gen.choose(1, 16)
    batchSize <- Gen.choose(1, 50)
  } yield (ids.distinct, shards, batchSize)

  property("planDocs batch_id equals (row_number() OVER (PARTITION BY routing ORDER BY h, _id) - 1) DIV batchSize") =
    // no shrinking: each step is a Spark job, and the label names the diff
    Prop.forAllNoShrink(genRankCase) { case (ids, shards, batchSize) =>
      import org.apache.spark.sql.functions.{expr, lit}
      import graft.sync.{DocField, SyncJob, SyncRunner, SyncSource}
      val spark = TestSpark.spark
      import spark.implicits._
      val job = SyncJob("rank_prop", SyncSource.Table("unused"), idCol = "_id",
        fields = Seq(DocField("v", "1", quoted = false)), shards = shards, batchSize = batchSize)
      val docs = SyncRunner.routed(ids.toDF("_id")
        .withColumn("doc", lit("{}")).withColumn("action", lit("index")), shards)
      def batches(df: org.apache.spark.sql.DataFrame, c: String): Map[String, Long] =
        df.select("_id", c).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val planned = batches(SyncRunner.planDocs(docs, job), "batch_id")
      val window = batches(docs.withColumn("ref", expr("CAST((row_number() OVER " +
        s"(PARTITION BY routing ORDER BY h, _id) - 1) DIV $batchSize AS BIGINT)")), "ref")
      Prop(planned.size == ids.size && planned == window) :|
        s"shards=$shards batchSize=$batchSize ids=${ids.size} " +
          s"diff=${planned.toSet.diff(window.toSet).take(5)}"
    }

  // ---- integer prefix ceil == exact rational ceil ---------------------

  property("(num*sz + den - 1) DIV den is exact rational ceil (no float drift)") =
    forAll(Gen.choose(1, 12), Gen.choose(1, 12), Gen.choose(0, 5000)) { (a, b, sz) =>
      val (num, den) = if (a <= b) (a, b) else (b, a) // threshold <= 1
      val viaInt = (num.toLong * sz + den - 1) / den
      val exact = (BigInt(num) * sz + den - 1) / den
      Prop(viaInt == exact.toLong) :| s"num=$num den=$den sz=$sz"
    }
}
