package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import graft.sinks.AliasedIndex
import graft.streaming.LakeBridge

/** [[AliasedIndex]]'s commit protocol at the edges a crash leaves
  * behind: a version renamed into place but never flipped to is not a
  * commit — GC does not count it toward `keep`, the ledger does not read
  * it, and the lake's CDF consumer does not list it.
  */
class CommitProtocolSpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit(); d.toString
  }

  private def versionDirs(root: String): Seq[String] =
    AliasedIndex.numbered(Paths.get(root), "v").map(_._2.getFileName.toString)

  test("GC never counts an unflipped leftover toward keep, nor deletes one newer than current") {
    val root = tmp("graft_gc_leftover")
    def write(tag: String)(dir: String): Unit =
      Files.writeString(Paths.get(dir, "data.txt"), tag)
    AliasedIndex.publish(root)(write("one"))
    val previous = AliasedIndex.publish(root)(write("two"))
    // a publish that renamed v-00003 into place and crashed before its flip
    Files.createDirectories(Paths.get(root, "v-00003"))
    AliasedIndex.publish(root)(write("four"))
    assert(Files.isDirectory(Paths.get(previous)),
      "GC deleted the version current named before the publish — an in-flight reader's")
    assert(versionDirs(root) == Seq("v-00002", "v-00004"), versionDirs(root).mkString(","))

    Files.createDirectories(Paths.get(root, "v-00005"))
    assert(AliasedIndex.vacuum(root, keep = 1) == Seq("v-00002"))
    assert(versionDirs(root) == Seq("v-00004", "v-00005"),
      s"vacuum touched a version newer than current: ${versionDirs(root)}")
    assert(AliasedIndex.resolve(root).get.endsWith("v-00004"))
  }

  test("a crashed lake commit's ledger is not carried: the replayed batch folds") {
    val root = tmp("graft_lake_crash")
    val d = Tables(spark, sf0001, "documents").select("doc_id", "text")
    assert(LakeBridge.appendCommit(spark, root, d.where("doc_id % 3 = 0"), None))
    // batch 0's first attempt crashed after writing its snapshot dir and
    // ledger, before the commit: snapshot 2 is not committed
    val crashed = Paths.get(root, "snapshots", "v-00002")
    Files.createDirectories(crashed)
    Files.writeString(crashed.resolve("batch"), "0")
    Files.writeString(crashed.resolve("kind"), "append")
    // an un-batched (nightly) commit lands before the stream restarts
    assert(LakeBridge.appendCommit(spark, root, d.where("doc_id % 3 = 1"), None))
    assert(LakeBridge.commitDiffs(spark, root).size == 2)
    // the restarted stream replays batch 0: it never committed, so it folds
    assert(LakeBridge.appendCommit(spark, root, d.where("doc_id % 3 = 2"), Some(0L)),
      "the replay of a batch that never committed was skipped — the batch is lost")
    assert(LakeBridge.read(spark, root).count() == d.count())
    assert(LakeBridge.commitDiffs(spark, root).map(_._2.count()).sum == d.count())
  }

  test("LakeBridge.manifest starts no Spark job") {
    val root = tmp("graft_lake_manifest")
    val d = Tables(spark, sf0001, "documents").select("doc_id", "text")
    assert(LakeBridge.appendCommit(spark, root, d.where("doc_id % 2 = 0"), Some(0L)))
    assert(LakeBridge.appendCommit(spark, root, d.where("doc_id % 2 = 1"), Some(1L)))
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBus.drain(sc)
    sc.addSparkListener(listener)
    val files = try {
      val m = LakeBridge.versions(root).map(LakeBridge.manifest(spark, root, _))
      ListenerBus.drain(sc)
      m
    } finally sc.removeSparkListener(listener)
    assert(files.map(_.size) == Seq(1, 2), files)
    assert(jobs.get == 0, s"reading two manifests started ${jobs.get} Spark jobs")
  }
}
