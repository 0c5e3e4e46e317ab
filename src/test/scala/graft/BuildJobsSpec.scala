package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** Building a read key's DataFrame starts no Spark job, unless the key is
  * on the allow-list below with its reason. A job at build time runs
  * outside the action that reads the key: it is paid again by every
  * build, and a `count()` or a write of the frame cannot see or prune it.
  *
  * Every key is built once, cold, over a fresh copy of the sf0.001
  * fixtures: artifacts are memoized per fixture directory, so a copy
  * rebuilds them whatever other suites ran first in this JVM.
  */
class BuildJobsSpec extends AnyFunSuite {
  import TestSpark._

  private val maintains = "write-then-read: the refresh, sync or index write it serves is the point"
  private val layout = "stages a derived on-disk layout of the fixtures, once per fixture dir"
  private val planStep = "driver-side plan step: manifest, bloom or snapshot file selection"
  private val lexicon = "expands the query's terms against the index lexicon on the driver"
  private val loop = "iterative driver loop: each round pins its state"
  private val memo = "builds a memoized artifact (Artifacts), once per fixture dir"
  private val blobPin = "eager localCheckpoint of the decoded blobs (ROADMAP item 8)"

  /** Keys that start jobs while building → why. */
  private val allowed: Map[String, String] = Map(
    "q_view_cdc" -> maintains, "q_view_distinct" -> maintains,
    "q_view_finalize" -> maintains, "q_view_incremental" -> maintains,
    "q_view_join" -> maintains, "q_view_multi" -> maintains,
    "q_view_retract" -> maintains, "q_view_tracked" -> maintains,
    "q_search_delete" -> maintains, "q_search_incremental" -> maintains,
    "q_sync_dlq" -> maintains, "q_sync_reconcile" -> maintains,
    "q_dedup_incremental" -> maintains, "q_dedup_ingest" -> maintains,
    "q_lake_compact" -> s"$layout; reads the v2 and v3 manifests on the driver",
    "q_hive_table" -> layout, "q_join_bucketed" -> layout, "q_scan_binaryfile" -> layout,
    "q_scan_csv" -> layout, "q_scan_json" -> layout, "q_scan_orc" -> layout,
    "q_scan_deletevector" -> layout, "q_scan_dpp" -> layout, "q_scan_zorder" -> layout,
    "q_sink_compacted" -> layout,
    "q_scan_bloomskip" -> s"$layout; $planStep", "q_scan_evolution" -> s"$layout; $planStep",
    "q_scan_manifest" -> planStep, "q_scan_snapshotdiff" -> s"$layout; $planStep",
    "q_scan_timetravel" -> s"$layout; $planStep",
    "q_search_after" -> s"builds the shared search index; $lexicon",
    "q_search_fuzzy" -> lexicon, "q_search_mlt" -> lexicon, "q_search_wildcard" -> lexicon,
    "q_dedup_cluster" -> loop, "q_sample_kcenter" -> loop, "q_cluster_kmeans" -> loop,
    "q_text_unigram_budget" -> loop,
    "q_sim_pq" -> s"$memo: PQ codebook", "q_sim_pq_trained" -> s"$loop; $memo: trained codebook",
    "q_sim_ivfpq" -> s"$loop; $memo: residual codebook",
    "q_sim_pq_bits" -> s"$loop; $memo: residual codebooks",
    "q_dedup_containment" -> s"$memo: pinned token postings",
    "q_dedup_ngram" -> s"$memo: corpus statistics",
    "q_graph_assortativity" -> s"$memo: pinned symmetric edge list",
    "q_graph_linkpred" -> s"$memo: pinned triangle edges",
    "q_dedup_image" -> blobPin, "q_dedup_audio" -> blobPin, "q_dedup_video" -> blobPin,
    "q_multimodal_hashrobust" -> blobPin)

  test("no key outside the allow-list starts a job while it is built") {
    val dir = Files.createTempDirectory("graft_buildjobs")
    val src = java.nio.file.Paths.get(sf0001)
    val walk = Files.walk(src)
    try walk.iterator.asScala.foreach { p: Path =>
      val to = dir.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
    } finally walk.close()
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val started = try SparkEntry.queries.keys.toSeq.sorted.map { k =>
      ListenerBus.drain(sc)
      val j0 = jobs.get
      SparkEntry.queries(k)(spark, dir.toString)
      ListenerBus.drain(sc)
      k -> (jobs.get - j0)
    }.filter(_._2 > 0).toMap
    finally {
      sc.removeSparkListener(listener)
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
    val unexpected = started.keySet -- allowed.keySet
    assert(unexpected.isEmpty,
      s"keys that start jobs while built (key -> jobs): ${started.filter(e => unexpected(e._1))}; " +
        "move the work into the action, or list the key in `allowed` with its reason")
    val stale = allowed.keySet -- started.keySet
    assert(stale.isEmpty, s"allow-listed keys that no longer start a job while built: $stale")
  }
}
