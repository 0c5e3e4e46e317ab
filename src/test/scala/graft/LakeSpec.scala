package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q_scan_timetravel + q_scan_deletevector — the snapshot/commit half of
  * the lake surface (q_scan_manifest pins the data-skipping half).
  *
  * The oracles certify the VALUES (version membership and survivor sets
  * recomputed from key arithmetic, layout-independent); this spec pins
  * the LAKE SEMANTICS the values ride on: commits are manifest writes
  * over immutable shared files (an append leaves the old files byte-
  * untouched; a delete is metadata-only and old snapshots stay
  * readable), and a positional delete is a KB-scale vector applied as a
  * broadcast anti-join, never a data-file rewrite.
  */
class LakeSpec extends AnyFunSuite {
  import TestSpark._

  private def snapPaths(root: String, v: Int): Set[String] =
    spark.read.parquet(s"$root/snapshots/v=$v")
      .collect().map(_.getString(0)).toSet

  test("time travel: commits share immutable files; a delete is metadata-only") {
    SparkEntry.queries("q_scan_timetravel")(spark, sf0001).collect() // build
    val root = operators.Warehouse.timeTravelLayout(spark, sf0001)
    val (v0, v1, v2) = (snapPaths(root, 0), snapPaths(root, 1), snapPaths(root, 2))
    // the append commit (v1) kept every v0 file; the delete commit (v2)
    // dropped exactly bucket 1 from v1's list
    assert(v0.subsetOf(v1), "append commit rewrote the initial load's files")
    assert(v1.diff(v2) == Set(s"$root/files/b=1"), s"v2 dropped ${v1.diff(v2)}")
    // metadata-only delete: the dropped file's data is still on disk and
    // the OLD snapshot still reads it (time travel after the delete)
    val dropped = spark.read.parquet(s"$root/files/b=1")
    assert(dropped.count() > 0, "deleted bucket's file is gone from disk")
    val v1Scan = spark.read.parquet(v1.toSeq: _*)
    assert(v1Scan.inputFiles.exists(_.contains("b=1")),
      "v1 read no longer covers the bucket v2 deleted")
  }

  test("time travel: the served versions reconcile with the bucket counts") {
    val out = SparkEntry.queries("q_scan_timetravel")(spark, sf0001)
      .collect().map(r => r.getAs[Long]("version") -> r.getAs[Long]("n_orders"))
      .toMap
    val byBucket = Tables(spark, sf0001, "orders")
      .groupBy((col("o_orderkey") % 4).as("b")).count()
      .collect().map(r => r.getAs[Long]("b") -> r.getAs[Long]("count")).toMap
    assert(out(0L) == byBucket(0L) + byBucket(1L))
    assert(out(1L) == byBucket.values.sum)
    assert(out(2L) == out(1L) - byBucket(1L))
  }

  test("snapshot diff: the delta read reconciles the versions it bridges") {
    // the CDF contract: v0 + inserts == v1, v1 - deletes == v2, all in
    // row counts served by the two reads themselves
    val tt = SparkEntry.queries("q_scan_timetravel")(spark, sf0001).collect()
      .map(r => r.getAs[Long]("version") -> r.getAs[Long]("n_orders")).toMap
    val d = SparkEntry.queries("q_scan_snapshotdiff")(spark, sf0001).collect()
      .map(r => r.getAs[String]("change") -> r.getAs[Long]("n_rows")).toMap
    assert(tt(0L) + d("insert") == tt(1L),
      s"v0 ${tt(0L)} + inserts ${d("insert")} != v1 ${tt(1L)}")
    assert(tt(1L) - d("delete") == tt(2L),
      s"v1 ${tt(1L)} - deletes ${d("delete")} != v2 ${tt(2L)}")
  }

  test("delete vector: one file per bucket, O(deleted) state, broadcast anti-join") {
    val df = SparkEntry.queries("q_scan_deletevector")(spark, sf0001)
    df.collect() // build
    val (dataPath, dvPath) = operators.Warehouse.deleteVectorLayout(spark, sf0001)
    // the positional coordinate (bucket, pos) is honest: one data file
    // per bucket, so bucket IS the file id
    val files = spark.read.parquet(dataPath)
      .withColumn("f", input_file_name())
      .groupBy("bucket").agg(countDistinct("f").as("nf"))
      .collect()
    assert(files.length == 8 && files.forall(_.getAs[Long]("nf") == 1L),
      s"expected one file per bucket, got ${files.mkString(",")}")
    // the vector holds exactly the DELETE predicate's rows and is small
    val data = spark.read.parquet(dataPath)
    val dvN = spark.read.parquet(dvPath).count()
    val predN = data
      .where(col("o_orderstatus") === "F" && col("o_orderkey") % 7 === 0)
      .count()
    assert(dvN == predN && dvN > 0 && dvN < data.count() / 5,
      s"dv rows $dvN vs predicate rows $predN of ${data.count()}")
    // merge-on-read plan: the vector applies as a broadcast anti-join
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      p.take(2000))
  }

  // ---- q_lake_compact: the DV compaction commit (r18) ----

  private def compactManifest(root: String, v: Int): Seq[(String, String)] =
    spark.read.parquet(s"$root/snapshots/v=$v").collect()
      .map(r => (r.getAs[String]("path"), r.getAs[String]("kind"))).toSeq

  test("compaction: untouched files ride through byte-identical") {
    SparkEntry.queries("q_lake_compact")(spark, sf0001).collect() // build
    val root = operators.Warehouse.dvCompactLayout(spark, sf0001)
    val m2 = compactManifest(root, 2); val m3 = compactManifest(root, 3)
    val shared = m2.collect { case (p, "data") => p }.toSet
      .intersect(m3.map(_._1).toSet)
    assert(shared.nonEmpty, "compaction rewrote every file")
    // filestats recorded each data file's md5 at v2-publish time,
    // BEFORE the compaction commit; recompute now and compare — the
    // untouched buckets' bytes must not have moved
    val md = java.security.MessageDigest.getInstance("MD5")
    val recorded = spark.read.parquet(s"$root/filestats").collect()
      .map(r => r.getAs[String]("path") -> r.getAs[String]("md5")).toMap
    val sharedFiles = recorded.keys.filter(f => shared.exists(f.startsWith))
    assert(sharedFiles.nonEmpty, "no recorded stats for the shared files")
    sharedFiles.foreach { f =>
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f))
      md.reset()
      val now = md.digest(bytes).map("%02x".format(_)).mkString
      assert(now == recorded(f), s"$f changed bytes through the compaction")
    }
  }

  test("compaction: snapshot isolation — v2 merge-on-read survives the commit") {
    val served = SparkEntry.queries("q_lake_compact")(spark, sf0001).collect()
    val root = operators.Warehouse.dvCompactLayout(spark, sf0001)
    val m2 = compactManifest(root, 2)
    val dv = spark.read.parquet(m2.collect { case (p, "delete") => p }.head)
    // re-plan v2 from its own manifest AFTER the compaction commit: the
    // merge-on-read snapshot must still serve the same survivors
    val v2Again = spark.read
      .parquet(m2.collect { case (p, "data") => p }: _*)
      .join(broadcast(dv), Seq("bucket", "pos"), "left_anti")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val v2Served = served.filter(_.getAs[Long]("version") == 2L)
      .map(r => r.getAs[String]("o_orderstatus") -> r.getAs[Long]("n_orders"))
      .toMap
    assert(v2Again == v2Served, s"$v2Again != $v2Served")
  }

  test("compaction: rewritten files carry zero tombstoned positions") {
    SparkEntry.queries("q_lake_compact")(spark, sf0001).collect() // build
    val root = operators.Warehouse.dvCompactLayout(spark, sf0001)
    val m2 = compactManifest(root, 2); val m3 = compactManifest(root, 3)
    val rewritten = m3.map(_._1).toSet
      .diff(m2.collect { case (p, "data") => p }.toSet)
    assert(rewritten.nonEmpty, "v3 added no rewritten files")
    assert(rewritten.forall(_.contains("/rw/")), s"unexpected adds: $rewritten")
    val dv = spark.read.parquet(m2.collect { case (p, "delete") => p }.head)
    // the rewrite carried the ORIGINAL (bucket, pos): joining the
    // cleared vector back must match nothing
    val leaked = spark.read.parquet(rewritten.toSeq: _*)
      .join(broadcast(dv), Seq("bucket", "pos"), "left_semi").count()
    assert(leaked == 0L, s"$leaked tombstoned positions survived the rewrite")
    // and the rewrite dropped ONLY tombstones: per affected bucket,
    // original rows == rewritten rows + vector rows
    val origByBucket = spark.read
      .parquet(m2.collect { case (p, "data") => p }: _*)
      .groupBy("bucket").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rwByBucket = spark.read.parquet(rewritten.toSeq: _*)
      .groupBy("bucket").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dvByBucket = dv.groupBy("bucket").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rwByBucket.foreach { case (b, n) =>
      assert(origByBucket(b) == n + dvByBucket.getOrElse(b, 0L),
        s"bucket $b: ${origByBucket(b)} orig != $n rewritten + ${dvByBucket.getOrElse(b, 0L)} dv")
    }
  }

  test("compaction: the v2 -> v3 diff is a file swap with no logical row delta") {
    val served = SparkEntry.queries("q_lake_compact")(spark, sf0001).collect()
    val root = operators.Warehouse.dvCompactLayout(spark, sf0001)
    val m2 = compactManifest(root, 2); val m3 = compactManifest(root, 3)
    val d2 = m2.collect { case (p, "data") => p }.toSet
    val d3 = m3.map(_._1).toSet
    val removed = d2.diff(d3); val added = d3.diff(d2)
    // the REWRITE shape: affected originals out, rw files in, the
    // delete entry cleared, untouched files shared
    assert(removed.nonEmpty && added.nonEmpty && removed.size == added.size,
      s"swap mismatch: removed $removed, added $added")
    assert(removed.forall(_.contains("/files/")) && added.forall(_.contains("/rw/")))
    assert(m3.forall(_._2 == "data"), "v3 still carries a delete entry")
    // no logical delta: the SERVED v2 and v3 row sets agree exactly
    val byVersion = served.groupBy(_.getAs[Long]("version"))
      .view.mapValues(_.map(r => (r.getAs[String]("o_orderstatus"),
        r.getAs[Long]("n_orders"), r.getAs[Long]("sum_key_mod"),
        r.getAs[Double]("sum_price"))).toSet).toMap
    assert(byVersion(2L) == byVersion(3L),
      "merge-on-read and compacted snapshots diverge")
  }

  test("delete vector is positionally sound: survivors == predicate recompute") {
    val served = SparkEntry.queries("q_scan_deletevector")(spark, sf0001)
      .collect().map(_.toString).toSeq
    val direct = Tables(spark, sf0001, "orders")
      .where(!(col("o_orderstatus") === "F" && col("o_orderkey") % 7 === 0))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_orderkey") % 7).cast("bigint").as("sum_key_mod"),
        Dets.dbl(sum(Dets.money(col("o_totalprice")))).as("sum_price"))
      .orderBy("o_orderstatus")
      .collect().map(_.toString).toSeq
    assert(served == direct)
  }
}
