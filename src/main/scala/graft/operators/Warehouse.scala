package graft.operators

import graft.{Artifacts, Dets, QueryFamily, Tables}
import graft.sinks.Writers
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Dets._

/** SURVEY.md §2.A extension — catalog & data-layout surface.
  *
  * The reference's source side is "read a table registered in a Hive
  * metastore"; its 100 TB half is "lay the data out so scans prune".
  * The oracle-checked queries here make both real in this sandbox:
  *
  *  - `q_hive_table`: a REAL HiveExternalCatalog (embedded Derby
  *    metastore, `spark-hive` + `hive-metastore` jars ship with the
  *    image) — `saveAsTable` then `spark.table` back. This closes the
  *    "real Hive metastore" row §2.A previously marked
  *    environment-blocked: the metastore is persistent and external to
  *    the session, exactly the production read path.
  *  - `q_scan_partitioned`: warehouse layout partitioned by a
  *    low-cardinality column; the filtered read partition-prunes (the
  *    scan's PartitionFilters carries the predicate, asserted in
  *    PlanSpec) — at 100 TB this is the difference between reading one
  *    directory and reading the corpus.
  *  - `q_scan_dpp`: runtime partition pruning — the dim filter decides
  *    at execution time which fact partitions are read.
  *  - `q_join_bucketed`: both join sides bucketed on the join key at
  *    write time, so the repeated equi-join pays ZERO exchanges (the
  *    shuffle was paid once, at layout time) — the fact-table layout for
  *    a key joined every day. PlanSpec asserts the only exchange left is
  *    the final aggregation's.
  *  - `q_scan_csv` / `q_scan_orc` / `q_scan_evolution`: the other source
  *    formats plus mergeSchema over batches with later-added columns.
  *  - `q_merge_upsert`: the incremental-sync MERGE write semantics.
  *  - `q_scd2`: the slowly-changing-dimension type-2 build — a mutation
  *    log folded into validity intervals in ONE key shuffle.
  *  - `q_join_pointintime`: the consumer side — facts enriched with the
  *    dimension version in effect at their timestamp, rewritten from a
  *    range join to union + carry-forward (one shuffle, no interval
  *    explosion).
  *
  * Layout writes are memoized per (context, fixture dir) in
  * [[graft.Artifacts]]: Verify pays them once; Bench's 3 timed runs
  * amortize to the read-only path.
  */
object Warehouse extends QueryFamily {

  /** Build a layout once per (context, dir, tag) — from ANY session, not
    * per session (r15 fix). A layout is a property of the DATA: every
    * session on the context would write the same files, and a per-session
    * memo re-ran the write while a sibling session's scan was mid-read
    * (FAILED_READ_FILE.FILE_NOT_EXIST). The write goes into a fresh
    * [[Artifacts.root]], which is returned; a rebuild after the files
    * under `dir` change lands in a new root, so it never overwrites files
    * an earlier DataFrame still reads. */
  private def layout(s: SparkSession, dir: String, tag: String)(
      write: String => Unit): String =
    Artifacts.get(s.sparkContext, s"warehouse.$tag", dir) {
      val root = Artifacts.root(s, tag)
      write(root)
      root
    }

  /** Metastore table names embed the fixture dir: layouts are memoized
    * per (dir, tag) but the catalog is JVM-shared, so a dir-independent
    * table name would let a second fixture dir's build overwrite the
    * first's table while the first dir's later calls still hit the memo
    * and silently read the wrong dir's rows. (Dots are the db.table
    * separator, so every other character is sanitized.) */
  private[graft] def msName(name: String, dir: String): String =
    s"${name}_${dir.replaceAll("[^A-Za-z0-9]", "_").toLowerCase}"

  /** Builds the versioned table once per (dir): orders hash-clustered
    * into 4 immutable bucket files (o_orderkey % 4), then THREE snapshot
    * manifests over the SAME files — v0 = buckets {0,1} (initial load),
    * v1 = all four (an append commit: two new files, v0's untouched),
    * v2 = v1 minus bucket 1 (a delete commit: METADATA-ONLY — no data
    * file is rewritten or removed; v0 and v1 stay readable). This is the
    * Iceberg/Delta snapshot shape: a commit writes a new manifest list
    * over immutable files, and time travel is choosing which manifest to
    * plan from. */
  private[graft] def timeTravelLayout(s: SparkSession, dir: String): String =
    layout(s, dir, "ttable") { root =>
      import s.implicits._
      val base = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          (col("o_orderkey") % 4).as("bucket"))
      (0 to 3).foreach { b =>
        base.where(col("bucket") === b).drop("bucket")
          .coalesce(1).write.mode("overwrite").parquet(s"$root/files/b=$b")
      }
      def snap(v: Int, buckets: Seq[Int]): Unit =
        buckets.map(b => s"$root/files/b=$b").toDF("path")
          .coalesce(1).write.mode("overwrite").parquet(s"$root/snapshots/v=$v")
      snap(0, Seq(0, 1)); snap(1, Seq(0, 1, 2, 3)); snap(2, Seq(0, 2, 3))
    }

  /** Builds the merge-on-read layout once per (dir): orders clustered
    * into one file per bucket (o_orderkey % 8) with a PERSISTED row
    * position (row_number within the bucket by o_orderkey — the _pos
    * column of Iceberg v2 / Delta deletion vectors), plus the delete
    * vector itself: the positions matched by a DELETE predicate
    * (o_orderstatus = 'F' AND o_orderkey % 7 = 0), written as KB-scale
    * (bucket, pos) rows. The data files are never rewritten — at 100 TB
    * this is the difference between rewriting a TB-scale file to delete
    * ten rows and writing a KB-scale vector beside it. */
  private[graft] def deleteVectorLayout(s: SparkSession,
      dir: String): (String, String) = {
    import org.apache.spark.sql.expressions.Window
    val root = layout(s, dir, "posdel") { root =>
      val (dataPath, dvPath) = (s"$root/data", s"$root/dv")
      Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderstatus"), (col("o_orderkey") % 8).as("bucket"))
        .withColumn("pos", row_number().over(
          Window.partitionBy("bucket").orderBy("o_orderkey")).cast("long"))
        .repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(dataPath)
      // the DELETE: scan once with the predicate, persist positions only
      Tables.parquet(s, dataPath)
        .where(col("o_orderstatus") === "F" && col("o_orderkey") % 7 === 0)
        .select("bucket", "pos")
        .coalesce(1).write.mode("overwrite").parquet(dvPath)
    }
    (s"$root/data", s"$root/dv")
  }

  /** The bloom positions expression, shared by the index BUILD and the
    * PROBE so they cannot drift: k = 3 positions in an m = 2¹⁷-bit
    * (16 KB — the Parquet bloom ballpark) filter via Kirsch–Mitzenmacher
    * double hashing (h1 + i·h2 mod m, h2 forced nonzero via the
    * Mersenne prime 2¹⁷−1) over Spark's deterministic xxhash64; sized
    * for the largest fixture's ~7k keys/file (load ~0.15, fpp ~0.3% —
    * the first cut at 2¹³ bits saturated at sf0.1 and pruned nothing,
    * a measured failure). The
    * oracle never reproduces this — the bloom is PLANNING state; the
    * value correctness leg is the final aggregate, which the driver
    * hash-matches, so a false NEGATIVE (a skipped file that held a
    * matching row) fails the gate by construction. */
  private val bloomPosExpr: String =
    "transform(sequence(0, 2), i -> pmod(" +
      "pmod(xxhash64(o_custkey), 131072) + " +
      "i * (pmod(xxhash64(o_custkey, 1), 131071) + 1), 131072))"

  /** Builds the per-file BLOOM INDEX once per (dir) over the
    * q_scan_manifest 16-file layout: one 2¹⁷-bit filter per data file
    * over its o_custkey set, stored as O(files × 2048) (file, word,
    * bits) rows (sparse: only nonzero words materialize) beside the data — the Delta/Parquet bloom-filter-index
    * shape for point lookups on a column the clustering does NOT serve
    * (the files are range-clustered on o_orderkey; o_custkey min/max
    * spans everything, so footer stats prune nothing and the bloom is
    * the only file-skipping signal). */
  private def bloomIndexLayout(s: SparkSession, dir: String): (String, String) = {
    val (dataPath, _) = manifestLayout(s, dir)
    val idxPath = layout(s, dir, "bloomidx") { idxPath =>
      Tables.parquet(s, dataPath)
        .select(input_file_name().as("file"), col("o_custkey"))
        .distinct()
        .select(col("file"), explode(expr(bloomPosExpr)).as("p"))
        .groupBy(col("file"), expr("p DIV 64").as("w"))
        .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT)))")
          .as("bits"))
        .coalesce(1).write.mode("overwrite").parquet(idxPath)
    }
    (dataPath, idxPath)
  }

  /** The bloom PLAN step, factored for BloomSkipSpec: derive the 3
    * rarest probe custkeys, probe every file's bloom, return
    * (probe keys, selected files, total files). All driver-side reads
    * are O(files × words) or 3 rows. */
  private[graft] def bloomPlan(s: SparkSession,
      dir: String): (Seq[Long], Seq[String], Int) = {
    val (dataPath, idxPath) = bloomIndexLayout(s, dir)
    val keys = Tables.parquet(s, dataPath)
      .groupBy("o_custkey").agg(count(lit(1)).as("n"))
      .orderBy(col("n"), col("o_custkey")).limit(3)
      .collect().map(_.getLong(0)).toSeq // 3 rows: the plan step
    import s.implicits._
    val probePos = keys.toDF("o_custkey")
      .select(col("o_custkey"), expr(bloomPosExpr).as("ps"))
      .collect().map(r => r.getSeq[Long](1)).toSeq
    // probe-position PUSHDOWN (r18 advice): the probe needs only the
    // k×probes ≤ 9 bloom WORDS per file, so filter the index parquet to
    // those word slots BEFORE collecting — O(files × 9) driver rows
    // instead of O(files × 2048) (~1.6 GB at 100k files); the In(w, …)
    // predicate reaches the parquet scan. A word absent for a file has
    // no set bits, which reads as 0 — the no-false-negative theorem
    // (BloomSkipSpec) is untouched.
    val neededWords = probePos.flatten.map(_ / 64).distinct
    // Zero probe keys means zero probe positions: the word-filtered scan
    // would select no files VACUOUSLY (the isin() over an empty list is
    // false everywhere), which is also the correct answer — no keys, no
    // may-contain files — but make it explicit instead of a degenerate
    // scan, and still report the true file total (r19 ADVICE item 3).
    // The probe leg and the file-count leg are independent index reads
    // (the count leg CANNOT share the probe's word-filtered scan: the
    // index stores only set words, so a file with none of the probed
    // words is absent from it) — overlap them (graft.Par) instead of
    // paying two sequential driver-blocking jobs per plan step.
    @volatile var blooms: Map[String, Map[Long, Long]] = Map.empty
    @volatile var total: Int = 0
    graft.Par.run(
      () => if (neededWords.nonEmpty) {
        blooms = Tables.parquet(s, idxPath)
          .where(col("w").isin(neededWords: _*))
          .collect() // O(files × needed words), never the full bitmap
          .groupBy(_.getAs[String]("file"))
          .view.mapValues(_.map(r =>
            r.getAs[Long]("w") -> r.getAs[Long]("bits")).toMap)
          .toMap
      },
      () => total = Tables.parquet(s, idxPath).select("file").distinct()
        .count().toInt) // O(files) plan-step count, no bitmap transfer
    def mayContain(words: Map[Long, Long], ps: Seq[Long]): Boolean =
      ps.forall(p => ((words.getOrElse(p / 64, 0L) >> (p % 64)) & 1L) == 1L)
    val selected = blooms.collect {
      case (f, words) if probePos.exists(mayContain(words, _)) => f
    }.toSeq.sorted
    (keys, selected, total)
  }

  /** Builds the DV-compaction lineage once per (dir) — the close-out of
    * the lake tier's maintenance loop (what Warehouse's merge-on-read
    * comment promised): v2 is a MERGE-ON-READ snapshot (8 immutable
    * bucket files + a positional delete vector, the q_scan_deletevector
    * shape), and the COMPACTION COMMIT folds the vector into data in a
    * quiet window: exactly the DV-affected bucket files are rewritten
    * minus their deleted positions, the v3 manifest references
    * rewritten + untouched files, and the vector is CLEARED (no delete
    * entry in v3). The delete predicate (`o_orderstatus = 'F' AND
    * o_orderkey % 16 < 3`) touches only buckets 0..2 of the %8
    * clustering, so the commit is a genuine partial rewrite: buckets
    * 3..7 ride through BY REFERENCE, byte-untouched (filestats records
    * their md5 at v2-publish so LakeSpec can prove it). Snapshot
    * isolation holds through the compaction: v2's files are never
    * rewritten in place (the rewrites land under rw/), so the
    * merge-on-read snapshot stays readable after the commit. At 100 TB
    * the rewrite is ONE job partitioned by the affected buckets, each
    * task streaming one file minus its KB-scale vector slice — the
    * per-bucket loop here mirrors that task structure at fixture
    * scale.
    *
    * Layout (also read by LakeSpec's compaction proofs):
    * `files/b=<bucket>` immutable data dirs (bucket and pos as in-file
    * columns), `dv/v2` the positional delete vector, `rw/b=<bucket>`
    * the compaction rewrites, `snapshots/v=<N>` manifest lists of
    * (path, kind) rows, `filestats` the per-file (path, md5, n_bytes)
    * recorded at v2-publish time. */
  private[graft] def dvCompactLayout(s: SparkSession, dir: String): String = {
    import org.apache.spark.sql.expressions.Window
    layout(s, dir, "dvcomp") { root =>
      val base = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderstatus"), (col("o_orderkey") % 8).as("bucket"))
        .withColumn("pos", row_number().over(
          Window.partitionBy("bucket").orderBy("o_orderkey")).cast("long"))
      (0 to 7).foreach { b =>
        base.where(col("bucket") === b)
          .coalesce(1).write.mode("overwrite").parquet(s"$root/files/b=$b")
      }
      val dataDirs = (0 to 7).map(b => s"$root/files/b=$b")
      // the DELETE commit: positions only, files untouched — v2 is the
      // merge-on-read snapshot (data files + the vector)
      Tables.parquet(s, dataDirs: _*)
        .where(col("o_orderstatus") === "F" && col("o_orderkey") % 16 < 3)
        .select("bucket", "pos")
        .coalesce(1).write.mode("overwrite").parquet(s"$root/dv/v2")
      import s.implicits._
      (dataDirs.map(p => (p, "data")) :+ (s"$root/dv/v2", "delete"))
        .toDF("path", "kind")
        .coalesce(1).write.mode("overwrite").parquet(s"$root/snapshots/v=2")
      // record every data file's bytes at v2-publish time, so the
      // untouched-through-compaction claim is checkable, not asserted
      import scala.jdk.CollectionConverters._
      val md = java.security.MessageDigest.getInstance("MD5")
      val stats = dataDirs.flatMap { d =>
        val ls = java.nio.file.Files.list(java.nio.file.Paths.get(d))
        try ls.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .map { f =>
            val bytes = java.nio.file.Files.readAllBytes(f)
            md.reset()
            (f.toString, md.digest(bytes).map("%02x".format(_)).mkString,
              bytes.length.toLong)
          }.toList
        finally ls.close()
      }
      stats.toDF("path", "md5", "n_bytes")
        .coalesce(1).write.mode("overwrite").parquet(s"$root/filestats")
      // the COMPACTION commit: rewrite exactly the affected buckets
      // minus their tombstoned positions; untouched buckets ride into
      // v3 by reference. The original pos is CARRIED (not re-assigned)
      // so the rewrite is auditable against the cleared vector.
      val dv = Tables.parquet(s, s"$root/dv/v2")
      val affected = dv.select("bucket").distinct()
        .collect().map(_.getLong(0)).sorted // O(buckets): the plan step
      require(affected.nonEmpty && affected.length < 8,
        s"compaction fixture must be a partial rewrite, got ${affected.toSeq}")
      affected.foreach { b =>
        Tables.parquet(s, s"$root/files/b=$b")
          .join(broadcast(dv.where(col("bucket") === b)),
            Seq("bucket", "pos"), "left_anti")
          .coalesce(1).write.mode("overwrite").parquet(s"$root/rw/b=$b")
      }
      val untouched = (0 to 7).filterNot(b => affected.contains(b.toLong))
      (untouched.map(b => (s"$root/files/b=$b", "data")) ++
        affected.map(b => (s"$root/rw/b=$b", "data")))
        .toDF("path", "kind")
        .coalesce(1).write.mode("overwrite").parquet(s"$root/snapshots/v=3")
    }
  }

  /** Builds the manifest-tracked layout once per (dir): orders
    * range-clustered on o_orderkey into 16 files, plus a MANIFEST table
    * of per-file (min_key, max_key, n_rows) — the Iceberg/Delta
    * data-skipping shape, persisted beside the data at write time. */
  private[graft] def manifestLayout(s: SparkSession,
      dir: String): (String, String) = {
    val root = layout(s, dir, "manifest") { root =>
      val (dataPath, manPath) = (s"$root/data", s"$root/manifest")
      Tables(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate",
          "o_orderpriority")
        .repartitionByRange(16, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey")
        .write.mode("overwrite").parquet(dataPath)
      // the manifest: ONE pass at layout time, O(files) rows — at 100 TB
      // this is the table maintenance job every lake format runs, and it
      // is what lets later queries plan without listing or footer-reading
      // the data files at all
      Tables.parquet(s, dataPath)
        .groupBy(input_file_name().as("file"))
        .agg(min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"),
          count(lit(1)).as("n_rows"))
        .coalesce(1)
        .write.mode("overwrite").parquet(manPath)
    }
    (s"$root/data", s"$root/manifest")
  }

  /** documents laid out as lang=<v>/ dirs — q_scan_partitioned's scan
    * and q_scan_dpp's fact side. */
  private def partsLayout(s: SparkSession, dir: String): String =
    layout(s, dir, "parts") { path =>
      Writers.writePartitioned(
        Tables(s, dir, "documents").select("doc_id", "lang", "source", "n_chars"),
        path, Seq("lang"))
    }

  /** The q_scan_zorder layout (also read by ZOrderSpec's file-level
    * skipping proof). */
  private[graft] def zorderLayout(s: SparkSession, dir: String): String =
    layout(s, dir, "zorder") { path =>
      val tsMicros = expr("unix_micros(CAST(ts AS TIMESTAMP))")
      val ev = Tables(s, dir, "events")
      val stats = ev.agg(
        min("user_id").as("u0"), max("user_id").as("u1"),
        min(tsMicros).as("t0"), max(tsMicros).as("t1"))
      ev.crossJoin(broadcast(stats))
        .withColumn("zv", graft.functions.ZOrder.zval(
          graft.functions.ZOrder.quant16(col("user_id"), col("u0"), col("u1")),
          graft.functions.ZOrder.quant16(tsMicros, col("t0"), col("t1"))))
        .repartitionByRange(16, col("zv"))
        .sortWithinPartitions("zv")
        .select("event_id", "user_id", "ts", "event_type", "value", "props")
        .write.mode("overwrite").parquet(path)
    }

  /** The q_sink_compacted (fragmented, compacted) layouts — the
    * fragmented one kept for the spec that pins the premise. */
  private[graft] def compactionLayout(s: SparkSession,
      dir: String): (String, String) = {
    val root = layout(s, dir, "compacted") { root =>
      Tables(s, dir, "documents").select("doc_id", "lang", "n_chars")
        .repartition(24)
        .write.mode("overwrite").partitionBy("lang").parquet(s"$root/frag")
      Tables.parquet(s, s"$root/frag")
        .repartition(col("lang"))
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 1000)
        .partitionBy("lang").parquet(s"$root/compacted")
    }
    (s"$root/frag", s"$root/compacted")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Real metastore round-trip: register orders in the (Derby-backed)
    // Hive catalog, read it back via the catalog, aggregate. The write is
    // mode=overwrite so replays are idempotent.
    "q_hive_table" -> ((s, dir) => {
      val t = s"graft.${msName("orders_ms", dir)}"
      Artifacts.get(s.sparkContext, "warehouse.hive_orders", dir) {
        s.sql("CREATE DATABASE IF NOT EXISTS graft")
        Tables(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate", "o_orderpriority")
          .write.mode("overwrite").saveAsTable(t)
      }
      s.table(t)
        .groupBy(big(year(col("o_orderdate"))).as("o_year"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          dbl(sum(money(col("o_totalprice")))).as("sum_price"))
        .orderBy("o_year", "o_orderpriority")
    }),

    // Partition-pruned scan: documents laid out as lang=<v>/ dirs; the
    // lang filter never touches the other languages' files.
    "q_scan_partitioned" -> ((s, dir) => {
      Tables.parquet(s, partsLayout(s, dir))
        .where(col("lang") === "en")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("source")
    }),

    // Z-order clustered layout: events rewritten along the Morton curve
    // of (user_id, time) — the multi-dimensional data-skipping layout
    // (Delta/Iceberg OPTIMIZE ZORDER) from pure built-in arithmetic
    // (functions.ZOrder). A linear sort serves range predicates on its
    // leading column only; the Z-curve bounds BOTH dimensions' min/max
    // per file, so footer stats prune the scan for user-band queries AND
    // time-window queries from the same copy of the data. At 100 TB this
    // is the difference between one clustered rewrite and keeping two
    // sort orders. ZOrderSpec proves the skipping premise file-by-file;
    // correctness here is the 2-D range read's result itself.
    "q_scan_zorder" -> ((s, dir) => {
      Tables.parquet(s, zorderLayout(s, dir))
        .where(col("user_id").between(1, 2) &&
          col("ts") >= tsLit("2024-01-10") && col("ts") < tsLit("2024-01-14"))
        .select("event_id", "user_id", "ts", "event_type", "value")
        .orderBy("event_id")
    }),

    // FILE-level data skipping via a manifest (the Iceberg/Delta shape,
    // one level above q_agg_footerstats' row-group pushdown): a range
    // query consults the O(files) manifest FIRST — the driver-side plan
    // step every lake format runs — and hands the scan ONLY the files
    // whose [min_key, max_key] overlaps the band, with an in-query
    // assertion that pruned files were never listed in the scan's inputs
    // (the q_scan_zorder proof pattern). The band is derived from the
    // manifest itself (max key / 10 .. / 5) so the oracle recomputes it
    // from the table — layout-independent. At 100 TB the manifest read
    // is KB-scale planning; the data files skipped are the win.
    "q_scan_manifest" -> ((s, dir) => {
      val (_, manPath) = manifestLayout(s, dir)
      val man = Tables.parquet(s, manPath).collect() // O(files): the plan step
      val maxKey = man.map(_.getAs[Long]("max_key")).max
      val (lo, hi) = (maxKey / 10, maxKey / 5)
      val selected = man.filter(r =>
        r.getAs[Long]("max_key") >= lo && r.getAs[Long]("min_key") <= hi)
        .map(_.getAs[String]("file"))
      require(selected.nonEmpty, "manifest pruned every file — empty band")
      require(selected.length < man.length,
        s"manifest pruned nothing: ${selected.length} of ${man.length} files")
      val df = Tables.parquet(s, selected.toIndexedSeq: _*)
        .where(col("o_orderkey").between(lo, hi))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"), sum("o_custkey").as("sum_cust"))
        .orderBy("o_orderpriority")
      // the skipping proof, in-query: the scan's inputs are a subset of
      // the manifest-selected files (compare by file name — inputFiles
      // and input_file_name may differ in URI scheme normalization)
      val sel = selected.map(_.split('/').last).toSet
      val scanned = df.inputFiles.map(_.split('/').last).toSet
      require(scanned.subsetOf(sel),
        s"scan read past the manifest selection: ${scanned.diff(sel)}")
      df
    }),

    // FILE-level BLOOM skipping — the point-lookup complement of
    // q_scan_manifest's min/max bands: the files are range-clustered
    // on o_orderkey, so for an o_custkey lookup every file's min/max
    // covers the probe and zone maps prune NOTHING — the per-file
    // bloom is the only skipping signal (the Delta/Parquet
    // bloom-filter-index shape). Probe keys are the 3 RAREST custkeys
    // ((order count, key) ascending — derived from the data, so the
    // oracle recomputes them layout-independently); a file is read
    // only if some probe key has ALL its k=3 bloom bits set. No false
    // negatives by construction (every key's bits were OR-ed in), so
    // the driver's hash-match of the final aggregates certifies no
    // skipped file held a matching row; false positives only cost
    // reads, and the in-query selectivity require pins that skipping
    // actually HAPPENED. At 100 TB this is a KB-scale index read
    // deciding which of thousands of files a needle lookup touches.
    "q_scan_bloomskip" -> ((s, dir) => {
      val (keys, selected, total) = bloomPlan(s, dir)
      require(selected.nonEmpty, "bloom skipped every file — lost the needle")
      require(selected.length < total,
        s"bloom pruned nothing: ${selected.length} of $total files")
      val df = Tables.parquet(s, selected: _*)
        .where(col("o_custkey").isin(keys: _*))
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          dbl(sum(money(col("o_totalprice")))).as("sum_price"))
        .orderBy("o_custkey")
      val sel = selected.map(_.split('/').last).toSet
      require(df.inputFiles.map(_.split('/').last).forall(sel.contains),
        "scan read past the bloom selection")
      df
    }),

    // TIME TRAVEL over snapshot manifests (the Iceberg/Delta commit
    // shape, one level above q_scan_manifest's data skipping): commits
    // write new MANIFEST LISTS over immutable data files — v0 the
    // initial load, v1 an append (v0's files untouched), v2 a delete
    // that is METADATA-ONLY (the dropped file stays on disk; v0/v1 stay
    // readable). Reading @v = read that manifest (O(files), driver-side
    // planning like every lake format) and scan exactly its files. The
    // query serves all three versions' aggregates side by side — the
    // audit/reproduce-a-training-run read every versioned lake exists
    // for. In-query assertion: the @v2 scan never touches the deleted
    // bucket's file (the q_scan_manifest proof pattern). Version
    // membership is bucket arithmetic (o_orderkey % 4), so the oracle
    // recomputes each snapshot layout-independently.
    "q_scan_timetravel" -> ((s, dir) => {
      val root = timeTravelLayout(s, dir)
      def readV(v: Int): DataFrame = {
        val paths = Tables.parquet(s, s"$root/snapshots/v=$v")
          .collect().map(_.getString(0)) // O(files): the plan step
        Tables.parquet(s, paths.toIndexedSeq: _*)
      }
      val v2 = readV(2)
      require(!v2.inputFiles.exists(_.contains("b=1")),
        "v2 scan read the deleted bucket's file")
      val out = (0 to 2).map { v =>
        (if (v == 2) v2 else readV(v))
          .agg(count(lit(1)).as("n_orders"),
            big(count_distinct(col("o_custkey"))).as("n_cust"),
            dbl(sum(money(col("o_totalprice")))).as("sum_price"))
          .select(lit(v.toLong).as("version"), col("n_orders"),
            col("n_cust"), col("sum_price"))
      }.reduce(_ unionByName _)
      out.orderBy("version")
    }),

    // SNAPSHOT DIFF — the incremental-consumer read over the versioned
    // table (the Delta CDF / Iceberg incremental-scan shape): the delta
    // between two snapshots is the DIFF OF THEIR MANIFEST LISTS
    // (O(files), driver-side planning — no data is compared), and the
    // consumer reads ONLY the added/removed files: v0→v1's appended
    // buckets serve as inserts, v1→v2's dropped bucket as deletes. At
    // 100 TB a downstream sync job consuming this never scans the
    // table — it reads the handful of files the commit touched. The
    // in-query assertion pins that: the union's scan inputs are exactly
    // the diffed files. Membership is bucket arithmetic, so the oracle
    // recomputes both deltas layout-independently.
    "q_scan_snapshotdiff" -> ((s, dir) => {
      val root = timeTravelLayout(s, dir)
      def paths(v: Int): Set[String] =
        Tables.parquet(s, s"$root/snapshots/v=$v")
          .collect().map(_.getString(0)).toSet // O(files): the plan step
      val (v0, v1, v2) = (paths(0), paths(1), paths(2))
      def delta(files: Set[String], fromV: Int, toV: Int, change: String) = {
        require(files.nonEmpty, s"empty manifest diff v$fromV -> v$toV")
        val df = Tables.parquet(s, files.toSeq: _*)
        require(df.inputFiles.forall(f => files.exists(p =>
          f.contains(p.split('/').last))),
          s"delta scan read past the manifest diff v$fromV -> v$toV")
        df.agg(count(lit(1)).as("n_rows"),
            big(count_distinct(col("o_custkey"))).as("n_cust"),
            dbl(sum(money(col("o_totalprice")))).as("sum_price"))
          .select(lit(fromV.toLong).as("from_version"),
            lit(toV.toLong).as("to_version"), lit(change).as("change"),
            col("n_rows"), col("n_cust"), col("sum_price"))
      }
      delta(v1.diff(v0), 0, 1, "insert")
        .unionByName(delta(v1.diff(v2), 1, 2, "delete"))
        .orderBy("from_version")
    }),

    // Positional DELETE VECTORS (Iceberg v2 / Delta deletion-vectors
    // merge-on-read): a DELETE writes the matched (file, pos)
    // coordinates as a KB-scale vector beside the data instead of
    // rewriting data files; the scan applies the vector as a BROADCAST
    // anti-join on the persisted position — O(deleted) state shipped to
    // every task, data files immutable. At 100 TB: deleting ten rows
    // from a TB file costs a KB write, and compaction (q_sink_compacted)
    // eventually folds vectors into rewritten files in quiet windows.
    // The delete predicate is row arithmetic, so the oracle recomputes
    // the survivors layout-independently — a pass certifies the
    // positions addressed exactly the predicate's rows.
    "q_scan_deletevector" -> ((s, dir) => {
      val (dataPath, dvPath) = deleteVectorLayout(s, dir)
      val dv = Tables.parquet(s, dvPath)
      Tables.parquet(s, dataPath)
        .join(broadcast(dv), Seq("bucket", "pos"), "left_anti")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          big(sum(col("o_orderkey") % 7)).as("sum_key_mod"),
          dbl(sum(money(col("o_totalprice")))).as("sum_price"))
        .orderBy("o_orderstatus")
    }),

    // DV COMPACTION COMMIT — the lake maintenance loop's close-out
    // (r17 verdict #1): v2 serves MERGE-ON-READ (data files + the
    // positional vector as a broadcast anti-join), v3 serves the
    // COMPACTED snapshot (rewritten-minus-tombstones + untouched files,
    // NO vector applied) — side by side, and a pass certifies pre ==
    // post: the oracle recomputes the survivor aggregates once from the
    // DELETE predicate and expects them IDENTICAL under both versions.
    // In-query assertions pin the commit shape: v3 carries no delete
    // entry (the vector is cleared), the manifests share the untouched
    // files (a REWRITE swaps files, it does not rewrite the world), and
    // the v3 scan reads only manifest-listed files. LakeSpec adds the
    // byte-level proofs (untouched files md5-identical through the
    // commit, v2 still readable, rewrites tombstone-free).
    "q_lake_compact" -> ((s, dir) => {
      val root = dvCompactLayout(s, dir)
      def manifest(v: Int) = // O(files): the plan step
        Tables.parquet(s, s"$root/snapshots/v=$v").collect()
          .map(r => (r.getAs[String]("path"), r.getAs[String]("kind")))
      val m2 = manifest(2); val m3 = manifest(3)
      val data2 = m2.collect { case (p, "data") => p }
      val dvPaths = m2.collect { case (p, "delete") => p }
      require(dvPaths.length == 1,
        s"v2 must carry exactly one delete vector, got ${dvPaths.length}")
      require(!m3.exists(_._2 == "delete"),
        "compaction must clear the vector from the v3 manifest")
      val data3 = m3.map(_._1)
      val shared = data2.toSet.intersect(data3.toSet)
      require(shared.nonEmpty && shared.size < data2.length,
        s"expected a partial file swap: shared ${shared.size} of ${data2.length}")
      val dv = Tables.parquet(s, dvPaths.head)
      val v2 = Tables.parquet(s, data2.toIndexedSeq: _*)
        .join(broadcast(dv), Seq("bucket", "pos"), "left_anti")
      val v3 = Tables.parquet(s, data3.toIndexedSeq: _*)
      // the compacted scan never reads past its manifest (the
      // q_scan_manifest proof pattern; compare by file name)
      val listed = data3.map(_.split('/').last).toSet
      require(v3.inputFiles.forall(f => listed.exists(f.contains)),
        "v3 scan read past the manifest selection")
      def serve(df: DataFrame, v: Int): DataFrame = df
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          big(sum(col("o_orderkey") % 7)).as("sum_key_mod"),
          dbl(sum(money(col("o_totalprice")))).as("sum_price"))
        .select(lit(v.toLong).as("version"), col("o_orderstatus"),
          col("n_orders"), col("sum_key_mod"), col("sum_price"))
      serve(v2, 2).unionByName(serve(v3, 3))
        .orderBy("version", "o_orderstatus")
    }),

    // CSV source: header + explicit schema (never inferSchema — a
    // schema-inference pass reads the data twice and types drift). The
    // oracle reads the original parquet: the round-trip must be lossless.
    "q_scan_csv" -> ((s, dir) => {
      val path = layout(s, dir, "csv") { path =>
        Tables(s, dir, "customer")
          .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
          .write.mode("overwrite").option("header", "true").csv(path)
      }
      s.read.option("header", "true")
        .schema("c_custkey BIGINT, c_name STRING, c_acctbal DOUBLE, c_mktsegment STRING")
        .csv(path)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_cust"),
          dbl(sum(money(col("c_acctbal")))).as("sum_bal"))
        .orderBy("c_mktsegment")
    }),

    // JSON-lines source: the interchange format of log pipelines;
    // explicit schema (inference costs a second pass and guesses types),
    // timestamps round-tripped through ISO-8601 strings.
    "q_scan_json" -> ((s, dir) => {
      val path = layout(s, dir, "json") { path =>
        Tables(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
          .write.mode("overwrite").json(path)
      }
      s.read
        .schema("o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING")
        .json(path)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          dbl(sum(money(col("o_totalprice")))).as("sum_price"))
        .orderBy("o_orderstatus")
    }),

    // Binary-file source: the multimodal INGESTION path — a directory of
    // opaque blobs (what image/audio corpora look like before they are a
    // table) read with Spark's binaryFile format into (path, length,
    // content) rows, content an opaque binary column. The blobs here are
    // each document's UTF-8 bytes written one file per doc
    // (executor-side, partition-parallel — no driver collect);
    // pathGlobFilter prunes a planted decoy at LISTING time, and the
    // read-back must byte-agree with the source table: file count, byte
    // volume, and the md5 range over content, all recomputed by the
    // oracle from `documents` directly. At 100 TB this reader fans one
    // task per file group over an object-store prefix — the first stage
    // of every multimodal pipeline (MediaPipeline consumes exactly this
    // shape). FIXTURE STAGING ASSUMPTION: the blob write below runs in
    // executor tasks against a driver-created local path, which only
    // lands in one place because local mode shares the driver's
    // filesystem — on a real cluster each executor would write to its
    // own disk and the read-back would see a partial directory. At
    // scale, stage fixture blobs through a SHARED path (the warehouse
    // dir / an object-store prefix); only the scratch-fixture setup is
    // local-mode-bound, the binaryFile READ under test is cluster-safe.
    "q_scan_binaryfile" -> ((s, dir) => {
      val path = layout(s, dir, "binfiles") { path =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
        Tables(s, dir, "documents").select("doc_id", "text")
          .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
            rows.foreach { r =>
              java.nio.file.Files.write(
                java.nio.file.Paths.get(path, f"doc-${r.getLong(0)}%06d.txt"),
                r.getString(1).getBytes("UTF-8"))
            }
          }
        // a decoy the glob filter must exclude from the listing
        java.nio.file.Files.write(
          java.nio.file.Paths.get(path, "manifest.json"), "{}".getBytes("UTF-8"))
      }
      s.read.format("binaryFile").option("pathGlobFilter", "*.txt").load(path)
        .agg(count(lit(1)).as("n_files"),
          sum(col("length")).as("total_bytes"),
          big(count_distinct(md5(col("content")))).as("n_distinct"),
          min(md5(col("content"))).as("first_md5"),
          max(md5(col("content"))).as("last_md5"))
    }),

    // Compaction sink: the small-files problem. A streaming or per-batch
    // sync sink leaves each partition fragmented into many tiny files
    // (here: a round-robin repartition(24) write plants up to 24 files
    // per lang); at 100 TB that tax is paid on every later scan — task
    // scheduling, open/seek overhead, undersized row groups with
    // useless min/max bounds. The compaction pass re-clusters each
    // partition VALUE into a single writer task (repartition by the
    // partition column — whole-partition shuffle, no driver listing)
    // and rolls files at maxRecordsPerFile, so the output layout is
    // ARITHMETIC: exactly ceil(rows_lang / target) files per lang.
    // The read-back groups by lang counting distinct
    // input_file_name() — the ORACLE recomputes the file count from
    // `documents` with integer ceil math, so a wrong physical layout
    // (fragmentation surviving, a lang split across writer tasks,
    // maxRecordsPerFile ignored) fails the hash gate, not just a spec.
    // sum_chars guards content: compaction must move every row, once.
    "q_sink_compacted" -> ((s, dir) => {
      Tables.parquet(s, compactionLayout(s, dir)._2)
        // projected before the aggregate: input_file_name() is
        // non-deterministic and may not sit inside an agg function
        .withColumn("fname", input_file_name())
        .groupBy("lang")
        .agg(big(count_distinct(col("fname"))).as("n_files"),
          count(lit(1)).as("n_rows"),
          big(sum("n_chars")).as("sum_chars"))
        .orderBy("lang")
    }),

    // ORC source: the other columnar warehouse format; same
    // read-back-must-equal-parquet contract.
    "q_scan_orc" -> ((s, dir) => {
      val path = layout(s, dir, "orc") { path =>
        Tables(s, dir, "supplier")
          .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
          .write.mode("overwrite").orc(path)
      }
      s.read.orc(path)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_sup"),
          dbl(sum(money(col("s_acctbal")))).as("sum_bal"))
        .orderBy("s_nationkey")
    }),

    // Schema evolution: two parquet batches under one root — the older
    // batch lacks a column added later. mergeSchema unifies them
    // (missing column reads as NULL), the warehouse reality when a
    // pipeline adds fields mid-history. Batch membership is
    // deterministic (custkey parity) so the oracle can rebuild the view.
    "q_scan_evolution" -> ((s, dir) => {
      val path = layout(s, dir, "evo") { path =>
        val c = Tables(s, dir, "customer")
        c.where(col("c_custkey") % 2 === 1)
          .select("c_custkey", "c_name", "c_mktsegment")
          .write.mode("overwrite").parquet(s"$path/batch=1")
        c.where(col("c_custkey") % 2 === 0)
          .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
          .write.mode("overwrite").parquet(s"$path/batch=2")
      }
      Tables.parquet(s, Map("mergeSchema" -> "true"), path)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_rows"),
          count(col("c_acctbal")).as("n_with_bal"),
          dbl(sum(money(col("c_acctbal")))).as("sum_bal"))
        .orderBy("c_mktsegment")
    }),

    // Dynamic partition pruning: the lang=<v>/ fact layout joined to a
    // small dim filtered on a NON-partition column. The partition filter
    // is only known at runtime (which langs survive grp='west'), so
    // Catalyst injects a dynamicpruning subquery into the fact scan —
    // the broadcast result prunes fact directories before they're read.
    // At 100 TB this is the star-join pattern: the dim filter decides
    // which of thousands of date/lang partitions the fact scan touches.
    "q_scan_dpp" -> ((s, dir) => {
      val dimPath = layout(s, dir, "dppdim") { dimPath =>
        // the dim must be a real scan: a literal Seq folds to a
        // LocalTableScan at plan time and the pruning rule sees no
        // filterable dim side
        import s.implicits._
        Seq(("en", "west"), ("de", "west"), ("fr", "east"),
          ("es", "east"), ("zh", "east")).toDF("lang", "grp")
          .coalesce(1).write.mode("overwrite").parquet(dimPath)
      }
      Tables.parquet(s, partsLayout(s, dir))
        .join(Tables.parquet(s, dimPath), "lang")
        .where(col("grp") === "west")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("lang")
    }),

    // MERGE/upsert — the reference's incremental-sync write semantics
    // (re-synced rows overwrite, new rows insert) as a full-outer
    // coalesce: updates win where both sides match, otherwise whichever
    // side exists survives. Both inputs are derived deterministically
    // from `customer` so the oracle can rebuild them.
    "q_merge_upsert" -> ((s, dir) => {
      val base = Tables(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      // updates: every 10th customer gets +100 balance; every 17th spawns
      // a brand-new row (key offset by 1,000,000)
      val changed = base.where(col("c_custkey") % 10 === 0)
        .select(col("c_custkey"), col("c_name"),
          (col("c_acctbal") + 100.0).as("c_acctbal"), col("c_mktsegment"))
      val inserted = base.where(col("c_custkey") % 17 === 0)
        .select((col("c_custkey") + 1000000L).as("c_custkey"),
          concat(col("c_name"), lit("_new")).as("c_name"),
          col("c_acctbal"), col("c_mktsegment"))
      val upd = changed.unionByName(inserted)
        .select(col("c_custkey").as("u_custkey"), col("c_name").as("u_name"),
          col("c_acctbal").as("u_acctbal"), col("c_mktsegment").as("u_mktsegment"))
      base.join(upd, col("c_custkey") === col("u_custkey"), "full_outer")
        .select(
          coalesce(col("c_custkey"), col("u_custkey")).as("c_custkey"),
          coalesce(col("u_name"), col("c_name")).as("c_name"),
          coalesce(col("u_acctbal"), col("c_acctbal")).as("c_acctbal"),
          coalesce(col("u_mktsegment"), col("c_mktsegment")).as("c_mktsegment"))
        .orderBy("c_custkey")
    }),

    // SCD2 (slowly-changing-dimension type 2) build: fold the event log
    // into per-user validity intervals — one row per state RUN (version,
    // state, valid_from, valid_to, n_events, is_current), the dimension
    // shape every warehouse keeps for point-in-time joins.
    //
    // Scale shape: every window partitions by user_id alone, so change
    // detection (lag), the run filter, version numbering, interval close
    // (lead) and the run-length arithmetic (next change's row_number
    // minus this one's — counting without a second aggregate) all ride
    // ONE hashpartitioning(user_id) exchange; there is no join and no
    // (user, version) re-shuffle of the fact. PlanSpec pins the
    // single-exchange, join-free plan. Ties in ts break on event_id, so
    // every window is a total order and the output is deterministic.
    "q_scd2" -> ((s, dir) =>
      scd2Runs(s, dir)
        .select(col("user_id"), big(col("version")).as("version"),
          col("state"), col("valid_from"),
          col("valid_to"), big(col("n_events")).as("n_events"),
          col("valid_to").isNull.as("is_current"))
        .orderBy("user_id", "version")),

    // Point-in-time (temporal) join: each purchase fact enriched with
    // the SCD2 dimension version in effect at its timestamp — the
    // consumer side of q_scd2 and the query shape every dimension table
    // exists to serve. NOT a range join: Spark plans interval-overlap
    // conditions as a per-key loop join (quadratic per user at scale).
    // Instead the dimension's version-open rows and the facts are
    // UNIONED and the in-effect (version, state) carried onto each fact
    // with last(ignoreNulls) over one (user_id, ts) ordering — the
    // merge-and-carry shape costs ONE user_id shuffle for arbitrarily
    // many facts per interval. Dimension rows sort before facts at equal
    // ts (kind 0 < 1), making valid_from INCLUSIVE — mirroring the
    // oracle's vf <= ts < coalesce(vt, +inf) range join exactly.
    "q_join_pointintime" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val dim = scd2Runs(s, dir).select(col("user_id"),
        col("valid_from").as("ts"), lit(null).cast("bigint").as("event_id"),
        big(col("version")).as("version"), col("state"), lit(0).as("kind"))
      val facts = Tables(s, dir, "events")
        .where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"),
          lit(null).cast("bigint").as("version"),
          lit(null).cast("string").as("state"), lit(1).as("kind"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("kind"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dim.unionByName(facts)
        .withColumn("v", last(col("version"), ignoreNulls = true).over(w))
        .withColumn("st", last(col("state"), ignoreNulls = true).over(w))
        .where(col("kind") === 1)
        .select(col("event_id"), col("user_id"), col("ts"),
          col("v").as("version"), col("st").as("state"))
        .orderBy("event_id")
    }),

    // Exchange-free equi-join: orders and customer bucketed by the join
    // key with the same bucket count; hint("merge") pins sort-merge so
    // the co-located bucket layout (not a broadcast) is what removes the
    // shuffles. The only exchange left in the plan is the final agg's.
    "q_join_bucketed" -> ((s, dir) => {
      val (tOrd, tCus) = (msName("graft_b_orders", dir), msName("graft_b_customer", dir))
      Artifacts.get(s.sparkContext, "warehouse.buckets", dir) {
        Writers.writeBucketed(
          Tables(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
          tOrd, 8, Seq("o_custkey"))
        Writers.writeBucketed(
          Tables(s, dir, "customer").select("c_custkey", "c_mktsegment"),
          tCus, 8, Seq("c_custkey"))
      }
      s.table(tOrd).hint("merge")
        .join(s.table(tCus), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          dbl(sum(money(col("o_totalprice")))).as("sum_price"))
        .orderBy("c_mktsegment")
    }),
  )

  /** The SCD2 run table shared by q_scd2 (the build) and
    * q_join_pointintime (the consumer): per-user state runs with
    * version, valid_from/valid_to and run length. Every window
    * partitions by user_id alone, so change detection (lag), the run
    * filter, version numbering, interval close (lead) and the
    * run-length arithmetic (next change's row_number minus this one's —
    * counting without a second aggregate) all ride ONE
    * hashpartitioning(user_id) exchange; no join, no re-shuffle. Ties
    * in ts break on event_id, so every window is a total order.
    */
  private def scd2Runs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val wAll = Window.partitionBy("user_id")
    val changes = Tables(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n_total", count(lit(1)).over(wAll))
      .withColumn("prev_type", lag("event_type", 1).over(w))
      .where(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
    val wc = Window.partitionBy("user_id").orderBy(col("rn"))
    changes
      .withColumn("version", row_number().over(wc))
      .withColumn("valid_to", lead("ts", 1).over(wc))
      .withColumn("n_events",
        coalesce(lead("rn", 1).over(wc), col("n_total") + 1) - col("rn"))
      .withColumn("state", col("event_type"))
      .withColumn("valid_from", col("ts"))
  }

  def oracles: Map[String, String] = Map(
    // The oracles read the SOURCE parquet: they verify the catalog/layout
    // round-trip changed nothing, not just that an aggregation runs.
    // layout-independent recompute: same band arithmetic from the table
    // itself (the manifest's max-of-maxes IS the table max)
    "q_scan_manifest" -> ("WITH mx AS (SELECT max(o_orderkey) AS mk FROM orders) " +
      "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders, " +
      "CAST(sum(o_custkey) AS BIGINT) AS sum_cust " +
      "FROM orders, mx WHERE o_orderkey BETWEEN mk // 10 AND mk // 5 " +
      "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    // the probe keys and their aggregates recomputed from the data
    // alone — the oracle never sees files or blooms; a hash-match
    // certifies the skipping lost no row (no false negatives)
    "q_scan_bloomskip" -> ("WITH cn AS (SELECT o_custkey, count(*) AS n " +
      "FROM orders GROUP BY o_custkey), " +
      "rare AS (SELECT o_custkey FROM cn ORDER BY n, o_custkey LIMIT 3) " +
      "SELECT o.o_custkey, CAST(count(*) AS BIGINT) AS n_orders, " +
      "CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price " +
      "FROM orders o JOIN rare r ON o.o_custkey = r.o_custkey " +
      "GROUP BY o.o_custkey ORDER BY o.o_custkey"),

    // each snapshot recomputed from the bucket arithmetic — the oracle
    // knows versions as predicates, never as file layouts
    "q_scan_timetravel" -> ("SELECT v.version, " +
      "CAST(count(*) AS BIGINT) AS n_orders, " +
      "CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust, " +
      "CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price " +
      "FROM orders, (VALUES (CAST(0 AS BIGINT)), (1), (2)) v(version) " +
      "WHERE (v.version = 0 AND o_orderkey % 4 IN (0, 1)) " +
      "OR v.version = 1 " +
      "OR (v.version = 2 AND o_orderkey % 4 <> 1) " +
      "GROUP BY v.version ORDER BY v.version"),

    // both deltas recomputed from bucket membership — the oracle never
    // sees files, only the arithmetic the commits were built from
    "q_scan_snapshotdiff" -> ("SELECT d.from_version, d.to_version, d.change, " +
      "CAST(count(*) AS BIGINT) AS n_rows, " +
      "CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust, " +
      "CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price " +
      "FROM orders, (VALUES (CAST(0 AS BIGINT), CAST(1 AS BIGINT), 'insert'), " +
      "(1, 2, 'delete')) d(from_version, to_version, change) " +
      "WHERE (d.change = 'insert' AND o_orderkey % 4 IN (2, 3)) " +
      "OR (d.change = 'delete' AND o_orderkey % 4 = 1) " +
      "GROUP BY d.from_version, d.to_version, d.change " +
      "ORDER BY d.from_version"),

    // survivors recomputed from the DELETE predicate directly: the
    // positional vector must have addressed exactly those rows
    "q_scan_deletevector" -> ("SELECT o_orderstatus, " +
      "CAST(count(*) AS BIGINT) AS n_orders, " +
      "CAST(sum(o_orderkey % 7) AS BIGINT) AS sum_key_mod, " +
      "CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price " +
      "FROM orders WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 7 = 0) " +
      "GROUP BY o_orderstatus ORDER BY o_orderstatus"),

    // ONE survivor recompute from the DELETE predicate, expected
    // IDENTICAL under both versions — pre (merge-on-read) == post
    // (compacted) is the compaction-correctness contract itself
    "q_lake_compact" -> ("SELECT v.version, o_orderstatus, " +
      "CAST(count(*) AS BIGINT) AS n_orders, " +
      "CAST(sum(o_orderkey % 7) AS BIGINT) AS sum_key_mod, " +
      "CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price " +
      "FROM orders, (VALUES (CAST(2 AS BIGINT)), (3)) v(version) " +
      "WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 16 < 3) " +
      "GROUP BY v.version, o_orderstatus ORDER BY v.version, o_orderstatus"),

    "q_hive_table" -> ("SELECT year(o_orderdate) AS o_year, o_orderpriority, " +
      "count(*) AS n_orders, " +
      "CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price " +
      "FROM orders GROUP BY o_year, o_orderpriority ORDER BY o_year, o_orderpriority"),

    "q_scan_partitioned" -> ("SELECT source, count(*) AS n_docs, " +
      "CAST(SUM(n_chars) AS BIGINT) AS sum_chars FROM documents WHERE lang = 'en' " +
      "GROUP BY source ORDER BY source"),

    "q_scan_zorder" -> ("SELECT event_id, user_id, ts, event_type, value " +
      "FROM events WHERE user_id BETWEEN 1 AND 2 " +
      "AND ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-14' " +
      "ORDER BY event_id"),

    "q_scan_csv" -> ("SELECT c_mktsegment, count(*) AS n_cust, " +
      "CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal " +
      "FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment"),

    "q_scan_json" -> ("SELECT o_orderstatus, count(*) AS n_orders, " +
      "CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price " +
      "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"),

    // the physical layout as arithmetic: one writer task per lang
    // rolling at 1000 records => ceil(rows/1000) files, integer math
    // (the +999 DIV form — float ceil diverges at exact boundaries)
    "q_sink_compacted" -> ("SELECT lang, (count(*) + 999) // 1000 AS n_files, " +
      "count(*) AS n_rows, CAST(SUM(n_chars) AS BIGINT) AS sum_chars " +
      "FROM documents GROUP BY lang ORDER BY lang"),

    "q_scan_binaryfile" -> ("SELECT count(*) AS n_files, " +
      "CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes, " +
      "count(DISTINCT md5(text)) AS n_distinct, " +
      "min(md5(text)) AS first_md5, max(md5(text)) AS last_md5 " +
      "FROM documents"),

    "q_scan_orc" -> ("SELECT s_nationkey, count(*) AS n_sup, " +
      "CAST(SUM(CAST(s_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal " +
      "FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey"),

    "q_scan_evolution" -> ("SELECT c_mktsegment, count(*) AS n_rows, " +
      "count(CASE WHEN c_custkey % 2 = 0 THEN c_acctbal END) AS n_with_bal, " +
      "CAST(SUM(CASE WHEN c_custkey % 2 = 0 " +
      "THEN CAST(c_acctbal AS DECIMAL(12,2)) END) AS DOUBLE) AS sum_bal " +
      "FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment"),

    "q_scan_dpp" -> ("SELECT d.lang, count(*) AS n_docs, " +
      "CAST(SUM(n_chars) AS BIGINT) AS sum_chars FROM documents d " +
      "JOIN (VALUES ('en','west'),('de','west'),('fr','east'),('es','east')," +
      "('zh','east')) AS m(lang, grp) ON d.lang = m.lang " +
      "WHERE m.grp = 'west' GROUP BY d.lang ORDER BY d.lang"),

    "q_merge_upsert" -> ("WITH base AS (SELECT c_custkey, c_name, c_acctbal, " +
      "c_mktsegment FROM customer), " +
      "upd AS (SELECT c_custkey, c_name, c_acctbal + 100.0 AS c_acctbal, " +
      "c_mktsegment FROM base WHERE c_custkey % 10 = 0 " +
      "UNION ALL SELECT c_custkey + 1000000 AS c_custkey, " +
      "concat(c_name, '_new') AS c_name, c_acctbal, c_mktsegment " +
      "FROM base WHERE c_custkey % 17 = 0) " +
      "SELECT coalesce(b.c_custkey, u.c_custkey) AS c_custkey, " +
      "coalesce(u.c_name, b.c_name) AS c_name, " +
      "coalesce(u.c_acctbal, b.c_acctbal) AS c_acctbal, " +
      "coalesce(u.c_mktsegment, b.c_mktsegment) AS c_mktsegment " +
      "FROM base b FULL OUTER JOIN upd u ON b.c_custkey = u.c_custkey " +
      "ORDER BY c_custkey"),

    "q_scd2" -> ("WITH m AS (SELECT user_id, ts, event_id, event_type, " +
      "row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn, " +
      "count(*) OVER (PARTITION BY user_id) AS n_total, " +
      "lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type " +
      "FROM events), " +
      "c AS (SELECT * FROM m WHERE prev_type IS NULL OR prev_type <> event_type) " +
      "SELECT user_id, " +
      "CAST(row_number() OVER (PARTITION BY user_id ORDER BY rn) AS BIGINT) AS version, " +
      "event_type AS state, ts AS valid_from, " +
      "lead(ts) OVER (PARTITION BY user_id ORDER BY rn) AS valid_to, " +
      "CAST(coalesce(lead(rn) OVER (PARTITION BY user_id ORDER BY rn), n_total + 1) " +
      "- rn AS BIGINT) AS n_events, " +
      "(lead(ts) OVER (PARTITION BY user_id ORDER BY rn) IS NULL) AS is_current " +
      "FROM c ORDER BY user_id, version"),

    // The oracle does the GENERIC interval range join the Spark side
    // deliberately avoids — validating the merge-and-carry rewrite
    // against the textbook formulation.
    "q_join_pointintime" -> ("WITH m AS (SELECT user_id, ts, event_id, event_type, " +
      "row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn, " +
      "lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type " +
      "FROM events), " +
      "c AS (SELECT * FROM m WHERE prev_type IS NULL OR prev_type <> event_type), " +
      "scd AS (SELECT user_id, " +
      "CAST(row_number() OVER (PARTITION BY user_id ORDER BY rn) AS BIGINT) AS version, " +
      "event_type AS state, ts AS valid_from, " +
      "lead(ts) OVER (PARTITION BY user_id ORDER BY rn) AS valid_to FROM c) " +
      "SELECT f.event_id, f.user_id, f.ts, s.version, s.state " +
      "FROM events f JOIN scd s ON f.user_id = s.user_id " +
      "AND f.ts >= s.valid_from AND (s.valid_to IS NULL OR f.ts < s.valid_to) " +
      "WHERE f.event_type = 'purchase' ORDER BY f.event_id"),

    "q_join_bucketed" -> ("SELECT c_mktsegment, count(*) AS n_orders, " +
      "CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price " +
      "FROM orders JOIN customer ON o_custkey = c_custkey " +
      "GROUP BY c_mktsegment ORDER BY c_mktsegment"),
  )
}
