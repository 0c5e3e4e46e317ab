package graft.sync

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DecimalType, DecimalType => DT}
import graft.Tables
import graft.sinks.AliasedIndex

/** Incrementally-maintained aggregate views: refresh a grouped aggregate
  * from DELTAS at O(delta + state) cost instead of rescanning the corpus
  * — the materialized-view counterpart of the sync layer's watermark
  * machinery. At 100 TB this is the difference between "refresh the
  * dashboard aggregate by re-reading 100 TB" and "fold tonight's
  * partitions into a state table the size of the key space".
  *
  * Mechanics, Spark-first:
  *
  *  - State = a parquet table of per-key PARTIAL aggregation states
  *    (`mv_n`, `mv_s`, `mv_s2`, and for append-only views
  *    `mv_min`/`mv_max`), the classic algebraic-aggregate decomposition:
  *    count/sum/sum-of-squares merge by addition, min/max by min/max.
  *    Sums are EXACT decimals pinned to a fixed precision
  *    ([[pinnedSum]]), so merge order never changes a result and the
  *    state schema is identical across refreshes (Spark widens decimal
  *    sums per aggregation; unpinned, every refresh would widen the
  *    schema until the 38-digit cap).
  *  - A refresh partial-aggregates the delta by key (map-side combine,
  *    one shuffle of the delta's distinct keys), unions it with the
  *    state table, and re-merges — a shuffle of O(state + delta keys)
  *    rows, never a corpus scan. On a real cluster the state table is
  *    key-partitioned parquet; the union-merge reuses that partitioning.
  *  - The merged state is published through [[AliasedIndex.publish]]:
  *    readers resolve `current` and see the old complete state or the
  *    new complete state, never a half-merged one, and a crashed refresh
  *    leaves only hidden staging junk.
  *
  * Retraction (deletes/updates upstream): count and sum are INVERTIBLE —
  * fold the retracted rows with sign −1. min/max are NOT (retracting the
  * minimum requires knowing the runner-up, which the state no longer
  * has), so a `retractable` view simply does not carry them: the
  * distinction is structural (no `mv_min`/`mv_max` columns), not a
  * runtime flag that could silently serve a stale minimum. Over-
  * retraction (a key's count driven below zero — retracting rows that
  * were never added) fails the refresh loudly from inside the merge
  * plan; the old state stays published.
  *
  * Tracked refreshes ([[refreshTracked]]) pull their own delta with the
  * sync layer's watermark-pushdown discipline, with one difference from
  * [[SyncRunner.runTracked]]: doc delivery is idempotent (re-shipping a
  * window folds to the same served state), a MERGE IS NOT — re-folding a
  * delta double-counts it. So the watermark is not kept in a separate
  * [[WatermarkStore]] whose advance could be lost between publish and
  * set; it is written INSIDE the version dir the publish flips, making
  * (state, watermark) one atomic commit: a crash at any point either
  * serves the old state with the old mark (the delta re-pulls and
  * re-merges onto the OLD state) or the new state with the new mark.
  */
object IncrementalView {

  /** A maintained view: group keys plus one OR MORE measure columns
    * (pre-cast by the caller to EXACT types — decimal or integral; see
    * [[graft.Dets.money]] — so sums are order-independent).
    * `retractable` views support signed refreshes and carry no min/max.
    *
    * A real dashboard view carries several measures (Q1 carries four);
    * `extraMeasures` adds them. Column naming: a single-measure view
    * keeps the legacy unsuffixed state columns (`mv_nm`/`mv_s`/`mv_s2`/
    * `mv_min`/`mv_max`); a multi-measure view suffixes EVERY measure's
    * columns with its name (`mv_s_qty`, `mv_s_price`, …) — uniform, so
    * no column's meaning depends on declaration order. `mv_n` (the row
    * count) is measure-independent either way.
    */
  final case class ViewDef(keys: Seq[String], measure: String,
      retractable: Boolean = false, extraMeasures: Seq[String] = Nil) {
    def measures: Seq[String] = measure +: extraMeasures
    /** State-column name for a measure's partial `part` ∈
      * {nm, s, s2, min, max}. */
    def stateCol(part: String, m: String): String = {
      require(measures.contains(m), s"unknown measure $m")
      if (extraMeasures.isEmpty) s"mv_$part" else s"mv_${part}_$m"
    }
  }

  /** Fold `delta` (all rows additions) into the view at `root`. */
  def refresh(spark: SparkSession, root: String, delta: DataFrame,
      v: ViewDef): Unit =
    doRefresh(spark, root, delta, v, lit(1L), wmCol = None)

  /** Fold several independent deltas in one maintenance window: each
    * delta's PARTIAL aggregation — the O(delta) half of a refresh —
    * materializes CONCURRENTLY (guide §2.6: independent jobs back-fill
    * each other's idle cores), then the O(state) merge+publish commits
    * run sequentially in the given order — the same per-delta folds and
    * atomic publishes as calling [[refresh]] once per delta. Failure
    * differs from that loop: if any delta's concurrent partial
    * aggregation fails, NOTHING commits (the failure is rethrown after
    * every branch settles), whereas a crash or failure during the
    * commits leaves a fully-committed prefix. Deltas must not depend on the view's own state — watermark-tracked
    * pulls do ([[refreshTracked]] stays serial by contract); plain,
    * signed and CDC deltas don't.
    */
  def refreshAll(spark: SparkSession, root: String, deltas: Seq[DataFrame],
      v: ViewDef): Unit =
    refreshAllPrepared(spark, root, deltas.map(d => (d, lit(1L))), v)

  /** [[refreshAll]] with a per-delta sign column — the batched
    * [[refreshSigned]] (retractable views only). Commits fold in caller
    * order, so an add-then-retract sequence keeps its over-retraction
    * failure semantics.
    */
  def refreshAllSigned(spark: SparkSession, root: String,
      deltas: Seq[(DataFrame, Column)], v: ViewDef): Unit = {
    require(v.retractable,
      "refreshAllSigned needs a retractable ViewDef: min/max are not " +
        "invertible, so append-only views refuse signed deltas")
    refreshAllPrepared(spark, root, deltas, v)
  }

  private def refreshAllPrepared(spark: SparkSession, root: String,
      deltas: Seq[(DataFrame, Column)], v: ViewDef): Unit = {
    val parts = deltas.map { case (d, sign) =>
      preparePartials(d, v, sign, wmCol = None)
    }
    try {
      // eager concurrent materialization of every persisted partials
      // table; the sequential commits below then read cached blocks only
      graft.Par.run(parts.map(p => () => { p.count(); () }): _*)
      parts.foreach(p => commitPartials(spark, root, p, v,
        wmCol = None, batch = None))
    } finally parts.foreach(_.unpersist())
  }

  /** Fold a SIGNED delta: `sign` is +1 (add) or −1 (retract) per row.
    * Only retractable views — an append-only view's min/max cannot
    * un-see a retracted row.
    */
  def refreshSigned(spark: SparkSession, root: String, delta: DataFrame,
      v: ViewDef, sign: Column): Unit = {
    require(v.retractable,
      "refreshSigned needs a retractable ViewDef: min/max are not " +
        "invertible, so append-only views refuse signed deltas")
    doRefresh(spark, root, delta, v, sign, wmCol = None)
  }

  /** Maintain the view from a SNAPSHOT DIFF — the CDC composition: when
    * the source has no watermark column (in-place updates, upstream
    * deletes), diff two snapshots by `idCol` and fold ONE signed delta:
    * deleted/changed rows retract their OLD (keys, measure) with sign
    * −1, inserted/changed rows fold their NEW values with +1. An update
    * that moves a row between groups therefore transfers it exactly
    * (retract from the old key, fold into the new); unchanged rows are
    * dropped before anything materializes, so the refresh costs
    * O(churn + state), never a corpus rescan. Both sides are pruned to
    * (id, keys, measure) before the full-outer equi-join — the same
    * narrow-shuffle argument as [[SyncRunner.cdcActions]]; at 100 TB
    * the previous snapshot is the retained copy of the last run,
    * co-partitioned by id. Requires a retractable view (min/max cannot
    * un-see deleted rows) and snapshot-unique ids.
    */
  def refreshCdc(spark: SparkSession, root: String, previous: DataFrame,
      current: DataFrame, idCol: String, v: ViewDef): Unit = {
    require(v.retractable,
      "refreshCdc retracts deleted/changed rows — the view must be retractable")
    doRefresh(spark, root, cdcSignedDelta(previous, current, idCol, v), v,
      col("mv_sign"), wmCol = None)
  }

  /** The one signed delta of a snapshot diff (the [[refreshCdc]] body):
    * deleted/changed rows carry their OLD values with mv_sign −1,
    * inserted/changed rows their NEW values with +1. Exposed so a caller
    * batching several independent folds ([[refreshAllSigned]]) can
    * overlap this delta's partial aggregation with others — the diff
    * reads only the two snapshots, never the view's state. */
  def cdcSignedDelta(previous: DataFrame, current: DataFrame,
      idCol: String, v: ViewDef): DataFrame = {
    val cols = v.keys ++ v.measures
    val o = previous.select((idCol +: cols).map(col): _*).alias("o")
    val n = current.select((idCol +: cols).map(col): _*).alias("n")
    val joined = o.join(n, col(s"o.$idCol") === col(s"n.$idCol"), "full_outer")
    val same = cols.map(c => col(s"o.$c") <=> col(s"n.$c")).reduce(_ && _)
    val retracted = joined
      .where(col(s"o.$idCol").isNotNull && (col(s"n.$idCol").isNull || !same))
      .select(cols.map(c => col(s"o.$c").as(c)) :+ lit(-1L).as("mv_sign"): _*)
    val folded = joined
      .where(col(s"n.$idCol").isNotNull && (col(s"o.$idCol").isNull || !same))
      .select(cols.map(c => col(s"n.$c").as(c)) :+ lit(1L).as("mv_sign"): _*)
    retracted.unionByName(folded)
  }

  /** Watermark-tracked refresh: pull the delta (`wmCol` strictly past
    * the mark committed with the CURRENT state version), fold it, and
    * commit the delta's max watermark atomically with the new state.
    * `src` is the full source as of now — the pushdown predicate makes
    * the scan read only the un-folded tail (partition pruning on a
    * date-partitioned lake).
    */
  def refreshTracked(spark: SparkSession, root: String, src: DataFrame,
      v: ViewDef, wmCol: String): Unit = {
    val delta = currentWatermark(root).fold(src)(w =>
      src.where(expr(s"$wmCol > ($w)")))
    doRefresh(spark, root, delta, v, lit(1L), wmCol = Some(wmCol))
  }

  /** The watermark committed with the currently-published state, as a
    * Spark SQL literal (rendered by [[SyncRunner.wmLiteral]]). */
  def currentWatermark(root: String): Option[String] =
    AliasedIndex.resolve(root).map(cur => Paths.get(cur, "watermark"))
      .filter(Files.exists(_)).map(p => Files.readString(p).trim)

  /** The highest stream batchId folded into the published state (the
    * ledger [[refreshBatch]] consults), committed atomically with it. */
  def lastBatch(root: String): Option[Long] =
    AliasedIndex.resolve(root).map(cur => Paths.get(cur, "batch"))
      .filter(Files.exists(_)).map(p => Files.readString(p).trim.toLong)

  /** Fold a stream micro-batch EXACTLY ONCE: the batchId ledger is
    * committed inside the same version dir as the state, so a replayed
    * batch (foreachBatch is at-least-once — a crash between the fold and
    * the checkpoint commit re-runs the same batchId with the same rows)
    * is skipped when its fold already published, and re-folds onto the
    * OLD state when it didn't. Either way the delta lands once. Returns
    * whether the batch was folded (false = replay skip).
    *
    * One maintenance mode per view: a stream-maintained view's source of
    * truth for progress is the checkpoint + ledger, not a watermark —
    * mixing [[refreshTracked]] pulls into the same root would fold rows
    * both paths see twice. Signed repair ([[refreshSigned]]) between
    * stream segments is fine: it carries the ledger forward.
    */
  def refreshBatch(spark: SparkSession, root: String, delta: DataFrame,
      v: ViewDef, batchId: Long): Boolean = {
    require(batchId >= 0, s"negative batchId $batchId")
    if (lastBatch(root).exists(_ >= batchId)) false
    else {
      doRefresh(spark, root, delta, v, lit(1L), wmCol = None,
        batch = Some(batchId))
      true
    }
  }

  /** Continuous maintenance: fold each micro-batch of `stream` into the
    * view through [[refreshBatch]]'s exactly-once ledger. The streaming
    * counterpart of a nightly [[refreshTracked]] loop — same state table,
    * same publish discipline, progress pinned by the checkpoint instead
    * of a watermark column.
    */
  def maintainContinuous(stream: DataFrame, root: String, v: ViewDef,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    require(stream.isStreaming, "maintainContinuous needs a streaming DataFrame")
    stream.writeStream
      .queryName(s"graft-view-${Paths.get(root).getFileName}")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        refreshBatch(batch.sparkSession, root, batch, v, batchId)
        ()
      }
      .start()
  }

  /** The published state table: keys + partial columns, one row per key
    * ever seen. Spec/diagnostic surface; user queries go through
    * [[read]]. */
  def state(spark: SparkSession, root: String): Option[DataFrame] =
    AliasedIndex.resolve(root).map(cur =>
      Tables.parquet(spark, Paths.get(cur, "state").toString))

  /** The served view: one row per key with a LIVE count. A fully
    * retracted key (mv_n = 0) disappears, exactly as its rows
    * disappearing upstream would make it vanish from the direct
    * aggregate. Finalization (avg = s/n, variance from moments) is the
    * caller's — counts, sums, and min/max are exact; the moment column
    * is exact for measures up to 3 dp and scale-6-rounded per row
    * beyond that (see [[pinnedSum]]).
    */
  def read(spark: SparkSession, root: String): DataFrame =
    state(spark, root).getOrElse(throw new IllegalStateException(
      s"no published view at $root — refresh it first"))
      .where(col("mv_n") > 0)

  // ---- internals -------------------------------------------------------

  /** Fixed state types for a measure type: Spark widens every decimal
    * SUM by 10 digits, so without pinning, refresh N would carry a wider
    * schema than refresh N−1 (schema drift in the state table, and a
    * 38-cap collision three refreshes in). Integral measures sum through
    * DECIMAL too — a BIGINT sum-of-squares overflows 64 bits on real
    * data, and ANSI mode makes that a mid-refresh error.
    *
    * The square's scale caps at 6, matching reality rather than
    * aspiration: a 38-digit decimal×decimal product overflows Spark's
    * precision cap, and the allowPrecisionLoss adjustment floors the
    * result scale at 6 — per-row squares of measures beyond 3 dp are
    * rounded there no matter what scale the state declares. Measures up
    * to 3 dp (money is 2) square exactly; wider measures carry a
    * documented ~1e-6-per-row moment rounding, not a pretend-exact
    * wider column of trailing zeros.
    */
  private def pinnedSum(dt: DataType): (DecimalType, DecimalType) = dt match {
    case d: DecimalType => (DT(38, d.scale), DT(38, math.min(d.scale * 2, 6)))
    case _              => (DT(38, 0), DT(38, 0))
  }

  private def doRefresh(spark: SparkSession, root: String, rawDelta: DataFrame,
      v: ViewDef, sign: Column, wmCol: Option[String],
      batch: Option[Long] = None): Unit = {
    val partials = preparePartials(rawDelta, v, sign, wmCol)
    try commitPartials(spark, root, partials, v, wmCol, batch)
    finally partials.unpersist()
  }

  /** The O(delta) half of a refresh: the per-key partial aggregation of
    * one delta, persisted (lazily — the caller's first action
    * materializes it). Independent of the view's published state. */
  private def preparePartials(rawDelta: DataFrame, v: ViewDef, sign: Column,
      wmCol: Option[String]): DataFrame = {
    val keyCols = v.keys.map(col)
    // a NULL event time is untrackable: it would fold on the refresh that
    // happens to see it but every later pull's `wm > mark` pushdown drops
    // NULLs, so whether the row is ever counted would depend on snapshot
    // timing. Refuse loudly from inside the fold instead — and before the
    // max-watermark read, which would otherwise NPE rendering a null mark.
    val delta = wmCol.fold(rawDelta)(c => rawDelta.withColumn(c,
      when(col(c).isNotNull, col(c)).otherwise(raise_error(lit(
        s"IncrementalView: NULL $c in a tracked delta — null event times " +
          "cannot be watermarked; filter or backfill them upstream"))
        .cast(rawDelta.schema(c).dataType))))
    // pinned sum/square types per measure (schema-drift note at pinnedSum)
    val pinned: Map[String, (DecimalType, DecimalType)] =
      v.measures.map(mm =>
        mm -> pinnedSum(delta.schema(mm).dataType)).toMap
    val wm = wmCol.map(c => max(col(c)).as("mv_wm")).toSeq
    val perMeasure = v.measures.flatMap { mm =>
      val mc = col(mm)
      val (sumT, sqT) = pinned(mm)
      val minmax =
        if (v.retractable) Seq.empty
        else Seq(min(mc).as(v.stateCol("min", mm)),
          max(mc).as(v.stateCol("max", mm)))
      Seq(
        // non-null-measure count: avg finalization (and the rewrite
        // rule's avg splice) divides by the rows the measure actually
        // had — a NULL measure contributes to mv_n (count(*)) but not here
        sum(when(mc.isNotNull, sign).otherwise(lit(0L)))
          .as(v.stateCol("nm", mm)),
        sum(mc.cast(sumT) * sign).cast(sumT).as(v.stateCol("s", mm)),
        sum((mc.cast(sqT) * mc.cast(sqT)) * sign).cast(sqT)
          .as(v.stateCol("s2", mm))) ++ minmax
    }
    val deltaAggs = (sum(sign).as("mv_n") +: perMeasure) ++ wm
    val partials =
      delta.groupBy(keyCols: _*).agg(deltaAggs.head, deltaAggs.tail: _*)
    // the partials table is O(delta's distinct keys): pin it once —
    // it feeds the empty-probe, (tracked) the watermark max, and the
    // merge, which must not re-aggregate the delta three times
    partials.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** The O(state) half of a refresh: merge one delta's (persisted)
    * partials into the published state and atomically publish. The
    * caller owns the partials' lifecycle (unpersist). */
  private def commitPartials(spark: SparkSession, root: String,
      partials: DataFrame, v: ViewDef, wmCol: Option[String],
      batch: Option[Long]): Unit = {
    val keyCols = v.keys.map(col)
    val pinned: Map[String, (DecimalType, DecimalType)] =
      v.measures.map(mm => mm -> {
        val (sumT, sqT) = (partials.schema(v.stateCol("s", mm)).dataType,
          partials.schema(v.stateCol("s2", mm)).dataType)
        (sumT.asInstanceOf[DecimalType], sqT.asInstanceOf[DecimalType])
      }).toMap
    // an empty delta must NOT rewrite O(state) bytes for nothing (nor
    // advance the watermark: there is nothing to advance past)
    if (partials.isEmpty) return
    locally {
      val wmMax = wmCol.map { _ =>
        val raw = partials.agg(max(col("mv_wm"))).head().get(0)
        SyncRunner.wmLiteral(raw)
      }
      val deltaState = partials.drop("mv_wm")
      val merged = state(spark, root) match {
        case None => deltaState
        case Some(st) =>
          val mergePerMeasure = v.measures.flatMap { mm =>
            val (sumT, sqT) = pinned(mm)
            val minmax =
              if (v.retractable) Seq.empty
              else Seq(
                min(v.stateCol("min", mm)).as(v.stateCol("min", mm)),
                max(v.stateCol("max", mm)).as(v.stateCol("max", mm)))
            Seq(
              sum(v.stateCol("nm", mm)).as(v.stateCol("nm", mm)),
              sum(v.stateCol("s", mm)).cast(sumT).as(v.stateCol("s", mm)),
              sum(v.stateCol("s2", mm)).cast(sqT).as(v.stateCol("s2", mm))
            ) ++ minmax
          }
          val mergeAggs = sum("mv_n").as("mv_n") +: mergePerMeasure
          st.unionByName(deltaState).groupBy(keyCols: _*)
            .agg(mergeAggs.head, mergeAggs.tail: _*)
      }
      // over-retraction fails from INSIDE the merge plan (the check rides
      // the kept mv_n column, so pruning can't elide it) and the publish
      // cleans its staging — the old state stays served
      val checked =
        if (!v.retractable) merged
        else merged.withColumn("mv_n", expr(
          "CASE WHEN mv_n >= 0 THEN mv_n ELSE CAST(raise_error(concat(" +
            "'IncrementalView: over-retraction drove a key''s count to ', " +
            "CAST(mv_n AS STRING), ' — retracted rows that were never " +
            "added')) AS BIGINT) END"))
      // an UNTRACKED refresh (plain or signed — e.g. retracting deletes
      // from a view otherwise maintained by refreshTracked) must carry the
      // committed mark forward: publishing a version without it would make
      // the next tracked pull see "no watermark" and re-fold the entire
      // source onto folded state — silent double-counting. The stream
      // batch ledger carries identically, or a signed repair between
      // stream segments would reset it and invite a replayed batch back.
      val carriedWm = wmMax.orElse(currentWatermark(root))
      val carriedBatch = batch.orElse(lastBatch(root))
      AliasedIndex.publish(root) { dir =>
        // deterministic bytes: sort each hash-partition by key before the
        // write, so identical folds produce identical state files (the
        // serve path orders anyway; this pins the at-rest layout too)
        checked.sortWithinPartitions(keyCols: _*)
          .write.parquet(Paths.get(dir, "state").toString)
        carriedWm.foreach(l => Files.writeString(Paths.get(dir, "watermark"), l))
        carriedBatch.foreach(b =>
          Files.writeString(Paths.get(dir, "batch"), b.toString))
      }
    }
  }
}
