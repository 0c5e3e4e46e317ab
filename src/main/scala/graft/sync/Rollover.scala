package graft.sync

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sinks.{AliasedIndex, FileBulkClient}

/** Time-partitioned index families — the "index-per-period + alias"
  * operational pattern (SURVEY §3.1) for time-growing corpora: one index
  * per calendar period (`jobName-1997-06`), an alias spanning all of
  * them, and a sync that touches ONLY the periods its delta covers.
  *
  * Why a family instead of one big index: at 100 TB the working set is
  * the newest period or two — old periods are immutable, never rewritten
  * by an incremental run, cheap to snapshot/expire wholesale (drop the
  * index, not delete-by-query), and a full REBUILD of one period (late
  * data, mapping change) republishes that period alone. This is the
  * standard ES/OpenSearch time-series layout; the reference's single
  * target index forces "re-run full mode" for any of those.
  *
  * Mechanics per period, reusing the engine's existing guarantees:
  *  - a period with NO published index → CREATE: mapping + full batch
  *    set built as a hidden version dir, atomically published
  *    ([[AliasedIndex.publish]] — readers never see a half-built index);
  *  - an EXISTING period → APPEND: the delta delivers as the next
  *    `gen=NNNN` generation inside the period's CURRENT version (the
  *    file analog of bulk-indexing into a live index;
  *    [[graft.sinks.Writers.foldState]] replays generations in order).
  *    The append first re-derives the job's mapping and requires it
  *    byte-identical to the period's published `mapping.json` — schema
  *    drift against a live strict-mapped index is a loud config error
  *    (ES would reject the bulk with a mapping conflict), never silent
  *    index pollution.
  *  - after all periods deliver, the family ALIAS manifest
  *    (`alias.json`, members = every period index with a resolvable
  *    current version) is rewritten atomically — a reader holding the
  *    old manifest sees complete old indices, one holding the new sees
  *    complete new ones.
  *
  * The period loop is driver-side over `collect()`ed period NAMES — an
  * O(#periods) row set (months of retention, not corpus rows), the same
  * documented O(1)-row statistics-job pattern as Dedup's corpus stats.
  * Each period re-filters the source by its period expression; on a
  * date-partitioned lake that predicate is partition pruning, so an
  * incremental run reads only the delta's partitions (and at any rate
  * [[SyncRunner.source]] has already applied the watermark pushdown).
  *
  * Replay safety: re-running a failed/crashed incremental appends a NEW
  * generation with the SAME deterministic docs — `_id` idempotency folds
  * it to the identical served state (at-least-once delivery,
  * exactly-once state, as everywhere in the sync layer).
  */
object Rollover {

  /** One period's delivery outcome: the index it landed in, whether the
    * index was created by this run (vs appended to), the generation the
    * docs landed under (None = the create-path flat layout), and the
    * delivery counts.
    */
  final case class PeriodOutcome(index: String, created: Boolean,
      gen: Option[Int], counts: DeliveryCounts)

  /** The job's period→index expression (what [[SyncRunner.docsFor]]
    * emits as `_index`). */
  private def indexExpr(job: SyncJob) = {
    val p = job.period.getOrElse(throw new IllegalArgumentException(
      s"job '${job.name}' has no IndexPeriod — use fullSync/run for single-index jobs"))
    concat(lit(job.name + "-"), date_format(col(p.col), p.format))
  }

  /** Deliver `job` into its period family under `familyRoot`: create
    * missing period indices, append deltas to existing ones, refresh the
    * alias manifest. Periods deliver in chronological order (period
    * names sort — [[IndexPeriod]] requires a calendar-prefix format), so
    * a mid-run crash leaves a prefix of periods delivered and a re-run
    * converges the rest. Returns per-period outcomes.
    */
  def rolloverSync(spark: SparkSession, sfDir: String, job: SyncJob,
      familyRoot: String,
      wrap: graft.sinks.BulkClient => graft.sinks.BulkClient = identity):
      Seq[PeriodOutcome] = {
    val idx = indexExpr(job)
    val src = SyncRunner.source(spark, sfDir, job)
    val periods = collectPeriods(src, idx, job)
    // the mapping is period-independent: one schema analysis per run, not
    // one per period
    val mapping = EsMapping.forJob(spark, sfDir, job)
    val outcomes = periods.map { name =>
      val slice = src.where(idx === name)
      // each period delivers on its own, so its quarantine (and budget)
      // is per period index
      val sliceJob = job.scopeDeadLetter(s"index=$name")
      val root = s"$familyRoot/$name"
      AliasedIndex.resolve(root) match {
        case None =>
          val (_, counts) = SyncRunner.publishRun(root, mapping, slice, sliceJob, wrap = wrap)
          PeriodOutcome(name, created = true, gen = None, counts)
        case Some(cur) =>
          requireMappingUnchanged(cur, mapping, job, name)
          val g = reserveGen(Paths.get(cur))
          val counts = SyncRunner.runOn(slice, sliceJob, wrap(FileBulkClient(cur, gen = Some(g))))
          PeriodOutcome(name, created = false, gen = Some(g), counts)
      }
    }
    writeAlias(familyRoot, job.name)
    outcomes
  }

  /** The batch's period names, fail-loud on NULLs: a NULL period column
    * would make `where(idx === name)` match NOTHING (SQL null equality),
    * silently delivering those rows to no period at all — the engine's
    * fail-loud convention (a sync must never silently drop documents)
    * applies to routing exactly as it does to doc bodies.
    */
  private def collectPeriods(src: DataFrame,
      idx: org.apache.spark.sql.Column, job: SyncJob): Seq[String] = {
    val names = src.select(idx.as("_index")).distinct().orderBy("_index")
      .collect().map(_.getString(0)).toSeq
    if (names.contains(null)) throw new IllegalArgumentException(
      s"job '${job.name}': period column '${job.period.get.col}' is NULL for " +
        "some rows — a null period routes nowhere; filter or default it upstream")
    names
  }

  private def requireMappingUnchanged(cur: String, expected: String,
      job: SyncJob, name: String): Unit = {
    val stored = Paths.get(cur, "mapping.json")
    if (!Files.exists(stored) || Files.readString(stored) != expected)
      throw new IllegalStateException(
        s"mapping drift: job '${job.name}' no longer matches index '$name' " +
          s"($stored) — republish the period instead of appending")
  }

  /** Next free generation number inside a published version dir: the
    * create-path batches are generation 0 (flat layout), appends count
    * up from `gen=0001`. A crashed append leaves a partial generation
    * whose number is NOT reused (monotone max+1), so its replay lands
    * complete in a later generation and folds over the torn one.
    * Generations RESERVED by the streaming ledger (see [[streamGen]])
    * count as taken even before their first file lands — otherwise a
    * nightly append could claim the number a crashed-but-unreplayed
    * stream batch holds, and the replay would overwrite the nightly's
    * files.
    */
  private[sync] def nextGen(cur: Path): Int = nextGenFrom(cur, readLedger(cur))

  private def nextGenFrom(cur: Path, ledger: Map[Long, Int]): Int = {
    val GenRe = "gen=(\\d+)".r
    val listing = Files.list(cur)
    val gens =
      try listing.iterator.asScala.flatMap(p => p.getFileName.toString match {
        case GenRe(n) => Some(n.toInt)
        case _        => None
      }).toSeq
      finally listing.close()
    ((0 +: gens) ++ ledger.values).max + 1
  }

  // ---- streaming generation ledger -------------------------------------
  //
  // The continuous path keys delivery generations by the stream's batchId
  // so a replayed micro-batch OVERWRITES its own files (the ContinuousSync
  // idempotency contract). In a period family the batchId cannot BE the
  // generation number — nightly appends to the same period allocate
  // generations too, and the two counters would collide. The ledger
  // (`stream-gens.json` inside the period's current version dir) pins
  // batchId → generation: first delivery of a batch reserves the next
  // free generation and records it ATOMICALLY BEFORE any doc file is
  // written, so a replay — even of a crash that wrote nothing — reads the
  // same generation back and overwrites in place.

  private val LedgerFile = "stream-gens.json"

  private[sync] def readLedger(cur: Path): Map[Long, Int] = {
    val f = cur.resolve(LedgerFile)
    if (!Files.exists(f)) return Map.empty
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(Files.readString(f))
    node.fieldNames().asScala.map(k => k.toLong -> node.get(k).asInt()).toMap
  }

  /** The generation batch `batchId` delivers under in `cur` — reserved
    * and persisted on first sight, stable on replay. */
  private[sync] def streamGen(cur: Path, batchId: Long): Int = reserve(cur, batchId)

  /** Reserve the next free generation for the nightly (batch-append)
    * path, under a unique NEGATIVE ledger key so it can never collide
    * with a stream batchId: recording the nightly's number before its
    * first file lands closes the window where a stream micro-batch
    * computes the same `nextGen` from the dir listing alone. (Ledger
    * updates are read-modify-write on one file — like
    * [[graft.sinks.AliasedIndex]], a single concurrent WRITER per period
    * index is assumed: stream batches and nightly appends INTERLEAVE,
    * they do not run simultaneously against one period.)
    */
  private[sync] def reserveGen(cur: Path): Int =
    reserve(cur, readLedger(cur).keys.filter(_ < 0).minOption.getOrElse(0L) - 1)

  private def reserve(cur: Path, key: Long): Int = {
    val ledger = readLedger(cur)
    ledger.getOrElse(key, {
      val g = nextGenFrom(cur, ledger)
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = mapper.createObjectNode()
      (ledger + (key -> g)).toSeq.sortBy(_._1).foreach {
        case (b, gen) => node.put(b.toString, gen)
      }
      AliasedIndex.writeAtomically(cur.resolve(LedgerFile),
        mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(node))
      g
    })
  }

  /** Period indices of `familyRoot` with a resolvable current version —
    * membership is derived from the FILESYSTEM truth (a publish that
    * crashed before its pointer flip is invisible), not from a mutable
    * side file. */
  def members(familyRoot: String, alias: String): Seq[String] = {
    val root = Paths.get(familyRoot)
    if (!Files.isDirectory(root)) return Seq.empty
    val listing = Files.list(root)
    val dirs =
      try listing.iterator.asScala
        .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith(alias + "-"))
        .map(_.getFileName.toString).toSeq
      finally listing.close()
    dirs.filter(d => AliasedIndex.resolve(s"$familyRoot/$d").isDefined).sorted
  }

  /** Rewrite `alias.json` atomically: the alias object a search client
    * resolves to the family's member indices (name order =
    * chronological). */
  private def writeAlias(familyRoot: String, alias: String): Unit =
    writeAliasMembers(familyRoot, alias, members(familyRoot, alias))

  private def writeAliasMembers(familyRoot: String, alias: String,
      indices: Seq[String]): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.createObjectNode()
    node.put("alias", alias)
    val arr = node.putArray("indices")
    indices.foreach(arr.add)
    val root = Paths.get(familyRoot)
    Files.createDirectories(root)
    AliasedIndex.writeAtomically(root.resolve("alias.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(node))
  }

  /** Retention: drop every period index whose period suffix sorts
    * STRICTLY BEFORE `keepFrom` (chronological — [[IndexPeriod]] pins
    * calendar-prefix formats, so string order IS time order). This is
    * the whole point of the per-period layout: expiry is "drop the
    * index", not a delete-by-query over 100 TB. The alias manifest is
    * rewritten WITHOUT the dropped members FIRST, so a reader resolving
    * the new manifest never references a dying index; a reader still
    * holding the old manifest races the deletion exactly as an
    * in-flight ES search races a delete-index (the accepted semantics
    * of expiry). Returns the dropped index names.
    */
  def expire(familyRoot: String, alias: String, keepFrom: String): Seq[String] = {
    val (dropped, kept) = members(familyRoot, alias)
      .partition(_.stripPrefix(alias + "-") < keepFrom)
    writeAliasMembers(familyRoot, alias, kept)
    dropped.foreach { d =>
      // the `current` pointer dies FIRST: a crash mid-delete must leave a
      // period that no longer RESOLVES (members() skips it, the next
      // writeAlias cannot resurrect it into the manifest serving partial
      // state) — only then are its bytes walked
      Files.deleteIfExists(Paths.get(familyRoot, d, "current"))
      graft.sinks.AliasedIndex.deleteRecursively(Paths.get(familyRoot, d))
    }
    dropped
  }

  /** Re-derive ONE period from scratch and publish it as a fresh version
    * behind that period's alias pointer — the repair path for late-data
    * backfills and for mapping drift (the append path refuses a changed
    * mapping; the rebuild REPLACES the period, new mapping included,
    * while readers keep the old version until the atomic flip). The job
    * must be Full mode: a rebuild is by definition a complete
    * re-derivation of the period, not a delta. Other periods are never
    * touched. Refuses a period the source has no rows for — a typo'd
    * period name must not publish an empty index over a live one.
    */
  def rebuildPeriod(spark: SparkSession, sfDir: String, job: SyncJob,
      familyRoot: String, period: String): PeriodOutcome = {
    require(job.mode == SyncMode.Full,
      s"rebuild of '$period' needs the FULL source, not a watermarked delta")
    val name = s"${job.name}-$period"
    val slice = SyncRunner.source(spark, sfDir, job)
      .where(indexExpr(job) === lit(name))
    require(!slice.isEmpty, s"source has no rows for period '$period' — " +
      "refusing to publish an empty index over a live one")
    val (_, counts) = SyncRunner.publishRun(s"$familyRoot/$name",
      EsMapping.forJob(spark, sfDir, job), slice, job)
    writeAlias(familyRoot, job.name)
    PeriodOutcome(name, created = true, gen = None, counts)
  }

  /** The continuous path over a period family — [[ContinuousSync]]'s
    * contract (at-least-once micro-batches folded to exactly-once state)
    * composed with index-per-period routing: each micro-batch's rows
    * fan out to their periods, creating missing period indices
    * (mapping-first atomic publish, like the batch path) and delivering
    * each period slice under a LEDGER-pinned generation ([[streamGen]]),
    * so a replayed batch overwrites its own files per period even when
    * nightly appends interleave. The gate, dead-letter scoping and
    * watermark advance are the single-index stream's own
    * ([[ContinuousSync.deliverStream]], the one sync stream loop); the
    * alias refresh rides each batch.
    *
    * The per-batch period fan-out is a driver loop over the batch's
    * DISTINCT periods — for a time-ordered stream that is 1 (occasionally
    * 2, at a period boundary or under late data) delivery job(s) per
    * micro-batch, not a per-row cost.
    */
  def startContinuous(stream: DataFrame, job: SyncJob, familyRoot: String,
      store: WatermarkStore, checkpointDir: String,
      wrap: graft.sinks.BulkClient => graft.sinks.BulkClient = identity,
      gate: Option[(DataFrame, Long) => DataFrame] = None):
      org.apache.spark.sql.streaming.StreamingQuery = {
    val idx = indexExpr(job) // also validates the job carries a period
    ContinuousSync.deliverStream(stream, job, "rollover", store, checkpointDir, gate) {
      (batch, batchJob, batchId, track) =>
        // the period fan-out executes `batch` once for collectPeriods and
        // once per period slice — behind a gate, each execution would
        // re-run the gate's whole signature-store probe (and the store is
        // grow-only, so a long-running stream's per-batch cost would grow
        // ×(periods+1)). Pin the batch once; slices then read the cache.
        batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val periods = collectPeriods(batch, idx, job)
          // period-independent: one schema analysis per batch, shared by
          // the create path and the drift check
          val mapping = EsMapping.forSource(batch, job)
          periods.foreach { name =>
            val slice = batch.where(idx === name)
            val root = s"$familyRoot/$name"
            val cur = AliasedIndex.resolve(root).getOrElse {
              // first sight of this period: publish the index EMPTY (mapping
              // only) and append below — create and append are then one code
              // path, and a replayed creating batch appends idempotently
              // instead of re-publishing
              AliasedIndex.publish(root) { dir => EsMapping.write(dir, mapping) }
            }
            // same refusal as the batch append path: new-shape docs must
            // never land under an old strict mapping (ES would reject the
            // bulk with a mapping conflict)
            requireMappingUnchanged(cur, mapping, job, name)
            val g = streamGen(Paths.get(cur), batchId)
            // quarantine scoped per (batch, period): neither a later batch
            // nor a sibling period may clobber another's unreplayed rejects
            SyncRunner.runOn(slice, batchJob.scopeDeadLetter(s"index=$name"),
              wrap(FileBulkClient(cur, gen = Some(g))), wmTrack = track)
          }
          writeAlias(familyRoot, job.name)
        } finally batch.unpersist()
    }
  }

  /** The manifest's member list (what a reader resolves the alias to). */
  def readAlias(familyRoot: String): Seq[String] = {
    val f = Paths.get(familyRoot, "alias.json")
    if (!Files.exists(f)) return Seq.empty
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(Files.readString(f))
    node.get("indices").elements().asScala.map(_.asText()).toSeq
  }

  /** Served state across the whole family — what a search over the alias
    * sees: every member folded ([[graft.sinks.Writers.foldState]]),
    * keyed (index, _id). Ids are scoped per index (the ES reality: the
    * same `_id` in two indices is two documents), which is why the key
    * is the pair. Spec/read-side helper — O(served docs), driver-side.
    */
  def familyState(familyRoot: String, alias: String): Map[(String, String), String] =
    members(familyRoot, alias).flatMap { m =>
      AliasedIndex.resolve(s"$familyRoot/$m").toSeq.flatMap { cur =>
        graft.sinks.Writers.foldState(cur).map { case (id, doc) => ((m, id), doc) }
      }
    }.toMap
}
