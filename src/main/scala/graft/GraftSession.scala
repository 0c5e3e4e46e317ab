package graft

import org.apache.spark.sql.SparkSession

/** Shared session factory for the driver entry points (Verify / Bench).
  *
  * The catalog is a REAL HiveExternalCatalog backed by an embedded Derby
  * metastore in a scratch directory (`spark-hive` + `hive-metastore` +
  * `derby` jars ship with the image) — the same persistent-catalog read
  * path a production Hive-fed pipeline uses (SURVEY.md §2.A,
  * `operators.Warehouse`). Metastore init is lazy: queries that never
  * touch the catalog never pay for it. All scratch state (warehouse,
  * metastore db, derby.log) lands under java.io.tmpdir, never the repo.
  */
object GraftSession {
  /** Size of Spark's generated-class cache (`spark.sql.codegen.cache.maxEntries`).
    * Spark's default of 100 is below the benchmark's working set, so a
    * warm round evicted and recompiled classes it had just used. Measured
    * with an unbounded cache (distinct classes compiled in one whole run,
    * first calls and oracle checks included): perfbench query_mix 166,
    * sync_ingest 234. 500 holds both sets at once with 25 % headroom.
    * The conf is static: the first code generation in the JVM fixes it,
    * so it is set here, never by a later `conf.set`.
    */
  val CodegenCacheEntries = 500

  /** `spark.sql.ui.explainMode`: the plan text Spark formats on the
    * query thread for every SQL-execution-start event and every adaptive
    * plan update. Nothing here reads it (the UI is off), and Spark's
    * default, `formatted`, costs 2–3× `simple`: 0.12–0.73 ms against
    * 0.06–0.23 ms per warm call on the query_mix keys' plans (4-core VM,
    * `local[2]`, sf0.01). `PlanDump` passes its own mode to `explain`. */
  val UiExplainMode = "simple"

  /** Runs `body` with each of `confs` set on `s`, then restores each one
    * to its earlier value, or unsets it. Only what runs inside `body`
    * sees the confs: a DataFrame returned from it is optimized and
    * planned again, under the restored confs, by every later action. A
    * key whose plan needs the confs returns
    * `Bridge.ofRows(s, df.queryExecution.optimizedPlan)` built inside the
    * block, which fixes the optimized plan made under them.
    */
  def withConfs[T](s: SparkSession, confs: (String, String)*)(body: => T): T = {
    val prev = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  def builder(cpus: String): SparkSession.Builder = {
    val scratch = java.nio.file.Files.createTempDirectory("graft_cat")
    // derby.log goes to derby.system.home (defaults to cwd = the repo)
    System.setProperty("derby.system.home", scratch.toString)
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // AQE coalescing stays at Spark's default (parallelismFirst=true):
      // size-based coalescing read 44.3 s against 31.1 s on 20 keys at sf0.1.
      // plans.GatherSmallSort reads the same confs (parallelismFirst,
      // minPartitionSize, advisoryPartitionSizeInBytes) for its one-task sort.
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // Keep the whole-stage codegen stage id out of the generated class's
      // source (its class name). Adaptive execution numbers stages in the
      // order concurrent shuffle stages finish, so the same subtree got a
      // different id, hence new source and a recompile, from call to call
      // (q_text_tfidf: 4 classes on some warm calls). The id still shows
      // in `explain` as *(n) and in the generated code's comments.
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.explainMode", UiExplainMode)
      // the one installer of graft's functions, rules and strategies
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.catalogImplementation", "hive")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$scratch/metastore_db;create=true")
  }
}
