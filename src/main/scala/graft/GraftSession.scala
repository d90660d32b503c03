package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Local runs mirror the driver harness (`local[32]`, 128 GiB heap) but
  * every setting is chosen to transfer to a multi-executor cluster:
  *   - `spark.sql.shuffle.partitions` sized to cores (not the 200
  *     default) — on a real cluster set it to 2-3× total executor cores;
  *     AQE re-coalesces at runtime either way.
  *   - AQE on (partition coalescing + skew-join splitting) so plans
  *     survive a 100× scale-up without manual retuning.
  *   - UTC session time zone for timestamp parity with the oracle.
  */
object GraftSession {
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** Hadoop's `file:` FileContext binding, which every streaming
    * checkpoint on a local path writes through (offsets, commits, state
    * deltas): [[LocalCheckpointFs]] instead of stock `LocalFs`, so a
    * micro-batch no longer forks ~40 `chmod`/`readlink` processes.
    * Traced graftbench `live` per batch: WAL commit 31.9 → 2.0 ms,
    * offset commit 35.1 → 3.6 ms, state commit 89.5 → 6.9 ms
    * (docs/PLANS.md "Fork-free local checkpoint I/O"). A constant, not a
    * knob. Bound as an AbstractFileSystem, which Hadoop builds from the
    * conf for every FileContext; `fs.file.impl` would not do: Hadoop
    * caches one FileSystem per scheme, authority and user, so the class
    * would depend on what touched `file:` first. A session setting, not
    * `spark.hadoop.*`: streaming reads its Hadoop conf from
    * `sessionState.newHadoopConf()`, which copies session settings
    * verbatim, while a `spark.hadoop.*` key reaches only the Hadoop conf
    * of a SparkContext that `getOrCreate` creates, so a session built on
    * an existing context would keep stock `LocalFs`. HDFS and
    * object-store checkpoints on a cluster are untouched.
    */
  val checkpointFs: (String, String) =
    "fs.AbstractFileSystem.file.impl" -> classOf[LocalCheckpointFs].getName

  /** Settings every graft session carries, whatever its master and
    * core count: the one list [[build]] and the test session share.
    */
  val fixedSettings: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // codegen source-text LRU: Spark's default 100 entries thrashes
    // under this engine's workload — one CC query alone compiles
    // ~130 distinct stage sources, so EVERY execution recompiled
    // ~everything (docs/PLANS.md "Round 17: CC codegen-cache fix":
    // n58 129/129/130 Janino compiles across back-to-back runs at 100;
    // 96/0/4 at 4096 — the sources repeat, the cache was just too
    // small). 4096 holds the full sweep's working set; the cost is
    // retained generated-class metadata (~tens of KB each), nothing
    // next to the 5–7 s/run of concurrent JIT the misses burned.
    // Same lever per executor JVM on a cluster.
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    // drop the per-plan stage id from generated class names
    // (default true, debugging aid only — SPARK-23032): with the id
    // baked in, two textually identical stages at different plan
    // positions can NEVER share a codegen-cache entry, so every CC
    // round / repeated pipeline fragment recompiled per position.
    // docs/PLANS.md "Round 18: CC codegen class-name sharing": n58
    // first-touch Janino compiles 146 → 130 and first-touch wall
    // 25.3 → 20.0 s in the same regime; back-to-back re-execution
    // compiles 4 → 0 (the
    // residual misses were positional aliases of cached stages).
    // Per-JVM, transfers to executor JVMs unchanged.
    "spark.sql.codegen.useIdInClassName" -> "false",
    checkpointFs)

  /** Runs `body` with each `key -> value` set on the session, then puts
    * back what was there before (the prior value, or unset), also when
    * `body` throws. The one save/restore of session settings. */
  def withConf[T](spark: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val set = spark.conf.getAll // the explicitly set entries only
    val prior = kvs.map { case (k, _) => k -> set.get(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  def build(appName: String = "graft"): SparkSession = {
    // getOrCreate hands back a running session as it is, without
    // applying the extensions below
    val running = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .exists(!_.sparkContext.isStopped)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config(fixedSettings.toMap)
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (running) installOptimizations(spark)
    spark
  }

  /** Drop every materialized block the previous query left behind:
    * catalog-cached relations AND RDD-layer blocks (localCheckpoint
    * generations from iterative operators — clearCache cannot see
    * those). Blocking, so a caller that follows with `System.gc()` sees
    * the blocks already gone instead of billing their removal to the
    * next timed query. Harness hygiene — shared by Bench, BenchOne,
    * Verify and ScaleProbe so the reap is one definition, not four.
    */
  def dropAllBlocks(spark: SparkSession, blocking: Boolean = true): Unit = {
    // forget tracked diamond persists first (built-but-never-executed
    // plans have no completion event for DiamondCaches to release on)
    DiamondCaches.drain()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking))
    // Memory-sink tables from completed streaming queries: each holds
    // its full result rows on the driver for the life of the session
    // and nothing ever dropped them — the r15 TailDebt experiment
    // counted 41 → 72 registered graft_stream_* sinks across one
    // harness session. Rows are monitor-card-sized today (no measured
    // cost), but the leak is unbounded with registry growth; every
    // sink is consumed within its own query's window, so reaping
    // between queries is safe. The sinks are local temp views, listed
    // from catalog metadata: `catalog.listTables()` planned and ran
    // SHOW TABLES, 494–549 ms per traced graftbench olap pass against
    // 1–2 ms now.
    spark.sessionState.catalog.listLocalTempViews("graft_stream_*")
      .foreach(v => spark.catalog.dropTempView(v.table))
  }

  /** Engine optimizer rules for a session that already runs (the
    * [[GraftExtensions]] path installs the same list at build time).
    * A running session's AQE runtime rules are fixed, so here
    * [[SmallSortSinglePartition]] decides on static estimates only.
    * Idempotent.
    */
  def installOptimizations(spark: SparkSession): Unit = {
    val rules = GraftExtensions.optimizerRules
    val current = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      current ++ rules.filterNot(current.contains)
  }
}
