package graft.engine

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Capability target: the execution environment of the reference
  * artifact (`/root/reference` ExecutionEnvironment.java) — but
  * realized as a tuned Catalyst/Tungsten `SparkSession`, not a custom
  * runtime. All the reference's hand-built optimizer decisions
  * (join-strategy selection, partial aggregation, ship strategies —
  * SURVEY.md §4.1) are delegated to Catalyst + AQE here.
  *
  * Scale posture: these settings are the local[N] test shape of a
  * cluster config. On a 1000-executor cluster the same code runs with
  * `spark.sql.shuffle.partitions` sized to ~2-3× total cores and AQE
  * coalescing down; nothing in the library hard-codes local paths or
  * partition counts.
  *
  * Generated-class reuse: each class codegen emits is compiled by
  * Janino once per JVM, not once per query run. Three fixed settings
  * make that hold (counts measured on 4 cores):
  *  - Spark's `CodeGenerator` cache is one JVM-wide LRU keyed by
  *    (context classloader, code text) and capped by the static
  *    `spark.sql.codegen.cache.maxEntries`, default 100. That is
  *    smaller than one pass: a warm perfbench batch-mix pass (11
  *    queries at sf0.1) cycles through about 170 classes, so every
  *    entry was evicted before its reuse and every pass recompiled all
  *    of them.
  *    The cap, 5000, is sized from the whole registry instead: one
  *    `graft.Bench` walk at sf0.1 compiles 1876 distinct classes, one
  *    `sbt test` JVM (every suite) 4273; each holds about 23 KB of
  *    heap and 8 KB of metaspace while cached.
  *  - Every `FileDrip.drive` starts a StreamingQuery, and a
  *    StreamingQuery runs on a clone of the session. With
  *    `spark.sql.artifact.isolation.enabled` at its default (true)
  *    each clone gets a fresh session UUID and the executor gives
  *    that UUID its own classloader, so the task-side classes compiled
  *    in a trigger are cached under a loader no later run sees: with
  *    only this setting at its default, a warm rerun of the
  *    maintainers q208 and q212 at sf0.001 compiled 31 of its 112
  *    classes again. The engine adds no artifacts (no
  *    `addArtifact`/`addJar`), so isolation buys it nothing.
  *  - `spark.sql.codegen.useIdInClassName` (default true) names each
  *    whole-stage class after its codegen stage id, and the id depends
  *    on how many stages were planned before it in the same query.
  *    AQE re-planning inside the maintainers' triggers gives the same
  *    stage different ids from run to run, so identical code compiled
  *    again under a new class name (0-6 classes per warm maintainer
  *    pass at sf0.1). Without the id, a stage's code text is the same
  *    in every run.
  */
object GraftSession {

  /** Default local parallelism: read from SPARK_GRAFT_CPUS, else all cores. */
  def defaultCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "*")

  def local(appName: String = "graft", cpus: String = defaultCpus): SparkSession = {
    val spark = builder(appName, s"local[$cpus]",
      shufflePartitions = if (cpus == "*") Runtime.getRuntime.availableProcessors() else cpus.toInt)
      // local catalog tables (bucketed layouts) land in tmp, not cwd;
      // per-process path so concurrent JVMs can't clobber each other
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse-${ProcessHandle.current().pid()}")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Base builder with the engine's standard conf; master left to caller
    * for cluster deployment. */
  def builder(appName: String, master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .master(master)
      // canonical engine registration: graft_dot + TopKPerKey planner
      // strategy ride every session built here (library entry points
      // also self-register, so sessions built elsewhere still work)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      // driver testdata `events.ts` is parquet TIMESTAMP(NANOS): read as
      // epoch-nanos LongType (Spark has no nanos timestamp)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // engine-altitude guard for the whole class of bug behind the
      // round-9 bench timeout: for a non-outer explode over a COMPUTED
      // array, InferFiltersFromGenerate adds size(arr)>0 and pushes it
      // into the scan — the entire generator expression (gram digests,
      // shingle builds) evaluated a second time at file-split
      // parallelism. The hot sites also use explode_outer+isNotNull
      // (graft.engine.Cpu.explodeComputed) so they stay safe on
      // sessions built elsewhere; this exclusion protects every future
      // site on engine sessions. What the rule buys — pruning rows
      // with empty arrays before the generate — is a trivial win only
      // for STORED array columns, which our plans explode rarely.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      // StreamingQuery.stop() default (stopTimeout=0) JOINS the
      // micro-batch thread FOREVER; a wedged stream would then hang
      // whoever calls stop() — including the bench watchdog's grace
      // loop, reproducing the very no-metric-line failure it
      // prevents. 2 s bounds each stop attempt (stop() throws a
      // TimeoutException, which callers treat as "not yet dead").
      .config("spark.sql.streaming.stopTimeout", "2000")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.files.maxPartitionBytes", (128L * 1024 * 1024).toString)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      // compile each generated class once per JVM (see the object doc)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.ui.enabled", "false")
}
