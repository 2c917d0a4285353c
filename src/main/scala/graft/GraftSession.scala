package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.{Filter, LoggerContext}
import org.apache.logging.log4j.core.config.{Configurator, LoggerConfig}
import org.apache.logging.log4j.core.filter.StringMatchFilter
import org.apache.spark.internal.Logging
import org.apache.spark.sql.SparkSession

/** Canonical session factory for the engine.
  *
  * Centralizes the configs every graft session needs (SURVEY.md §7.1):
  *  - `spark.sql.legacy.parquet.nanosAsLong=true`: the driver corpus's
  *    `events.ts` is parquet INT64 TIMESTAMP(NANOS); Spark 4.x refuses it
  *    otherwise. With the flag, `ts` loads as an epoch-nanoseconds Long.
  *  - UTC session timezone (oracle parity with DuckDB).
  *  - shuffle partitions sized to local cores, not the 200 default —
  *    on a real cluster this would be tuned to ~2-3× total cores via AQE.
  *  - AQE on: runtime shuffle coalescing + skew-join splitting is the
  *    100 TB-scale answer to skewed group/join keys.
  *  - a generated-class cache that holds the engine's working set
  *    ([[CodegenCacheEntries]]), shared by every session of the JVM
  *    ([[ArtifactIsolation]]).
  *  - a `file:` filesystem that forks no process per call
  *    ([[graft.io.GraftRawLocalFileSystem]]). Hadoop caches one
  *    `FileSystem` per scheme and user, whatever the conf, so these confs
  *    take effect only when a session built here is the first to resolve
  *    `file:` in the JVM.
  *  - a Hadoop conf without per-key provenance
  *    ([[graft.io.HadoopConfPlugin]], set as `spark.plugins`), so that the
  *    conf every file-write task carries is not a gzip stream per key.
  */
object GraftSession {
  val Cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** Size of Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100). The engine
    * runs in one long-lived JVM that re-runs the same plan shapes: every
    * micro-batch is re-planned, the nightly flow re-runs its tables, the
    * registry its queries. The cache is LRU, so one smaller than that
    * cyclic working set evicts each class before its next use and
    * recompiles it.
    *
    * Measured on the benchmark's generated registry tables at
    * `local[4]`: a full warm registry pass uses 4,278 distinct classes.
    * Compiles per warm pass fell from 6,496 at the default to 159, and
    * per cold pass from 7,046 to 4,514. The cached classes cost about
    * 7.6 KB of Metaspace each (235 MB after a warm pass, 200 MB at the
    * default), so a full cache holds about 125 MB. 16,384 is the
    * smallest power of two above that set and above the 8,729 classes a
    * warm pass recompiled at sf0.1, with room for the streaming and
    * nightly shapes and for the cache's independently evicting
    * segments.
    *
    * The conf is static and read once per JVM, when `CodeGenerator` is
    * first used, so it must be on the builder that creates the first
    * session; every entry point builds through [[builder]]. */
  val CodegenCacheEntries: Int = 16384

  /** `spark.sql.artifact.isolation.enabled`, off (Spark's default is
    * on). Spark keys its generated-class cache on the task's context
    * classloader as well as the source. With isolation on, every
    * `SparkSession` gets its own executor classloader, and that includes
    * the clone `StreamExecution` makes for each streaming query. So
    * every query start, every new session and every stream restarted
    * from its checkpoint recompiled classes the JVM already held, on the
    * critical path of its first batch. Off, the session's
    * `ArtifactManager` has no job artifact state, so executor tasks run
    * on the default session's classloader, and every graft session and
    * streaming clone shares one cache of [[CodegenCacheEntries]].
    *
    * Isolation only serves per-session jars and artifacts (Spark Connect
    * clients, `addArtifact`); graft adds none and serves no Connect
    * clients. It also pinned each dead session's loader: a cached
    * `GeneratedClass` holds its parent loader strongly, so those loaders
    * lived in the cache until eviction.
    *
    * Measured on `iiot_backfill` (`local[4]`): a traced drain's
    * compiles fell from 31 to 0. The conf is read when a session is
    * created, so it sits on the [[builder]] with the cache size. */
  val ArtifactIsolation: Boolean = false

  /** Loggers raised to ERROR: each warns, per occurrence, of a
    * condition a spec already gates, and together they filled the
    * log.
    *  - `WindowExec` "No Partition Defined for Window operation":
    *    `PlanDisciplineSpec` fails any registry query that plans an
    *    unpartitioned window on a frame not proven bounded.
    *  - `MapPartitionsRDD` "was locally checkpointed ... cannot be
    *    recomputed after unpersisting", logged when state is cleared
    *    between queries: `GraftSessionSpec` checks that a query rebuilt
    *    after its checkpoints are unpersisted returns the same rows.
    *  - `FileStreamSink` "Assume no metadata directory", logged with a
    *    stack trace by every glob read of a sink's files: `PipelineSpec`
    *    checks that a read of a streaming file sink's directory still
    *    honours its `_spark_metadata` log.
    * Three further messages are dropped by text, each from a logger
    * whose other messages stay ([[QuietMessages]]).
    * Spark's own logging is initialised first, since its first use
    * replaces the log4j configuration. */
  private lazy val quietLoggers: Unit = {
    SparkLogging.init()
    Seq("org.apache.spark.sql.execution.window.WindowExec",
      "org.apache.spark.rdd.MapPartitionsRDD",
      "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink")
      .foreach(Configurator.setLevel(_, Level.ERROR))
    val ctx = LoggerContext.getContext(false)
    val config = ctx.getConfiguration
    QuietMessages.foreach { case (logger, text) =>
      val lc = config.getLoggerConfig(logger) match {
        case own if own.getName == logger => own
        case _ =>
          // no level of its own: it follows its ancestors' level
          val lc = new LoggerConfig(logger, null, true)
          config.addLogger(logger, lc)
          lc
      }
      lc.addFilter(StringMatchFilter.newBuilder().setMatchString(text)
        .setOnMatch(Filter.Result.DENY).setOnMismatch(Filter.Result.NEUTRAL).build())
    }
    ctx.updateLoggers()
  }

  /** Messages dropped by text. Every streaming query start logs the
    * first warning, and every stateful one the second, because every
    * graft session turns AQE on for its batch queries and Spark turns it
    * off for streams. They said nothing a run can act on (10 and 5 lines
    * per benchmark backfill, 71 and 32 per test run).
    * The third is an ERROR with a second stack trace for a query that
    * already failed: once a session has used `Dataset.observe` (as
    * `NightlyEtl.runTable` does), Spark's `ObservationManager` listener,
    * an object named `Listener`, re-reads the failed plan and rethrows
    * its error for every query that fails in planning. Other listeners'
    * errors and the loggers' other messages still get through
    * (`GraftSessionSpec`). */
  val QuietMessages: Seq[(String, String)] = Seq(
    "org.apache.spark.sql.execution.streaming.runtime.ResolveWriteToStream" ->
      "spark.sql.adaptive.enabled is not supported in streaming DataFrames/Datasets",
    "org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution" ->
      "Disabling AQE since AQE is not supported in stateful workloads",
    "org.apache.spark.sql.util.ExecutionListenerBus" ->
      "Listener Listener threw an exception")

  private object SparkLogging extends Logging {
    def init(): Unit = { log; () }
  }

  def builder(appName: String = "graft"): SparkSession.Builder = {
    quietLoggers
    SparkSession
      .builder()
      .appName(appName)
      .config("spark.sql.shuffle.partitions", Cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // Round-20 join-strategy baseline (optimization guide §3.1/§9):
      // prefer shuffled-hash over sort-merge when the planner's size
      // conditions allow (skips the per-partition sorts), and let AQE
      // rewrite a planned sort-merge to shuffled-hash at runtime when
      // every post-shuffle partition fits the local-map threshold.
      // Measured at sf0.1 (min-of-2 same-session A/B): +4..+26% on the
      // exact-join/dedup family, +22% waiting_suppliers, +12%
      // big_orders, no repeatable regression. Both knobs are
      // scale-safe production settings (the hash map is bounded per
      // task by the threshold, not by table size). Both are runtime SQL
      // confs: a deployment whose catalyst size estimates mis-predict a
      // build side, or whose tasks have tighter memory, sets them with
      // `spark.conf.set`.
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // wide aggregates (e.g. SimHash's 64 bit-sum columns) must stay in
      // whole-stage codegen; the default cutoff is 100 fields
      .config("spark.sql.codegen.maxFields", "220")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.artifact.isolation.enabled", ArtifactIsolation.toString)
      .config("spark.hadoop.fs.file.impl", classOf[graft.io.GraftLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[graft.io.GraftLocalFs].getName)
      .config("spark.plugins", classOf[graft.io.HadoopConfPlugin].getName)
      // engine optimizer rules (top-1-per-key window → max_by rewrite)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // session-catalog tables (bucketed writes) land in tmp, not cwd
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft-warehouse")
      .config("spark.ui.enabled", "false")
  }

  /** Local session for mains/tests; master honored only if not set. */
  def local(appName: String = "graft"): SparkSession = {
    val s = builder(appName).master(s"local[$Cpus]").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
