package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
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
  *    ([[CodegenCacheEntries]]).
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
    * Spark's own logging is initialised first, since its first use
    * replaces the log4j configuration. */
  private lazy val quietLoggers: Unit = {
    SparkLogging.init()
    Seq("org.apache.spark.sql.execution.window.WindowExec",
      "org.apache.spark.rdd.MapPartitionsRDD")
      .foreach(Configurator.setLevel(_, Level.ERROR))
  }

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
      // task by the threshold, not by table size); the threshold is
      // env-tunable for clusters with tighter task memory, and the
      // static-planner preference itself is env-gated too (round 21,
      // ADVICE r20): a deployment whose catalyst size estimates
      // mis-predict a build side can revert to sort-merge without a
      // rebuild via SPARK_GRAFT_PREFER_SMJ=true.
      .config("spark.sql.join.preferSortMergeJoin",
        sys.env.getOrElse("SPARK_GRAFT_PREFER_SMJ", "false"))
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        sys.env.getOrElse("SPARK_GRAFT_SHJ_LOCAL_MAP", "64m"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // wide aggregates (e.g. SimHash's 64 bit-sum columns) must stay in
      // whole-stage codegen; the default cutoff is 100 fields
      .config("spark.sql.codegen.maxFields", "220")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
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
