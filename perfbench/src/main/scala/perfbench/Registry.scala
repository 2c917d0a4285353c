package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** The analytics registry: a fixed slice of [[SparkEntry.queries]]
  * over generated star-schema and event tables. Each query is built,
  * planned and written in full to the `noop` sink, with cached and
  * persisted state cleared between queries. The seed draws the tables
  * and the query order. One query execution is one operation. */
final class Registry(ctx: Ctx) extends Workload {
  private val order: Seq[String] = new scala.util.Random(ctx.seed).shuffle(Registry.Slice)
  private var data = ""
  private var tableRows = Map.empty[String, Long]

  def generate(spark: SparkSession, round: Int): Unit = Spans("gen.tables") {
    data = ctx.dir(s"tables-$round")
    tableRows = RegistryData.write(spark, data, ctx.seed)
  }

  def warmUp(spark: SparkSession): Unit = { pass(spark, 0); () }

  private def pass(spark: SparkSession, n: Int): Seq[Registry.Timing] =
    order.map(q => Registry.time(spark, q, data, n.toString))

  def measure(spark: SparkSession): Map[String, Any] = {
    val budget = ctx.seconds * 1000.0
    val t0 = Clock.ms()
    val passes = mutable.ArrayBuffer[Seq[Registry.Timing]]()
    val walls = mutable.ArrayBuffer[Double]()
    while (passes.isEmpty || Clock.ms() - t0 < budget) {
      val p0 = Clock.ms()
      passes += pass(spark, passes.size + 1)
      walls += Clock.ms() - p0
    }
    Map(
      "pass_ms" -> walls.toSeq,
      "queries" -> passes.map(_.map(_.toMap)).toSeq,
      "layers" -> Map(
        "gen.rows" -> tableRows.values.sum.toDouble,
        "gen.files" -> tableRows.size.toDouble,
        "io.sink_ms" -> 0.0, "io.sink_calls" -> 0.0, "io.sink_files" -> 0.0,
        "io.sink_bytes" -> 0.0, "io.lake_files" -> 0.0, "io.lake_bytes" -> 0.0,
        "flow.raw_table_s" -> 0.0, "flow.agg_table_s" -> 0.0))
  }

  /** One pass at local[1]. */
  override def singleCore(spark: SparkSession): Map[String, Any] = {
    spark.stop()
    val one = ctx.session(1)
    val t0 = Clock.ms()
    pass(one, -1)
    val wall = Clock.ms() - t0
    one.stop()
    Map("pass_ms" -> wall)
  }

  /** Writes each query's output and its DuckDB SQL for the runner's
    * oracle comparison; the comparison itself is not timed. */
  def check(spark: SparkSession): Seq[Check] = {
    val out = ctx.dir("oracle")
    val checked = order.filter(SparkEntry.oracleSql.contains)
    checked.foreach(q => Registry.writeOutput(spark, q, data, out))
    Registry.writeSpec(out, data, tableRows, checked)
    order.map(q => Check(s"oracle_sql:$q", checked.contains(q), "oracle SQL present"))
  }
}

object Registry {
  /** The benchmark's slice of the registry, chosen by
    * `profile_registry.py` from a profile of every query that runs and
    * matches its oracle on the generated tables: within each family,
    * queries sorted by warm wall time, one from the middle of each of
    * k equal-count strata, k in proportion to the family's size; the
    * profile and the rule's steps are in REGISTRY_PROFILE.md. */
  val Slice: Seq[String] = Seq("holt_linear", "diff_in_diff", "bootstrap_ci", "late_lines",
    "lake_rename", "lang_id", "embed_drift", "domain_reweight", "textrank_keywords", "pivot_events")

  private val families: Seq[(String, Set[String])] = Seq(
    "parity" -> graft.queries.ParityQueries.queries.keySet,
    "bench" -> graft.queries.BenchQueries.queries.keySet,
    "ext" -> graft.queries.ExtQueries.queries.keySet,
    "analytics" -> graft.queries.AnalyticsQueries.queries.keySet)

  def family(q: String): String = families.collectFirst { case (f, qs) if qs(q) => f }.get

  final case class Timing(query: String, constructMs: Double, planMs: Double, executeMs: Double) {
    def toMap: Map[String, Any] = Map("query" -> query, "family" -> family(query),
      "construct_ms" -> constructMs, "plan_ms" -> planMs, "execute_ms" -> executeMs)
  }

  /** Builds, plans and runs one query to the `noop` sink after clearing
    * cached and persisted state. Its jobs carry a `perfbench.phase`
    * property naming pass, query and phase, for the traced run's job
    * counts. */
  def time(spark: SparkSession, q: String, data: String, pass: String): Timing = {
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    try Spans(s"queries.$q") {
      val t0 = Clock.ms()
      sc.setLocalProperty(TaskTally.Phase, s"$pass:$q:construct")
      val df = Spans("queries.construct")(SparkEntry.queries(q)(spark, data))
      val t1 = Clock.ms()
      sc.setLocalProperty(TaskTally.Phase, s"$pass:$q:plan")
      Spans("queries.plan")(df.queryExecution.executedPlan)
      val t2 = Clock.ms()
      sc.setLocalProperty(TaskTally.Phase, s"$pass:$q:execute")
      Spans("queries.execute")(df.write.format("noop").mode("overwrite").save())
      Timing(q, t1 - t0, t2 - t1, Clock.ms() - t2)
    } finally sc.setLocalProperty(TaskTally.Phase, null)
  }

  /** Writes one query's output under `out`, for `oracle.py`. */
  def writeOutput(spark: SparkSession, q: String, data: String, out: String): Unit = {
    spark.catalog.clearCache()
    SparkEntry.queries(q)(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$out/$q")
  }

  /** Writes `oracle.json` under `out`: the tables and the DuckDB SQL of
    * each query written there. */
  def writeSpec(out: String, data: String, tableRows: Map[String, Long], queries: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(out))
    Files.writeString(Paths.get(out, "oracle.json"), Json.render(Map(
      "tables" -> data, "names" -> tableRows.keys.toSeq.sorted,
      "sql" -> queries.map(q => q -> SparkEntry.oracleSql(q)).toMap)))
  }
}

/** One profile of the whole registry on the generated tables, for
  * choosing [[Registry.Slice]]; `profile_registry.py` runs it:
  *
  *   perfbench.RegistryProfile <work dir> <seed> <passes>
  *
  * Times every query as the workload does, `passes` times after one
  * unmeasured pass, and writes the output of each query that ran for
  * the DuckDB comparison. A query that throws is recorded with its
  * error and left out of the later passes. */
object RegistryProfile {
  def main(args: Array[String]): Unit = {
    val Array(work, seedS, passesS) = args
    val ctx = Ctx(work, seedS.toLong, 0, 4)
    val spark = ctx.session(4)
    val data = ctx.dir("tables")
    val tableRows = RegistryData.write(spark, data, ctx.seed)
    val errors = mutable.LinkedHashMap[String, String]()
    def pass(n: Int): Seq[Registry.Timing] =
      SparkEntry.queries.keys.toSeq.sorted.filterNot(errors.contains).flatMap { q =>
        scala.util.Try(Registry.time(spark, q, data, n.toString)) match {
          case scala.util.Success(t) => Some(t)
          case scala.util.Failure(e) =>
            errors(q) = String.valueOf(e.getMessage).linesIterator.take(1).mkString; None
        }
      }
    pass(0)
    val passes = (1 to passesS.toInt).map(pass)
    val out = ctx.dir("oracle")
    val written = passes.last.map(_.query).filter(SparkEntry.oracleSql.contains)
      .filter(q => scala.util.Try(Registry.writeOutput(spark, q, data, out)).isSuccess)
    Registry.writeSpec(out, data, tableRows, written)
    Files.writeString(Paths.get(work, "profile.json"), Json.render(Map(
      "queries" -> SparkEntry.queries.size,
      "errors" -> errors.toMap,
      "passes" -> passes.map(_.map(_.toMap)),
      "with_oracle_sql" -> written)))
    spark.stop()
  }
}

/** Seeded star-schema and event tables in the corpus's layout: one
  * parquet directory per table, `<name>.parquet`. Every column is a
  * hash of (seed, salt, row id), so the tables do not depend on how
  * Spark partitions the work. */
object RegistryData {
  val rows: Map[String, Long] = Map("region" -> 5L, "nation" -> 25L, "customer" -> 150L,
    "supplier" -> 10L, "part" -> 200L, "orders" -> 1500L, "events" -> 1000L,
    "documents" -> 500L, "embeddings" -> 500L)

  /** Writes the tables and returns their row counts. */
  def write(spark: SparkSession, dir: String, seed: Long): Map[String, Long] = {
    def u(salt: Int, id: Column = col("id")): Column =
      pmod(xxhash64(lit(seed), lit(salt), id), lit(1000003L)).cast("double") / 1000003.0
    def pick(salt: Int, values: Seq[String], id: Column = col("id")): Column =
      element_at(array(values.map(lit): _*), (floor(u(salt, id) * values.size) + 1).cast("int"))
    def int(salt: Int, n: Int, id: Column = col("id")): Column = floor(u(salt, id) * n).cast("int")
    def day(base: String, offset: Column): Column =
      date_add(lit(base).cast("date"), offset).cast("timestamp_ntz")
    def range(n: Long) = spark.range(0, n, 1, 1)
    val counts = mutable.LinkedHashMap[String, Long]()
    def save(name: String, df: DataFrame): Unit = {
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
      counts(name) = rows.getOrElse(name, spark.read.parquet(s"$dir/$name.parquet").count())
    }

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    save("region", range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(regions.map(lit): _*), (col("id") + 1).cast("int")).as("r_name")))
    save("nation", range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"), pmod(col("id"), lit(5)).cast("int").as("n_regionkey")))
    save("customer", range(rows("customer")).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"), int(1, 25).as("c_nationkey"),
      round(u(2) * 10999.98 - 999.99, 2).as("c_acctbal"),
      pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment")))
    save("supplier", range(rows("supplier")).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"), int(4, 25).as("s_nationkey"),
      round(u(5) * 9999.99, 2).as("s_acctbal")))
    save("part", range(rows("part")).select(col("id").as("p_partkey"),
      concat_ws(" ", pick(6, Seq("blue", "cold", "large", "small", "red", "smooth", "dark", "bright")),
        pick(7, Seq("anvil", "bolt", "widget", "gear", "spring", "valve", "panel", "sprocket"))).as("p_name"),
      concat(lit("Brand#"), int(8, 25) + 1).as("p_brand"),
      pick(9, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")).as("p_type"),
      (int(10, 50) + 1).as("p_size"),
      round(lit(900.0) + col("id") * 0.1, 1).as("p_retailprice")))
    val orders = range(rows("orders")).select(col("id").as("o_orderkey"),
      floor(u(11) * rows("customer")).cast("long").as("o_custkey"),
      pick(12, Seq("F", "O", "P")).as("o_orderstatus"),
      round(u(13) * 498000.0 + 1300.0, 2).as("o_totalprice"),
      day("1995-01-01", int(14, 2404)).as("o_orderdate"),
      pick(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))
    save("orders", orders)
    val line = col("l_orderkey") * 8 + col("l_linenumber")
    save("lineitem", orders.select(col("o_orderkey").as("l_orderkey"), col("o_orderdate"),
        explode(sequence(lit(1), int(16, 7, col("o_orderkey")) + 1)).as("l_linenumber"))
      .select(col("l_orderkey"),
        floor(u(17, line) * rows("part")).cast("long").as("l_partkey"),
        floor(u(18, line) * rows("supplier")).cast("long").as("l_suppkey"),
        col("l_linenumber"),
        (floor(u(19, line) * 50) + 1).cast("double").as("l_quantity"),
        round((floor(u(19, line) * 50) + 1) * (lit(900.0) + u(20, line) * 1200.0), 2).as("l_extendedprice"),
        (floor(u(21, line) * 11) / 100.0).as("l_discount"),
        (floor(u(22, line) * 9) / 100.0).as("l_tax"),
        pick(23, Seq("A", "N", "R"), line).as("l_returnflag"),
        pick(24, Seq("F", "O"), line).as("l_linestatus"),
        (col("o_orderdate") + make_interval(lit(0), lit(0), lit(0), (floor(u(25, line) * 121) + 1).cast("int")))
          .cast("timestamp_ntz").as("l_shipdate")))
    val span = 30L * 86400L * 1000000L / rows("events")
    save("events", range(rows("events")).select(col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * span + floor(u(26) * span).cast("long"))
        .cast("timestamp_ntz").as("ts"),
      floor(u(27) * 15).cast("long").as("user_id"),
      pick(28, Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
      round(-log(lit(1.0) - u(29)) * 50.0, 2).as("value"),
      concat(lit("{\"k\": "), int(30, 100), lit("}")).as("props")))
    // Text over a small engineering vocabulary; every 25th document
    // repeats the one before it, for the dedup queries.
    val words = Seq("scan", "column", "window", "order", "sort", "part", "agg", "value", "line",
      "key", "join", "merge", "query", "group", "a", "vector", "hash", "slow", "stream", "filter",
      "fast", "the", "spark", "batch", "table", "small", "data", "big", "customer", "row")
    val textOf = pmod(col("id"), lit(25)) === 24
    val src = when(textOf, col("id") - 1).otherwise(col("id"))
    save("documents", range(rows("documents")).select(col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(1), int(31, 93, src) + 8),
          i => pick(32, words, src * 1000 + i))).as("text"),
        pick(33, Seq("en", "en", "en", "de", "es", "fr", "zh")).as("lang"),
        concat(lit("src"), pmod(col("id"), lit(20))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))
    // Unit vectors of 64 floats, labels 0 to 9.
    val raw = transform(sequence(lit(1), lit(64)),
      i => u(34, col("id") * 100 + i) + u(35, col("id") * 100 + i) - 1.0)
    save("embeddings", range(rows("embeddings")).select(col("id").as("vec_id"), raw.as("v"),
        int(36, 10).as("label"))
      .select(col("vec_id"),
        transform(col("v"), x => (x / sqrt(aggregate(col("v"), lit(0.0), (a, y) => a + y * y)))
          .cast("float")).as("embedding"),
        col("label")))
    counts.toMap
  }
}
