package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver test corpus (TESTDATA.md / FIXTURES.md §B).
  *
  * All tables are single parquet files per scale factor. At 100 TB these
  * would be directory-partitioned (date-bucketed for the fact tables);
  * the loaders stay the same — `spark.read.parquet` prunes partitions and
  * pushes filters/projections down regardless (Catalyst
  * `PruneFileSourcePartitions` / `V2ScanRelationPushDown`).
  */
object Tables {
  def read(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = read(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = read(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = read(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = read(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = read(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = read(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = read(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = read(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = read(s, d, "embeddings")

  /** `events` with `ts` normalized to epoch-nanos Long.
    *
    * The driver corpus has shipped `ts` two ways across rounds:
    * TIMESTAMP(NANOS) — which `spark.sql.legacy.parquet.nanosAsLong=true`
    * (set by [[GraftSession]]) surfaces as a raw nanos Long — and
    * TIMESTAMP(MICROS), which Spark reads as TIMESTAMP_NTZ. Both are
    * normalized here to the same epoch-nanos Long so every consumer keeps
    * the single `ts div 1000` micros convention ([[tsUs]]). The NTZ→LTZ
    * cast is an identity reinterpretation under the UTC session timezone
    * (GraftSession pins it), matching DuckDB's `epoch_us(ts)` on the same
    * file. Map-side projection — no effect on pushdown of other columns.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = read(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => raw
      case _ =>
        // Identity only under UTC: with any other session timezone the
        // NTZ→LTZ cast SHIFTS every instant by the local offset and
        // silently corrupts all downstream epoch math — fail loudly
        // instead (sessions built via GraftSession always pass).
        val tz = s.conf.get("spark.sql.session.timeZone")
        require(tz == "UTC",
          s"Tables.events requires spark.sql.session.timeZone=UTC (found " +
            s"'$tz'): the TIMESTAMP(MICROS) normalization reinterprets " +
            "NTZ as instants and is only offset-free under UTC")
        raw.withColumn(
          "ts",
          unix_micros(col("ts").cast(org.apache.spark.sql.types.TimestampType)) * 1000L)
    }
  }

  /** Epoch-microseconds projection of the nanos `ts` column.
    *
    * Cross-engine time convention (SURVEY §7.1): DuckDB reads the same
    * column at microsecond precision (`epoch_us(ts)`), so every oracle
    * comparison happens on epoch-micros integer math. `div` is exact long
    * division — never `/` (double) on epoch values: 1.7e18 is above 2^53.
    */
  val tsUs: Column = expr("ts div 1000")

  val MicrosPerSecond: Long = 1000000L
  val MicrosPerMinute: Long = 60L * MicrosPerSecond
  val MicrosPerDay: Long    = 86400L * MicrosPerSecond
}
