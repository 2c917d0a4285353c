package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Analytics and corpus-governance queries, one family object per file:
  * time series, statistical tests, privacy/governance, profiling and
  * sketches, and business analytics over the TPC-H and `events` tables.
  *
  * Cross-engine conventions are SparkEntry's: epoch-micros integer time
  * math, decimal-exact money sums, integer-encoded series for exact
  * sufficient statistics, 4-8 dp rounding on any float that survived a
  * division.
  */
object AnalyticsQueries {

  val all: Seq[Query] =
    TimeSeriesQueries.all ++ StatTestQueries.all ++ GovernanceQueries.all ++
      ProfilingQueries.all ++ BusinessQueries.all

  val queries: Map[String, (SparkSession, String) => DataFrame] = Query.builds(all)
  val oracleSql: Map[String, String] = Query.oracles(all)
}
