package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry invariants — keeps SparkEntry, the oracle map, and the
  * SURVEY §2/§8 coverage documentation from drifting apart (they are
  * otherwise synchronized by hand across ~95 entries).
  *
  * If a registry key is renamed, the literal gate lists here fail
  * loudly instead of a §2 gate silently losing its query.
  */
class RegistrySpec extends AnyFunSuite {

  /** The §2-mapped gate queries from the coverage map (VERDICT/SURVEY
    * §8): each reference capability's correctness rides one of these
    * names. A rename here must be a conscious, documented act. */
  private val Section2Gates = Seq(
    "tumbling_agg", "sliding_agg", "sql_tumbling_agg", "sensor_stats",
    "passthrough_project", "iso_roundtrip", "datepart_derive",
    "json_extract", "dim_join", "latest_per_key", "window_running",
    "rank_suite", "range_avg", "topk_latest", "grouped_topk",
    "lateral_topk", "set_ops", "retention_filter", "sessionize")

  /** Non-SQL-expressible sketch queries: registered rows-only BY
    * DESIGN; every other query must carry an oracle. Round 9 converted
    * approx_distinct / approx_quantiles / hll_daily_union to
    * error-bound-boolean form (exact columns + TRUE-asserted bound
    * cells); round 16 converted the last holdout, heavy_hitters, to
    * its GUARANTEED-SET form (the Misra–Gries retained set is
    * admission-order-dependent, but the guarantees are not: the query
    * now emits exact counts of tokens above the n/k threshold plus
    * TRUE-asserted guarantee cells). The set is empty — kept so a
    * future genuinely-unoracled sketch has a documented registration
    * point instead of an undocumented gap. */
  private val RowsOnlyByDesign = Set.empty[String]

  test("every §2 gate query exists in the registry with an oracle") {
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    val missingQ = Section2Gates.filterNot(qs.contains)
    val missingO = Section2Gates.filterNot(os.contains)
    assert(missingQ.isEmpty, s"§2 gate queries missing from registry: $missingQ")
    assert(missingO.isEmpty, s"§2 gate queries missing oracles: $missingO")
  }

  test("every oracle has a query, and every query an oracle or a rows-only reason") {
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    val orphanOracles = os.diff(qs)
    assert(orphanOracles.isEmpty, s"oracles without queries: $orphanOracles")
    val unoracled = qs.diff(os).diff(RowsOnlyByDesign)
    assert(unoracled.isEmpty,
      s"queries with neither oracle nor rows-only registration: $unoracled")
  }

  test("no duplicate names across the query modules") {
    import graft.queries._
    val maps = Seq(
      "ParityQueries" -> ParityQueries.queries.keySet,
      "BenchQueries" -> BenchQueries.queries.keySet,
      "ExtQueries" -> ExtQueries.queries.keySet,
      "AnalyticsQueries" -> AnalyticsQueries.queries.keySet)
    for {
      (an, a) <- maps; (bn, b) <- maps if an < bn
      dup = a.intersect(b)
    } assert(dup.isEmpty, s"$an and $bn both define: $dup")
  }

  private val modules = {
    import graft.queries._
    Seq(
      "ParityQueries" -> ParityQueries.all,
      "BenchQueries" -> BenchQueries.all,
      "ExtQueries" -> ExtQueries.all,
      "AnalyticsQueries" -> AnalyticsQueries.all)
  }

  test("the registry holds 264 queries and 264 oracles, each name declared once") {
    for ((m, qs) <- modules) {
      val twice = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
      assert(twice.isEmpty, s"$m declares more than once: $twice")
    }
    val declared = modules.flatMap(_._2.map(_.name))
    assert(declared.distinct.size == declared.size,
      s"declared in two modules: ${declared.diff(declared.distinct)}")
    assert(declared.size == 264)
    assert(SparkEntry.queries.size == 264)
    assert(SparkEntry.oracleSql.size == 264)
  }

  test("a repeated query name fails loudly instead of keeping the last") {
    val q = graft.queries.Query("q", (s, _) => s.emptyDataFrame, "SELECT 1")
    val e = intercept[IllegalArgumentException](graft.queries.Query.builds(Seq(q, q)))
    assert(e.getMessage.contains("q"))
  }

  test("README's registry counts match SparkEntry") {
    val src = scala.io.Source.fromFile("README.md", "UTF-8")
    val readme = try src.mkString finally src.close()
    val m = """\*\*(\d+) queries, (\d+) DuckDB-oracled\*\*""".r.findFirstMatchIn(readme)
    assert(m.isDefined, "README lost its registry counts")
    assert(m.get.group(1).toInt == SparkEntry.queries.size)
    assert(m.get.group(2).toInt == SparkEntry.oracleSql.size)
  }
}
