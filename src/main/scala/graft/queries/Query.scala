package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry query: the Spark plan [[graft.SparkEntry]] runs and the
  * DuckDB SQL its output must hash-match, declared together. Each query
  * is one `Query` in its family object's `all`; the module objects
  * derive `SparkEntry`'s `queries` and `oracleSql` maps from those
  * lists. */
final case class Query(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracleSql: String)

object Query {

  def builds(qs: Seq[Query]): Map[String, (SparkSession, String) => DataFrame] =
    byName(qs).map { case (n, q) => n -> q.build }

  def oracles(qs: Seq[Query]): Map[String, String] =
    byName(qs).map { case (n, q) => n -> q.oracleSql }

  /** Name → query. A repeated name throws: a `Map` built from pairs
    * would keep the last declaration and drop the other silently. */
  private def byName(qs: Seq[Query]): Map[String, Query] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty,
      s"registry query declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    qs.map(q => q.name -> q).toMap
  }
}
