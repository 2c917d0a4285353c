package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Training-data-pipeline extension queries (SURVEY §7.5) over the
  * `documents` / `embeddings` corpus tables and the snapshot lake, one
  * family object per file.
  *
  * Every entry here is DuckDB-oracled: the dedup/ANN hash family is
  * md5-derived (see Dedup.md5Hash60) precisely so MinHash, SimHash,
  * connected components and sign-LSH replicate bit-for-bit in the
  * oracle engine. ScalaTest specs additionally gate the semantic
  * properties (recall, determinism, convergence).
  */
object ExtQueries {

  val all: Seq[Query] =
    TextQueries.all ++ DedupQueries.all ++ LakeQueries.all ++ RetrievalQueries.all ++
      VectorQueries.all ++ MultimodalQueries.all ++ TokenizerQueries.all ++
      GraphQueries.all ++ EvalQueries.all

  val queries: Map[String, (SparkSession, String) => DataFrame] = Query.builds(all)
  val oracleSql: Map[String, String] = Query.oracles(all)
}
