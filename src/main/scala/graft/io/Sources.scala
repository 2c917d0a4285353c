package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.ops.Ingest
import org.apache.spark.sql.functions._

/** Pluggable sources (SURVEY §2 A1-A2, §7.1).
  *
  * The environment has no Kafka/JDBC driver jars (zero-egress), so
  * external endpoints live behind this trait: local implementations are
  * file/memory-based; broker/DB adapters are thin config swaps that
  * reuse the same decode path. The *shape* is the contract: a Source
  * yields the decoded sensor-message frame
  * (timestamp, machine_id, sensor_type, value [, event_time]).
  */
trait Source {
  /** Batch read. */
  def read(spark: SparkSession): DataFrame
  /** Streaming read (Structured Streaming). */
  def readStream(spark: SparkSession): DataFrame
  /** Connectivity preflight for orchestration (L1). */
  def probe(spark: SparkSession): Boolean
}

/** JSON-lines directory — the offline stand-in for the Kafka topic
  * (A1): each file is a batch of envelope strings; the stream tails the
  * directory. Decode = the lenient D1 path. */
final case class JsonDirSource(path: String) extends Source {

  def read(spark: SparkSession): DataFrame =
    Ingest.decode(
      spark.read.text(path).withColumnRenamed("value", "raw"), col("raw"))

  def readStream(spark: SparkSession): DataFrame =
    Ingest.decode(
      spark.readStream.text(path).withColumnRenamed("value", "raw"), col("raw"))

  def probe(spark: SparkSession): Boolean =
    new java.io.File(path).exists()
}

/** Parquet table source — the offline stand-in for the JDBC extract
  * (A2). The real JDBC adapter would add partitionColumn/lower/upper/
  * numPartitions for parallel extract (the reference's single-partition
  * read is its main scalability defect — SURVEY §4.1). */
final case class ParquetSource(path: String) extends Source {
  def read(spark: SparkSession): DataFrame = spark.read.parquet(path)

  def readStream(spark: SparkSession): DataFrame =
    spark.readStream
      .schema(read(spark).schema)
      .parquet(path)

  /** A file-system check that launches no Spark job: true when `path`,
    * which may be a glob over a sink's batch directories, matches an
    * entry that Spark's file sources would read (not `_`- or
    * `.`-prefixed). Inferring the schema here, as [[read]] does, would
    * run one footer job per probe. */
  def probe(spark: SparkSession): Boolean = scala.util.Try {
    val p = new Path(path)
    Option(p.getFileSystem(PlanBridge.sessionHadoopConf(spark)).globStatus(p))
      .exists(_.exists { st =>
        val name = st.getPath.getName
        !name.startsWith("_") && !name.startsWith(".")
      })
  }.getOrElse(false)
}
