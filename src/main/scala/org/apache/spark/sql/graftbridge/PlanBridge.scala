package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.storage.StorageLevel

/** Bridge to the `private[sql]` Dataset constructor — required to wrap
  * a custom LogicalPlan node (e.g. graft's grouped top-k) back into the
  * public DataFrame API. Same pattern as [[ColumnBridge]]. */
object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The session's Hadoop configuration — `sessionState.newHadoopConf()`
    * (base `spark.hadoop.*` plus per-session SQL-conf overrides), which
    * is `private[sql]`. Catalog/connector code needs THIS conf to reach
    * a warehouse FileSystem the way Spark's own file sources do. */
  def sessionHadoopConf(spark: SparkSession)
      : org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.newHadoopConf()

  /** [[sessionHadoopConf]] of the active session, else of the default
    * one (threads that never set an active session: listener callbacks,
    * custom pools driving table resolution); an empty conf only when no
    * session exists. */
  def activeHadoopConf(): org.apache.hadoop.conf.Configuration =
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .map(sessionHadoopConf)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  /** Truncate a DataFrame's logical plan at a persisted-RDD boundary
    * WITHOUT the InternalRow→Row→InternalRow round-trip of
    * `df.rdd` + `createDataFrame`: the physical plan's UnsafeRows are
    * copied (scans reuse row buffers, so persisting the raw iterator
    * would alias one mutable buffer) and cached in their compact binary
    * form. Used by iterative algorithms (Dedup.dedupGroupsDF) whose
    * per-round plan would otherwise double in size each iteration.
    *
    * @return the re-rooted frame plus the persisted RDD (caller owns
    *         the unpersist)
    */
  def rerootPersisted(df: DataFrame): (DataFrame, RDD[InternalRow]) = {
    val rdd = df.queryExecution.toRdd.map(_.copy())
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cs = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    (cs.internalCreateDataFrame(rdd, df.schema), rdd)
  }
}
