package graft.stream

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}
import graft.ext.CorpusPipeline

/** The gate for [[IncCurate]]'s streaming contract: the day-N
  * increment processed as explicit ascending-id micro-batches against
  * the persisted day-N−1 state must fold — keeps minus retractions
  * over the day-N−1 survivors — to exactly the batch capstone's packed
  * id set, for MORE THAN ONE batch split (boundaries must not matter).
  */
class IncCurateSpec extends SparkSpec with graft.LowStatePartitions {

  test("multi-batch change-stream fold equals the batch capstone's packed ids") {
    val docs = Tables.documents(spark, sf)
    val prior = CorpusPipeline.priorState(docs)
    val inc = CorpusPipeline.dayNIncrement(docs, prior).localCheckpoint(true)
    val batchIds = CorpusPipeline.buildIncrementalStages(docs, prior)
      .packed.select("doc_id").collect().map(_.getLong(0)).toSet
    val ids = inc.select("doc_id").orderBy("doc_id").collect()
      .map(_.getLong(0))
    assert(ids.nonEmpty)
    for (nBatches <- Seq(1, 3)) {
      val state = IncCurate.seed(prior)
      val bounds = (1 until nBatches)
        .map(i => ids(i * ids.length / nBatches)) :+ Long.MaxValue
      var lo = Long.MinValue
      val keeps = scala.collection.mutable.Set.empty[Long]
      val retracts = scala.collection.mutable.Set.empty[Long]
      bounds.foreach { hi =>
        val b = inc.filter(col("doc_id") >= lo && col("doc_id") < hi)
        val ch = IncCurate.processBatch(b, state)
          .collect().map(r => (r.getLong(0), r.getString(1)))
        keeps ++= ch.collect { case (id, "keep") => id }
        retracts ++= ch.collect { case (id, "retract") => id }
        lo = hi
      }
      val survivors0 = prior.survivors.select("doc_id").collect()
        .map(_.getLong(0)).toSet
      val streamed = (survivors0 ++ keeps) -- retracts
      assert(streamed === batchIds,
        s"nBatches=$nBatches: stream-only=${(streamed -- batchIds).take(5)} " +
          s"batch-only=${(batchIds -- streamed).take(5)}")
      assert(keeps.nonEmpty)
    }
  }
}
