package graft.stream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.{Contamination, CorpusPipeline, Dedup, QualityFilter, Sampling}

/** Streaming incremental curation — the day-N increment driven as a
  * STREAM against the persisted day-N−1 state tables, in
  * `foreachBatch` with the `Dedup.incrementalPairs` broadcast-probe
  * shape. Each micro-batch
  * runs the same stage algebra as
  * [[CorpusPipeline.buildIncrementalStages]] — quality → URL dedup →
  * exact-text dedup → near dedup → decontamination → mixture — and
  * then EXTENDS the state so the next micro-batch probes
  * base ∪ everything-arrived-so-far. Output is a change stream:
  * (op = keep, doc_id) for curated survivors and (op = retract,
  * doc_id) for previously-published survivors a later micro-batch
  * invalidates (a cross-boundary near-dup group merge dethroning a
  * canonical; a new eval shingle pushing a train doc over the
  * contamination line). Folding the change stream over the day-N−1
  * survivor set yields EXACTLY `buildIncrementalStages(docs, st)
  * .packed`'s id set regardless of micro-batch boundaries —
  * `IncCurateSpec` asserts that equality for one and three batches.
  *
  * Arrival-order contract (as for the near-dup stream): batches must
  * arrive in ascending doc_id order across micro-batches (within a
  * batch any order — the stages are set algebra). Keep-first-arrival
  * then coincides with the batch path's keep-min-id, which is what
  * makes the fold order-insensitive.
  *
  * 100 TB shape: identical to the batch capstone's — state tables
  * never shuffle (the batch side broadcasts against them), per-batch
  * work is batch-sized, and state growth per batch is key/signature/
  * tally-sized, never text. Retractions make the published survivor
  * set eventually consistent with the full recompute — the standard
  * IVM trade.
  *
  * Documented non-chased cascade (the batch capstone's own IVM
  * fallback, CorpusPipeline.buildIncremental): if a later batch
  * dethrones an EVAL-shard doc that already contributed eval shingles
  * (a cross-boundary near-dup merge of an eval canonical), those
  * shingles are not retracted from the eval state, so a train doc
  * they contaminated stays retracted where the full recompute would
  * keep it. The batch path's full-recompute oracle (and
  * `IncCurateSpec`'s equality assert) fail loudly if a corpus ever trips it — none of
  * the driver corpora do (eval membership is id-hash-sharded;
  * dethroning requires a later-id near-dup BRIDGE to a smaller
  * canonical, which the plant families never aim at eval docs).
  */
object IncCurate {

  /** Mutable curation state. Seeded from a [[CorpusPipeline.PriorState]]
    * (the persisted day-N−1 tables); every table is re-checkpointed
    * after each batch extension so lineage stays flat. */
  final class State(
      var urlKeys: DataFrame, // (canon)
      var textKeys: DataFrame, // (tk)
      var sigs: DataFrame, // (doc, sig) — base ∪ all arrived post-exact
      var groups: DataFrame, // (node, group) near-dup canonical mapping
      var evalSh: DataFrame, // (sh)
      var shIndex: DataFrame, // (doc, sh) train inverted index
      var tallies: DataFrame) // (doc, n_sh, n_c)

  def seed(st: CorpusPipeline.PriorState): State =
    new State(st.urlKeys, st.textKeys, st.sigs, st.groups, st.evalSh,
      st.shIndex, st.contamCounts)

  /** Process one micro-batch of increment docs (doc_id, text, source):
    * returns the change frame (op, doc_id) and extends `state`. */
  def processBatch(batch: DataFrame, state: State): DataFrame = {
    val ck = (df: DataFrame) => df.localCheckpoint(true)

    // 1. quality (map-side, per-doc — stateless).
    val i1c = ck(batch.filter(QualityFilter.keep(col("text")))
      .withColumn("__canon", CorpusPipeline.pageCanon))

    // 2. URL dedup: keep-first within the batch (min doc_id — arrival
    // order is ascending by contract) + the state probe.
    val urlKeep = i1c.groupBy(col("__canon"))
      .agg(min(col("doc_id")).as("doc_id"))
    val urlHits = state.urlKeys.join(
      broadcast(i1c.select(col("__canon").as("canon")).distinct()),
      Seq("canon"), "left_semi")
    val i2 = ck(i1c
      .join(broadcast(urlKeep.select(col("doc_id"))), Seq("doc_id"),
        "left_semi")
      .join(broadcast(urlHits.select(col("canon").as("__canon"))),
        Seq("__canon"), "left_anti")
      .drop("__canon"))
    state.urlKeys = ck(state.urlKeys.unionByName(
      i1c.select(col("__canon").as("canon")).distinct()).distinct())

    // 3. exact-text dedup: same shape on the md5 text key.
    val i2k = ck(i2.withColumn("__tk", md5(lower(trim(col("text"))))))
    val tkKeep = i2k.groupBy(col("__tk")).agg(min(col("doc_id")).as("doc_id"))
    val tkHits = state.textKeys.join(
      broadcast(i2k.select(col("__tk").as("tk")).distinct()),
      Seq("tk"), "left_semi")
    val i3 = ck(i2k
      .join(broadcast(tkKeep.select(col("doc_id"))), Seq("doc_id"),
        "left_semi")
      .join(broadcast(tkHits.select(col("tk").as("__tk"))), Seq("__tk"),
        "left_anti")
      .drop("__tk"))
    state.textKeys = ck(state.textKeys.unionByName(
      i2k.select(col("__tk").as("tk")).distinct()).distinct())

    // 4. near dedup: within-batch pairs + the cross probe against the
    // signature state (base ∪ prior batches), cross endpoints mapped
    // to their CURRENT canonicals, one batch-scale CC. A component
    // whose canonical changes dethrones previously-published
    // survivors → retractions (the batch path's baseDrops, generalized
    // to prior-batch increment canonicals).
    val bSigs = ck(Dedup.minhashSignatures(i3, col("doc_id"), col("text")))
    val within = Dedup.pairsFromSignatures(bSigs, 0.5)
    val cross = Dedup.incrementalPairs(state.sigs, bSigs, 0.5)
    val canonMap = state.groups.join(
      broadcast(cross.select(col("corpus_doc").as("node")).distinct()),
      Seq("node"), "left_semi")
    val crossEdges = cross
      .join(broadcast(canonMap), cross("corpus_doc") === canonMap("node"),
        "left")
      .select(col("batch_doc").as("doc_a"),
        coalesce(col("group"), col("corpus_doc")).as("doc_b"))
    val cc = ck(Dedup.dedupGroups(
      within.select(col("doc_a"), col("doc_b")).unionByName(crossEdges),
      col("doc_a"), col("doc_b")))
    val batchIds = i3.select(col("doc_id").as("node"))
    val batchLosers = cc.filter(col("node") =!= col("group"))
      .join(batchIds, Seq("node"), "left_semi")
      .select(col("node").as("doc_id"))
    // Previously-retained canonicals (base or prior-batch) losing to a
    // smaller canonical — retract them from the published set.
    val mergeRetracts = cc.filter(col("node") =!= col("group"))
      .join(batchIds, Seq("node"), "left_anti")
      .select(col("node").as("doc_id"))
    val i4 = ck(i3.join(broadcast(batchLosers), Seq("doc_id"), "left_anti"))
    // groups: remap state canonicals swallowed by a merge, then add
    // every newly-seen node (batch docs and bare base docs alike).
    val remap = cc.select(col("node").as("g0"), col("group").as("g1"))
    val remappedState = state.groups
      .join(broadcast(remap), state.groups("group") === col("g0"), "left")
      .select(col("node"), coalesce(col("g1"), col("group")).as("group"))
    val newNodes = cc.join(state.groups.select(col("node")), Seq("node"),
      "left_anti")
    state.groups = ck(remappedState.unionByName(newNodes))
    state.sigs = ck(state.sigs.unionByName(bSigs))

    // 5. decontamination: batch eval-shard docs extend the eval set;
    // batch train docs test against state ∪ new; NEW eval shingles
    // retro-test every retained train doc's tally (base and prior
    // batches) — crossing the 5·n_c ≥ n_sh line retracts it.
    val rows = Contamination.shingleShardRows(i4, col("doc_id"), col("text"))
    val bEval = ck(rows.filter(col("shard") < 2).select(col("sh")).distinct())
    val bTrain = ck(rows.filter(col("shard") >= 2)
      .select(col("doc"), col("sh")).distinct())
    val evalHits = state.evalSh.unionByName(bEval)
      .join(broadcast(bTrain.select(col("sh")).distinct()), Seq("sh"),
        "left_semi")
      .distinct()
    val bTallies = ck(bTrain
      .join(broadcast(evalHits.withColumn("hit", lit(1L))), Seq("sh"), "left")
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_sh"),
        sum(coalesce(col("hit"), lit(0L))).as("n_c")))
    val contaminated = bTallies.filter(col("n_c") * 5 >= col("n_sh"))
      .select(col("doc").as("doc_id"))
    val i5 = i4.filter(Sampling.shard(col("doc_id"), 20) >= 2)
      .join(broadcast(contaminated), Seq("doc_id"), "left_anti")
    val newEval = ck(bEval.join(state.evalSh, Seq("sh"), "left_anti"))
    val newHits = state.shIndex
      .join(broadcast(newEval), Seq("sh"), "left_semi")
      .groupBy(col("doc")).agg(count(lit(1)).as("n_new"))
    val talliesUpd = ck(state.tallies
      .join(broadcast(newHits), Seq("doc"), "left")
      .select(col("doc"), col("n_sh"),
        (col("n_c") + coalesce(col("n_new"), lit(0L))).as("n_c"),
        coalesce(col("n_new"), lit(0L)).as("__new")))
    val retroRetracts = talliesUpd
      .filter(col("__new") > 0 && col("n_c") * 5 >= col("n_sh"))
      .select(col("doc").as("doc_id"))
    state.tallies = ck(talliesUpd.drop("__new").unionByName(bTallies))
    state.shIndex = ck(state.shIndex.unionByName(bTrain))
    state.evalSh = ck(state.evalSh.unionByName(bEval).distinct())

    // 6. mixture: per-doc keep test (permille is a per-source-name
    // formula, so per-batch weights equal the full-increment weights).
    val weights = i5.select(col("source")).distinct()
      .select(col("source").as("stratum"),
        ((substring(col("source"), 4, 10).cast("int") % 4 + 1) * 200)
          .as("permille"))
    val i6 = Sampling.mixtureSample(i5, col("doc_id"), col("source"), weights)

    i6.select(col("doc_id"), lit("keep").as("op"))
      .unionByName(mergeRetracts.unionByName(retroRetracts).distinct()
        .select(col("doc_id"), lit("retract").as("op")))
  }
}
