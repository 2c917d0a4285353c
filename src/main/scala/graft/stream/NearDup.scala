package graft.stream

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState,
  OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues,
  ValueState}

import graft.ext.{Dedup, TextOps}

/** Streaming MinHash near-dup dedup — the batch pipeline's defining
  * stage (`Dedup.minhashPairs` → drop the later member of each pair)
  * brought in-stream, so a near-duplicate arriving within the state
  * TTL of its original is dropped at ingest instead of waiting for the
  * nightly batch pass.
  *
  * Two chained `transformWithState` stages (the DeadSensorProcessor
  * pattern, Spark 4's arbitrary-state API, RocksDB-backed):
  *
  *  1. keyed by LSH BAND BUCKET ([[BandDedupProcessor]]): state is the
  *     retained (doc_id, 32-long signature) list for that bucket,
  *     TTL-bounded; each arriving doc compares its signature against
  *     the bucket's retained ones (the same fraction-of-equal-rows
  *     estimate `Dedup.estJaccard` computes — cnt/32.0 is exact in
  *     IEEE, so the ≥ threshold decision is bit-identical to the batch
  *     join's) and emits a per-band verdict;
  *  2. keyed by doc_id ([[DocAssembleProcessor]]): ORs the doc's 8
  *     band verdicts (all derived map-side from one input row, so they
  *     land in the same micro-batch) and emits the doc iff NO band
  *     matched an earlier arrival.
  *
  * Semantics: a doc is dropped iff some EARLIER-ARRIVED doc within the
  * state TTL shares ≥ 1 band bucket and has estimated Jaccard ≥ the
  * threshold — exactly "the later member of a `minhashPairs` pair"
  * when arrival order follows doc_id order, which is what the
  * CurateSpec stream ≡ batch gate holds it to. Dropped docs' own
  * signatures STAY retained (like the batch pairs join, where dropped
  * docs still generate pairs), so chains A~B~C drop both B and C.
  *
  * State shape at scale: one (doc_id, 32 longs) row per band
  * occurrence retained within the TTL — 8 rows per kept-window doc,
  * never stream-length-scaled; band buckets distribute uniformly (md5)
  * so no key is hot. The per-row signature derivation is the
  * documented per-row `Dedup.minhashSignature` expression (map-side;
  * the bulk explode+aggregate path is a batch shape). Differences vs
  * the batch join: the comparison window is the TTL, not the corpus
  * (deliberate), and the per-bucket cap keeps the NEWEST
  * `maxPerBucket` entries rather than skipping the whole bucket the
  * way `Dedup.MaxBandBucket` does — in a stream the newest entries
  * are the ones late-arriving dups will compare against.
  */
object NearDup {

  /** One LSH band occurrence of a curated doc; `text` rides band 0
    * only (the other 7 rows carry null) so the payload does not ship
    * 8×. */
  case class BandRow(bucket: String, doc_id: Long, event_time: Timestamp,
      sig: Array[Long], text: String)

  /** Per-band verdict: did this band's bucket hold an earlier near-dup? */
  case class Verdict(doc_id: Long, event_time: Timestamp, matched: Boolean,
      text: String)

  /** A doc that survived all bands. */
  case class KeptDoc(doc_id: Long, event_time: Timestamp, text: String)

  /** Bucket state entry (tusMs = event time, for watermark pruning). */
  case class Retained(doc_id: Long, sig: Array[Long], tusMs: Long)

  /** Doc-assembly accumulator (normally consumed within one batch). */
  case class DocAcc(seen: Int, matched: Boolean, text: String, tusMs: Long)

  private def estJ(a: Array[Long], b: Array[Long]): Double = {
    var c = 0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { if (a(i) == b(i)) c += 1; i += 1 }
    c.toDouble / Dedup.NumHashes
  }

  /** Stage 1: per band-bucket retained-signature comparison. TTLConfig
    * is processing-time-only under TimeMode.EventTime, so the
    * retention window is enforced the event-time way: entries prune
    * against (watermark − retention) on every visit, and one re-armed
    * event-time timer per live bucket sweeps idle buckets empty — the
    * watermark itself bounds the state. */
  class BandDedupProcessor(threshold: Double, retentionMs: Long,
      maxPerBucket: Int = Dedup.MaxBandBucket)
      extends StatefulProcessor[String, BandRow, Verdict] {
    @transient private var retained: ListState[Retained] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      retained = getHandle.getListState[Retained](
        "retained", Encoders.product[Retained], TTLConfig.NONE)

    private def prune(wmMs: Long): Seq[Retained] =
      retained.get().toSeq.filter(_.tusMs >= wmMs - retentionMs)

    // +1: an entry with tusMs = T is comparable through wm = T +
    // retentionMs INCLUSIVE (prune keeps tusMs >= wm - retentionMs),
    // so a timer at exactly T + retentionMs would fire while the
    // newest entry still satisfies the keep condition and re-arm a
    // no-op timer at the same already-reached expiry every
    // micro-batch. Arming one tick past the boundary makes the
    // expired timer actually clear the entry it was armed for.
    private def rearm(entries: Seq[Retained]): Unit = {
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      if (entries.nonEmpty)
        getHandle.registerTimer(entries.map(_.tusMs).max + retentionMs + 1)
    }

    override def handleInputRows(key: String, rows: Iterator[BandRow],
        timerValues: TimerValues): Iterator[Verdict] = {
      // arrival order within the micro-batch: (event_time, doc_id)
      val sorted = rows.toSeq.sortBy(r => (r.event_time.getTime, r.doc_id))
      // The retained list is kept sorted ascending (tusMs, doc_id) —
      // NOT put order: a late in-watermark arrival in a LATER batch
      // would append out of event-time order, and the cap below must
      // evict oldest-by-EVENT-time, not oldest-by-arrival (round-13
      // advice). The post-prune sort re-establishes the invariant
      // rather than trusting stored order, so restarting from a
      // checkpoint written by the pre-sort (arrival-ordered) version
      // is safe — a no-op whenever state is already sorted. Each new
      // entry inserts at its sorted position — O(cap) worst case; the
      // in-order fast path (new entry ≥ the current tail, the common
      // live-stream case) short-circuits to a plain append without
      // scanning the list.
      var cur = prune(timerValues.getCurrentWatermarkInMs())
        .sortBy(r => (r.tusMs, r.doc_id))
      val out = Seq.newBuilder[Verdict]
      sorted.foreach { r =>
        val m = cur.exists(ret => estJ(ret.sig, r.sig) >= threshold)
        out += Verdict(r.doc_id, r.event_time, m, r.text)
        val nr = Retained(r.doc_id, r.sig, r.event_time.getTime)
        val tailInOrder = cur.isEmpty || {
          val t = cur.last
          t.tusMs < nr.tusMs || (t.tusMs == nr.tusMs && t.doc_id <= nr.doc_id)
        }
        cur = if (tailInOrder) cur :+ nr
        else {
          val at = cur.indexWhere(x =>
            x.tusMs > nr.tusMs || (x.tusMs == nr.tusMs && x.doc_id > nr.doc_id))
          (cur.take(at) :+ nr) ++ cur.drop(at)
        }
        // Per-bucket retention cap (the streaming analog of the batch
        // join's MaxBandBucket, Dedup.MaxBandBucket): a boilerplate
        // storm inside the TTL would otherwise grow one RocksDB key's
        // list — and the per-arrival comparison — without bound. Keep
        // the NEWEST maxPerBucket entries; recall degrades gracefully
        // (an evicted original can no longer catch its late dups in
        // THIS band, but true near-dups collide in several of the 8
        // bands, the same recovery argument as batch).
        if (cur.length > maxPerBucket) cur = cur.drop(cur.length - maxPerBucket)
      }
      retained.put(cur.toArray)
      rearm(cur)
      out.result().iterator
    }

    override def handleExpiredTimer(key: String, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[Verdict] = {
      val left = prune(timerValues.getCurrentWatermarkInMs())
      if (left.isEmpty) retained.clear() else retained.put(left.toArray)
      rearm(left)
      Iterator.empty
    }
  }

  /** Stage 2: OR the doc's band verdicts, emit survivors. A doc's 8
    * band rows derive map-side from one input row, so they land in the
    * same micro-batch and the accumulator clears within it; a timer
    * sweeps any straggler state. */
  class DocAssembleProcessor(nBands: Int, retentionMs: Long)
      extends StatefulProcessor[Long, Verdict, KeptDoc] {
    @transient private var acc: ValueState[DocAcc] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      acc = getHandle.getValueState[DocAcc](
        "acc", Encoders.product[DocAcc], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Verdict],
        timerValues: TimerValues): Iterator[KeptDoc] = {
      var st = if (acc.exists()) acc.get() else DocAcc(0, matched = false, null, 0L)
      rows.foreach { v =>
        st = DocAcc(st.seen + 1, st.matched || v.matched,
          if (v.text != null) v.text else st.text,
          v.event_time.getTime)
      }
      if (st.seen >= nBands) {
        acc.clear()
        getHandle.listTimers().foreach(getHandle.deleteTimer)
        if (!st.matched && st.text != null)
          Iterator.single(KeptDoc(key, new Timestamp(st.tusMs), st.text))
        else Iterator.empty
      } else {
        acc.update(st)
        getHandle.listTimers().foreach(getHandle.deleteTimer)
        getHandle.registerTimer(st.tusMs + retentionMs)
        Iterator.empty
      }
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[KeptDoc] = {
      acc.clear()
      Iterator.empty
    }
  }

  /** The streaming stage: `curated` must carry (doc_id, text,
    * event_time) with a watermark already set (Curate.curate's
    * output). Requires the RocksDB state store provider
    * (transformWithState is RocksDB-only). `retentionMs` is the
    * event-time comparison window: a near-dup arriving within it of
    * its original is dropped; the watermark sweeps older state. */
  def dedupNearDups(curated: DataFrame, threshold: Double = 0.5,
      retentionMs: Long = 600000L,
      maxPerBucket: Int = Dedup.MaxBandBucket): DataFrame = {
    val spark = curated.sparkSession
    import spark.implicits._
    val base = curated.withColumn("__toks",
      TextOps.tokens(col("text")))
    // Per-row signature in the SAME hash family as the batch join's
    // bulk path (DedupSpec pins the equivalence), via the fused
    // MinhashSignature kernel — one eval per doc, minima folded
    // inside the digest loop (the interpreted HOF wrappers paid
    // per-element lambda dispatch on every comparison).
    val hasShingles = size(col("__toks")) >= 3
    // Sub-shingle docs stay in the SAME plan (a union bypass branch
    // would re-scan the source and duplicate every upstream stateful
    // operator — measured as a second dedupeWithinWatermark store):
    // they carry an empty signature (estJ ≡ 0, matches nothing, so
    // they are always kept) and 8 per-doc SOLO buckets, so they never
    // meet another doc's state.
    val bands = when(hasShingles, Dedup.bandHashes(col("sig")))
      .otherwise(transform(sequence(lit(0), lit(Dedup.NumBands - 1)),
        b => concat(lit("solo"), col("doc_id").cast("string"),
          lit("b"), b.cast("string"))))
    val bandRows = base
      .withColumn("sig",
        when(hasShingles, graft.ext.expr.MinhashSignature.of(
          TextOps.shingles(col("__toks"), 3)))
          .otherwise(array().cast("array<long>")))
      .select(col("doc_id"), col("event_time"), col("text"), col("sig"),
        posexplode(bands).as(Seq("band", "bh")))
      .select(concat_ws(":", col("band"), col("bh")).as("bucket"),
        col("doc_id"), col("event_time"), col("sig"),
        when(col("band") === 0, col("text")).otherwise(lit(null))
          .as("text"))
      .as[BandRow]
    val verdicts = bandRows.groupByKey(_.bucket)
      .transformWithState(
        new BandDedupProcessor(threshold, retentionMs, maxPerBucket),
        "event_time", OutputMode.Append())
    verdicts.groupByKey(_.doc_id)
      .transformWithState(new DocAssembleProcessor(Dedup.NumBands, retentionMs),
        "event_time", OutputMode.Append())
      .toDF()
  }

  /** The batch replica the stream ≡ batch gate compares against:
    * survivors = curated docs that are never the LATER member
    * (`doc_b`) of a `Dedup.minhashPairs` pair — identical semantics
    * when arrival order follows doc_id order. */
  def dedupNearDupsBatch(curated: DataFrame, threshold: Double = 0.5)
      : DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val eligible = curated.filter(size(toks) >= 3)
    val pairs = Dedup.minhashPairs(eligible, col("doc_id"), col("text"),
      threshold)
    eligible
      .join(pairs.select(col("doc_b").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("event_time"), col("text"))
      .unionByName(curated.filter(size(toks) < 3)
        .select(col("doc_id"), col("event_time"), col("text")))
  }
}
