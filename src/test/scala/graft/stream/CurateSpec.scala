package graft.stream

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** A document message on the ingest stream. */
case class DocMsg(event_time: Timestamp, doc_id: Long, text: String)

class CurateSpec extends SparkSpec with graft.LowStatePartitions {
  import spark.implicits._

  private def t(sec: Int) = Timestamp.valueOf(f"2026-01-01 10:00:$sec%02d")

  private val evalText = "the held out benchmark passage nobody may train on"

  private def evalFps = Seq(evalText).toDF("text")
    .select(graft.ext.TextOps.contentFingerprint(col("text")).as("fp"))

  test("stream curation ≡ batch on the same docs; each stage really fires") {
    val ms = MemoryStream[DocMsg](spark)
    val out = Curate.curate(ms.toDF(), evalFps, "10 seconds")
    val name = s"curated${System.nanoTime()}"
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    val batch1 = Seq(
      DocMsg(t(0), 1L, "alpha beta gamma delta epsilon zeta eta theta"),
      DocMsg(t(1), 2L, "too short"), // quality drop (< 5 words)
      DocMsg(t(2), 3L, "one two three four five six seven unique doc"),
      DocMsg(t(3), 4L, evalText)) // decontamination drop
    val batch2 = Seq(
      // retry of doc 1 under a new id — exact content dup, dropped
      DocMsg(t(4), 5L, "alpha beta gamma delta epsilon zeta eta theta"),
      // cross-batch retry of doc 3 — dropped by the fingerprint state
      DocMsg(t(5), 6L, "one two three four five six seven unique doc"),
      DocMsg(t(6), 7L, "contact me at john.doe@example.com for the real data dump"),
      DocMsg(t(7), 8L, "fresh content nine ten eleven twelve thirteen"))
    try {
      ms.addData(batch1); q.processAllAvailable()
      ms.addData(batch2); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table(name).select("doc_id", "text", "fp")

    // batch replica over the SAME rows — set equality on fingerprints
    // (the kept representative's doc_id may legitimately differ)
    val all = (batch1 ++ batch2).toDF()
    val batch = Curate.curateBatch(all, evalFps)
    val sFps = streamed.select("fp").as[String].collect().sorted.toSeq
    val bFps = batch.select("fp").as[String].collect().sorted.toSeq
    assert(sFps == bFps, s"stream $sFps != batch $bFps")

    // stage-of-death accounting: 8 in, 4 out
    assert(streamed.count() == 4, streamed.collect().mkString("\n"))
    val texts = streamed.select("text").as[String].collect().toSet
    assert(!texts.exists(_.contains("too short")), "quality filter missed")
    assert(!texts.contains(evalText), "decontamination missed")
    // the PII doc survived but scrubbed — no raw email downstream
    assert(texts.exists(_.contains("<EMAIL>")))
    assert(!texts.exists(_.contains("john.doe@example.com")))
    // exactly one copy of the retried content
    assert(streamed.filter(col("text").startsWith("alpha beta")).count() == 1)
  }

  test("streaming near-dup dedup: kept set ≡ batch minhashPairs survivors on a replayed topic") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[DocMsg](spark)
      val out = Curate.curateNearDup(ms.toDF(), evalFps, "10 seconds")
      val name = s"neardup${System.nanoTime()}"
      val q = out.writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
      val aNear = "alpha beta gamma delta epsilon zeta eta theta iota"
      val aNear2 = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
      val b = "one two three four five six seven eight nine ten eleven"
      val bNear = "one two three four five six seven eight nine ten twelve"
      val c = "completely different fresh content numbered thirteen fourteen fifteen"
      val batch1 = Seq(
        DocMsg(t(0), 1L, a),
        DocMsg(t(1), 2L, aNear), // same-batch near-dup of 1 — dropped
        DocMsg(t(2), 3L, b))
      val batch2 = Seq(
        DocMsg(t(4), 4L, bNear), // cross-batch near-dup of 3 — state drop
        DocMsg(t(5), 5L, c),
        DocMsg(t(6), 6L, aNear2)) // chain: near-dups 1 AND the dropped 2
      try {
        ms.addData(batch1); q.processAllAvailable()
        ms.addData(batch2); q.processAllAvailable()
      } finally q.stop()
      val kept = spark.table(name).select("doc_id").as[Long].collect().sorted.toSeq

      // the near-dup stage really fired: only the three originals remain
      assert(kept == Seq(1L, 3L, 5L), s"kept $kept")

      // stream ≡ batch: the batch replica derives its survivor set from
      // Dedup.minhashPairs over the same curated rows
      val batchKept = Curate.curateNearDupBatch((batch1 ++ batch2).toDF(), evalFps)
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(kept == batchKept, s"stream $kept != batch $batchKept")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("near-dup stage: sub-shingle docs bypass untouched; standalone operator parity") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[DocMsg](spark)
      // raw NearDup stage (no quality filter), so < 3-token docs reach it
      val out = NearDup.dedupNearDups(
        ms.toDF().withWatermark("event_time", "10 seconds"))
      val name = s"neardupraw${System.nanoTime()}"
      val q = out.writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      try {
        ms.addData(Seq(
          DocMsg(t(0), 1L, "tiny doc"), // 2 tokens: no shingles, bypass
          DocMsg(t(1), 2L, "north south east west up down left right"),
          DocMsg(t(2), 3L, "north south east west up down left wrong")))
        q.processAllAvailable()
      } finally q.stop()
      val kept = spark.table(name).select("doc_id").as[Long].collect().sorted.toSeq
      assert(kept == Seq(1L, 2L), s"kept $kept")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("near-dup bucket cap force-engagement: cap=2 evicts an original, recall degrades gracefully") {
    // The per-bucket retention cap (NearDup.BandDedupProcessor,
    // streaming analog of Dedup.MaxBandBucket): flood every band
    // bucket the original A occupies with ≥ 2 LATER sub-threshold
    // variants (estJ < threshold, so they never MATCH A or its exact
    // copy — but retention is verdict-independent, so they still
    // evict). Under cap=2 the late exact copy D then finds no A in
    // any shared bucket and is wrongly KEPT (graceful recall
    // degradation, the documented trade); under the default cap D is
    // dropped. The evictor set is derived from the real md5 minhash
    // family in-spec, so the construction self-validates instead of
    // depending on hand-frozen hash luck.
    val threshold = 0.9
    val baseToks = Seq("quartz", "ember", "willow", "granite", "sable",
      "meadow", "cinder", "harbor", "juniper", "basalt", "onyx", "fable",
      "tundra", "grove", "lantern", "mica", "reef", "saffron", "timber",
      "vale")
    val baseText = baseToks.mkString(" ")
    val candTexts = (0 until baseToks.length).flatMap { p =>
      Seq(baseToks.updated(p, s"zz$p").mkString(" "),
        baseToks.updated(p, s"yy$p").mkString(" "))
    }
    val candDf = (Seq(baseText) ++ candTexts).zipWithIndex
      .map { case (tx, i) => (i.toLong, tx) }.toDF("id", "text")
    val sigRows = graft.ext.Dedup
      .minhashSignatures(candDf, col("id"), col("text"))
      .select(col("doc"), col("sig"))
      .as[(Long, Array[Long])].collect().toMap
    val bandRows = graft.ext.Dedup
      .minhashSignatures(candDf, col("id"), col("text"))
      .select(col("doc"),
        posexplode(graft.ext.Dedup.bandHashes(col("sig")))
          .as(Seq("band", "bh")))
      .as[(Long, Int, String)].collect()
    val aBands = bandRows.filter(_._1 == 0L).map(r => r._2 -> r._3).toMap
    def estJ(a: Array[Long], b: Array[Long]): Double =
      a.zip(b).count { case (x, y) => x == y }.toDouble / a.length
    val aSig = sigRows(0L)
    // per band of A: candidates sharing that bucket AND safely below
    // the match threshold (margin so a retained evictor never catches D)
    val coverers = (0 until graft.ext.Dedup.NumBands).map { b =>
      val ok = bandRows.filter(r => r._1 != 0L && r._2 == b &&
        r._3 == aBands(b) && estJ(aSig, sigRows(r._1)) < threshold - 0.05)
      assert(ok.nonEmpty, s"candidate pool never collides with A in band $b — " +
        "widen the pool (hash-family precondition)")
      ok.head._1
    }.distinct
    val evictorTexts = coverers.map(id => candTexts((id - 1).toInt))

    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def run(cap: Int): Set[Long] = {
        val ms = MemoryStream[DocMsg](spark)
        val out = NearDup.dedupNearDups(
          ms.toDF().withWatermark("event_time", "10 seconds"),
          threshold = threshold, maxPerBucket = cap)
        val name = s"capneardup${System.nanoTime()}"
        val q = out.writeStream.outputMode("append")
          .format("memory").queryName(name).start()
        try {
          ms.addData(Seq(DocMsg(t(0), 1L, baseText)))
          q.processAllAvailable()
          // each evictor text twice: ≥ 2 later entries per covered bucket
          ms.addData(evictorTexts.zipWithIndex.flatMap { case (tx, i) =>
            Seq(DocMsg(t(1), 100L + 2 * i, tx), DocMsg(t(1), 101L + 2 * i, tx))
          })
          q.processAllAvailable()
          ms.addData(Seq(DocMsg(t(2), 999L, baseText))) // exact copy of A
          q.processAllAvailable()
        } finally q.stop()
        spark.table(name).select("doc_id").as[Long].collect().toSet
      }
      val uncapped = run(Int.MaxValue)
      assert(uncapped.contains(1L) && !uncapped.contains(999L),
        s"uncapped must drop the late copy: $uncapped")
      val capped = run(2)
      assert(capped.contains(1L), s"original must survive: $capped")
      assert(capped.contains(999L),
        s"cap=2 must have evicted A from every shared bucket, keeping the " +
          s"late copy (graceful degradation): $capped")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("near-dup storm: variants of one doc collapse to one survivor; state keys stay bounded") {
    // A boilerplate storm in one micro-batch: n variants of ONE base
    // doc, each with its own tail token (J ≈ 28/30 against each other),
    // so the base's band buckets take far more than maxPerBucket
    // entries inside the retention window. Every later variant
    // near-dups an earlier one: only the first arrival survives. State
    // is keyed by band bucket — the shared buckets plus about one
    // singleton per variant — so the store's key count stays within
    // 2 × input however many entries arrive.
    val n = 300
    val base = "the quick brown fox jumps over the lazy dog while " +
      "seventeen boilerplate navigation links repeat across every " +
      "page footer header sidebar copyright notice terms privacy"
    val t0 = t(0).getTime
    val storm = (0 until n).map(i =>
      DocMsg(new Timestamp(t0 + i), i.toLong, s"$base tail$i"))
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[DocMsg](spark)
      val out = NearDup.dedupNearDups(
        ms.toDF().withWatermark("event_time", "10 seconds"),
        threshold = 0.5, maxPerBucket = 64)
      val name = s"stormneardup${System.nanoTime()}"
      val q = out.writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      val stateKeys =
        try {
          ms.addData(storm); q.processAllAvailable()
          q.recentProgress.reverse.find(_.stateOperators.nonEmpty)
            .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)
        } finally q.stop()
      val kept = spark.table(name).select("doc_id").as[Long].collect().toSeq
      assert(kept == Seq(0L), s"the storm must collapse to its first arrival: $kept")
      assert(stateKeys > 0 && stateKeys <= 2L * n,
        s"state keys must stay within 2 × input ($n): $stateKeys")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("scrub-before-fingerprint: docs differing only in PII spans dedup to one") {
    val ms = MemoryStream[DocMsg](spark)
    val out = Curate.curate(ms.toDF(), evalFps, "10 seconds")
    val name = s"curated${System.nanoTime()}"
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      ms.addData(Seq(
        DocMsg(t(0), 1L, "please write to alice@corp.example about the delivery today"),
        DocMsg(t(1), 2L, "please write to bob@other.example about the delivery today")))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table(name)
    // both scrub to the identical text → one fingerprint survives
    assert(rows.count() == 1, rows.collect().mkString("\n"))
    assert(rows.select("text").as[String].head().contains("<EMAIL>"))
  }
}
