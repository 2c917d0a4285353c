package graft.flow

import scala.annotation.tailrec
import scala.concurrent.duration._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}

import graft.io.{LakeSink, Source}
import graft.ops.Ingest

/** Nightly batch ETL + orchestration semantics — the reference's Task 4
  * (spark-jobs/timescale_to_deltalake.py) and Task 5 (Prefect flow,
  * spec-only: Lab_Assignment.pdf p.4).
  *
  * Flow (L1): check source conn → check lake conn → run job → verify
  * output counts. Retries 3× with 10 s delay (L2; the reference's own
  * retry precedent is the producer connect loop, ingest_data.py:43-55).
  * Schedulable entry point, cron-ready (L3 — 2:00 AM UTC in the spec).
  *
  * The extract is full-table per run with `overwrite` (K4, the
  * assignment's mandate); partitioning derives year/month/day from the
  * time column (K1). Dynamic partition overwrite keeps re-runs
  * idempotent AND cheap at scale — only partitions present in the
  * extract are rewritten.
  */
object NightlyEtl {

  final case class StageResult(name: String, rows: Long)

  /** Retry combinator (L2). */
  @tailrec
  def retry[T](n: Int, delay: FiniteDuration)(body: => T): T =
    Try(body) match {
      case Success(v) => v
      case Failure(e) if n > 1 =>
        System.err.println(s"[etl] stage failed (${e.getMessage}); " +
          s"retrying in ${delay.toSeconds}s (${n - 1} left)")
        Thread.sleep(delay.toMillis)
        retry(n - 1, delay)(body)
      case Failure(e) => throw e
    }

  /** One table's extract → transform → load → verify. */
  def runTable(
      spark: SparkSession,
      source: Source,
      sink: LakeSink,
      timeCol: String,
      retries: Int = 3,
      delay: FiniteDuration = 10.seconds): StageResult = {

    retry(retries, delay) {
      require(source.probe(spark), s"source probe failed: $source")
    }
    retry(retries, delay) {
      require(sink.probe(spark), s"sink probe failed: $sink")
    }
    // The write counts its own rows (one scan of the extract); each
    // attempt observes through a fresh Observation, which fires once.
    val (written, schema) = retry(retries, delay) {
      val rows = Observation("etl_rows")
      val partitioned = Ingest.withDateParts(source.read(spark), col(timeCol))
      sink.write(partitioned.observe(rows, count(lit(1)).as("rows")))
      (rows.get("rows").asInstanceOf[Long], partitioned.schema)
    }
    // post-write verification (L1 step 4): lake row count matches
    // extract, counted through the schema just written
    val inLake = sink.read(spark, schema).count()
    require(inLake == written,
      s"verification failed: wrote $written rows, lake has $inLake")
    StageResult(sink.path, inLake)
  }

  /** The nightly append into the SNAPSHOT lake with the Delta
    * auto-compact cadence (round 15): extract → atomic append commit →
    * verify THIS commit's increment against the extract (a log-window
    * read, never a table rescan) → run [[graft.io.Maintain.auto]] as
    * an audited flow stage. N nightly appends each land a handful of
    * files; the manifest-only maintenance decision collapses the
    * accumulated small-file/DV debt with ONE clustered rewrite commit
    * when — and only when — the debt thresholds trip, and the flow
    * audits that maintenance changed LAYOUT, never content. Returns
    * the audit trail: the append stage (rows written at its version)
    * and the maintenance stage (reason, live file count after). */
  def runSnapshotNightly(
      spark: SparkSession,
      source: Source,
      lake: graft.io.Snapshot.Lake,
      targetRowsPerFile: Long,
      clusterCol: Option[String] = None,
      retries: Int = 3,
      delay: FiniteDuration = 10.seconds): Seq[StageResult] = {

    retry(retries, delay) {
      require(source.probe(spark), s"source probe failed: $source")
    }
    retry(retries, delay) {
      require(lake.latestVersion >= -1, s"lake probe failed: ${lake.root}")
    }
    val (version, written) = retry(retries, delay) {
      val df = source.read(spark)
      val rows = df.count()
      (lake.append(df), rows)
    }
    // post-write verification (L1 step 4), increment-sized: the commit
    // window (version-1, version] must hold exactly the extract.
    val inc = lake.readDelta(version - 1, version).count()
    require(inc == written,
      s"verification failed: appended $written rows, commit $version holds $inc")
    val before = lake.read().count()
    val rep = retry(retries, delay) {
      graft.io.Maintain.auto(lake, targetRowsPerFile, clusterCol)
    }
    val after = lake.read().count()
    require(after == before,
      s"maintenance changed content: $before rows -> $after")
    Seq(StageResult(s"append@v$version", written),
      StageResult(s"maintain:${rep.reason}", rep.filesAfter.toLong))
  }

  /** The flow × pipeline capstone (round 11): the nightly CURATION
    * run. Probe the corpus source and the lake, build the 7-stage
    * [[graft.ext.CorpusPipeline]], reconcile every stage's cardinality
    * — the audit orchestration owes the pipeline: a stage that
    * silently drops to zero, or fails to drop at all (plants guarantee
    * each dropping stage real work at any SF), is caught BEFORE the
    * write — then land the packed table partitioned by shard, all
    * under the same retry machinery as [[runTable]]. Returns the
    * per-stage counts plus the verified lake count, the flow's audit
    * trail.
    *
    * The sink should partition by "shard" (the packed table's
    * partition column — a training run reads one shard per worker).
    */
  def runCorpus(
      spark: SparkSession,
      source: Source,
      sink: LakeSink,
      retries: Int = 3,
      delay: FiniteDuration = 10.seconds): Seq[StageResult] = {

    retry(retries, delay) {
      require(source.probe(spark), s"source probe failed: $source")
    }
    retry(retries, delay) {
      require(sink.probe(spark), s"sink probe failed: $sink")
    }
    val (counts, schema) = retry(retries, delay) {
      val st = graft.ext.CorpusPipeline.build(source.read(spark))
      val cs = Seq(
        "base" -> st.base.count(),
        "augmented" -> st.aug.count(),
        "after_quality" -> st.afterQuality.count(),
        "after_url_dedup" -> st.afterUrlDedup.count(),
        "after_exact_dedup" -> st.afterExactDedup.count(),
        "after_near_dedup" -> st.afterNearDedup.count(),
        "after_decontam" -> st.afterDecontam.count(),
        "after_mixture" -> st.afterMixture.count(),
        "packed" -> st.packed.count())
      val m = cs.toMap
      require(m("augmented") == 6 * m("base"),
        s"augmentation must plant 5 copies per doc: ${m("augmented")} != 6×${m("base")}")
      // survivor chain: monotone, non-empty, and every dropping stage
      // really dropped (the plants make that guaranteed work)
      val chain = Seq("augmented", "after_quality", "after_url_dedup",
        "after_exact_dedup", "after_near_dedup", "after_decontam",
        "after_mixture")
      chain.sliding(2).foreach { w =>
        val (a, b) = (w.head, w.last)
        require(m(b) <= m(a), s"stage $b grew: ${m(b)} > ${m(a)}")
        require(m(b) > 0, s"stage $b emptied the corpus")
      }
      Seq("after_quality", "after_url_dedup", "after_exact_dedup",
        "after_near_dedup", "after_decontam")
        .zip(chain).foreach { case (b, a) =>
          require(m(b) < m(a),
            s"stage $b dropped nothing — its planted work went missing")
        }
      require(m("packed") == m("after_mixture"),
        s"packing must cover every mixture survivor exactly once: " +
          s"${m("packed")} != ${m("after_mixture")}")
      sink.write(st.packed)
      (cs, st.packed.schema)
    }
    val packedRows = counts.toMap.apply("packed")
    // counted through the schema just written: no footer job
    val inLake = sink.read(spark, schema).count()
    require(inLake == packedRows,
      s"verification failed: packed $packedRows rows, lake has $inLake")
    counts.map { case (n, r) => StageResult(n, r) } :+
      StageResult(sink.path, inLake)
  }

  /** The nightly INCREMENTAL curation run (round 12) — the production
    * cadence [[runCorpus]] is the bootstrap for: day N curates only
    * the increment against day-N−1 persisted state
    * ([[graft.ext.CorpusPipeline.buildIncremental]]) under the same
    * retry machinery, with flow-level audits that the state probes
    * actually ENGAGED — the counts a full recompute would use for
    * reconciliation don't exist here (that's the point: the base is
    * never rescanned), so the audit checks the invariants the plants
    * guarantee instead: every exact/messy-URL re-fetch of a base page
    * must be absent from the packed output (their keys are in the
    * persisted state by construction), the retro-contamination sweep
    * must retract a base-only id set that is disjoint from the packed
    * survivors, and the packed table must be non-empty with every
    * shard present. */
  def runCorpusIncremental(
      spark: SparkSession,
      source: Source,
      sink: LakeSink,
      retries: Int = 3,
      delay: FiniteDuration = 10.seconds): Seq[StageResult] = {

    retry(retries, delay) {
      require(source.probe(spark), s"source probe failed: $source")
    }
    retry(retries, delay) {
      require(sink.probe(spark), s"sink probe failed: $sink")
    }
    val (counts, schema) = retry(retries, delay) {
      val st = graft.ext.CorpusPipeline
        .buildIncrementalStages(source.read(spark))
      val packed = st.packed.localCheckpoint(true)
      val retro = st.retroContam.localCheckpoint(true)
      val cs = Seq(
        "inc_after_url_dedup" -> st.afterUrlDedup.count(),
        "inc_after_exact_dedup" -> st.afterExactDedup.count(),
        "inc_after_near_dedup" -> st.afterNearDedup.count(),
        "inc_after_decontam" -> st.afterDecontam.count(),
        "base_retracted" -> st.baseDrops.count(),
        "retro_retracted" -> retro.count(),
        "packed" -> packed.count())
      val m = cs.toMap
      // increment chain: monotone and non-empty
      val chain = Seq("inc_after_url_dedup", "inc_after_exact_dedup",
        "inc_after_near_dedup", "inc_after_decontam")
      chain.sliding(2).foreach { w =>
        require(m(w.last) <= m(w.head), s"stage ${w.last} grew")
        require(m(w.last) > 0, s"stage ${w.last} emptied the increment")
      }
      require(m("packed") > 0, "packed output emptied")
      // state-probe engagement: re-fetch plants of base pages carry
      // keys that ARE in the persisted state — one surviving means a
      // probe silently stopped engaging
      val refetch = packed.filter(
        (col("doc_id") >= 8000000000L && col("doc_id") < 9000000000L) ||
          (col("doc_id") >= 12000000000L && col("doc_id") < 13000000000L))
        .count()
      require(refetch == 0,
        s"$refetch re-fetch plants survived the persisted key state")
      // the retro sweep's retractions really left the survivor set
      val leaked = packed.join(retro, Seq("doc_id"), "left_semi").count()
      require(leaked == 0,
        s"$leaked retro-retracted docs still in the packed output")
      sink.write(packed)
      (cs, packed.schema)
    }
    val packedRows = counts.toMap.apply("packed")
    // counted through the schema just written: no footer job
    val inLake = sink.read(spark, schema).count()
    require(inLake == packedRows,
      s"verification failed: packed $packedRows rows, lake has $inLake")
    counts.map { case (n, r) => StageResult(n, r) } :+
      StageResult(sink.path, inLake)
  }
}
