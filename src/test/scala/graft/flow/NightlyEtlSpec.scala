package graft.flow

import java.nio.file.Files

import scala.concurrent.duration._

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.io.{LakeSink, ParquetSource}

class NightlyEtlSpec extends SparkSpec with graft.LowStatePartitions {
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("graft-etl").toString

  test("extract → transform → load with partition layout and verification (L1/K1)") {
    val dir = tmp()
    val src = Seq(
      ("2025-01-01T10:00:00", 1.0), ("2025-01-02T11:00:00", 2.0),
      ("2025-01-02T12:00:00", 3.0))
      .toDF("iso", "value")
      .withColumn("timestamp", to_timestamp_ntz(regexp_replace(col("iso"), "T", " ")))
      .drop("iso")
    src.write.parquet(s"$dir/src")

    val sink = LakeSink(s"$dir/lake")
    val res = NightlyEtl.runTable(spark, ParquetSource(s"$dir/src"), sink, "timestamp")
    assert(res.rows == 3)
    // physical layout: year=/month=/day= directories (K1)
    val d1 = new java.io.File(s"$dir/lake/year=2025/month=1/day=2")
    assert(d1.exists())
  }

  test("the write counts the extract: one scan, returned rows equal the source count") {
    val dir = tmp()
    spark.range(0, 500, 1, 4)
      .select(timestamp_seconds(lit(1735689600L) + col("id") * 3600L).cast("timestamp_ntz").as("timestamp"),
        col("id").cast("double").as("value"))
      .write.parquet(s"$dir/src")
    // Every row the source yields passes a counting filter, so the
    // accumulator is the number of rows scanned from the extract.
    val scanned = spark.sparkContext.longAccumulator("etl_scanned")
    val tally = udf { (_: Double) => scanned.add(1); true }.asNondeterministic()
    val source = new graft.io.Source {
      def read(s: org.apache.spark.sql.SparkSession) =
        s.read.parquet(s"$dir/src").filter(tally(col("value")))
      def readStream(s: org.apache.spark.sql.SparkSession) = sys.error("batch-only test double")
      def probe(s: org.apache.spark.sql.SparkSession) = true
    }
    val sink = LakeSink(s"$dir/lake")
    val res = NightlyEtl.runTable(spark, source, sink, "timestamp")
    assert(res.rows === 500L)
    assert(res.rows === spark.read.parquet(s"$dir/src").count())
    assert(sink.read(spark).count() === res.rows)
    assert(scanned.value === 500L, "the extract must be scanned once")
  }

  test("overwrite re-run is idempotent (K4)") {
    val dir = tmp()
    Seq(("2025-03-05T00:00:00", 1.0), ("2025-03-05T01:00:00", 2.0))
      .toDF("iso", "value")
      .withColumn("timestamp", to_timestamp_ntz(regexp_replace(col("iso"), "T", " ")))
      .drop("iso").write.parquet(s"$dir/src")
    val sink = LakeSink(s"$dir/lake")
    val first = NightlyEtl.runTable(spark, ParquetSource(s"$dir/src"), sink, "timestamp")
    val second = NightlyEtl.runTable(spark, ParquetSource(s"$dir/src"), sink, "timestamp")
    assert(first.rows == second.rows)
    assert(sink.read(spark).count() == 2)
  }

  test("snapshot-lake nightly: Maintain.auto collapses accumulated small-file debt, content identical (auto-compact cadence)") {
    val dir = tmp()
    val lake = graft.io.Snapshot.Lake(spark, s"$dir/snap",
      statsCols = Seq("k"))
    // 6 "nights": each extract lands as its own append commit with
    // 2 files (repartition(2)) — small-file debt accumulates because
    // target 2000 rows/file bin-packs the rows into ONE ideal file
    // (night 0 stays inside the 2× slack; later nights trip it).
    val trails = (0 until 6).map { night =>
      val src = s"$dir/src$night"
      (night * 200L until night * 200L + 200L).map(k => (k, s"n$night-$k"))
        .toDF("k", "v").repartition(2).write.parquet(src)
      NightlyEtl.runSnapshotNightly(spark, ParquetSource(src), lake,
        targetRowsPerFile = 2000L, clusterCol = Some("k"),
        retries = 1, delay = 10.millis)
    }
    // Early nights: healthy (files <= slack × ideal), no rewrite.
    assert(trails.head.exists(r => r.name == "maintain:healthy"))
    // By night 6 the debt tripped at least once and the flow's
    // maintenance stage collapsed it.
    val acted = trails.flatMap(_.find(_.name.startsWith("maintain:small-files")))
    assert(acted.nonEmpty, s"small-file debt never tripped: $trails")
    // Post-flow: the live layout is bin-packed (≤ slack × ideal files)…
    val files = lake.liveFiles(lake.latestVersion).size
    assert(files <= 2, s"debt not collapsed: $files live files")
    // …and the content is EXACTLY the union of the 6 extracts.
    assert(lake.read().count() === 1200)
    assert(lake.read().select("k").distinct().count() === 1200)
    // The clustered rewrite preserved the zone-map discipline: a range
    // predicate still prunes through the manifest.
    val pruned = lake.pruneFiles(lake.latestVersion, "k", 0, 99)
    assert(pruned.size <= files)
    // Every night's append stage verified its own increment.
    trails.zipWithIndex.foreach { case (t, i) =>
      assert(t.exists(r => r.name.startsWith("append@v") && r.rows == 200L),
        s"night $i audit trail: $t")
    }
  }

  test("retry recovers from transient failures (L2)") {
    var attempts = 0
    val out = NightlyEtl.retry(3, 10.millis) {
      attempts += 1
      if (attempts < 3) sys.error("transient")
      "ok"
    }
    assert(out == "ok" && attempts == 3)
    assertThrows[RuntimeException] {
      NightlyEtl.retry(2, 10.millis)(sys.error("always"))
    }
  }

  test("daily schedule fires the flow at 02:00 UTC under a fake clock (L3)") {
    import java.time.Instant
    // fake clock: starts the evening before; sleep() advances it
    var now = Instant.parse("2025-06-01T23:30:00Z")
    val fired = scala.collection.mutable.ArrayBuffer[Instant]()
    val slept = scala.collection.mutable.ArrayBuffer[Long]()

    val dir = tmp()
    Seq(("2025-06-01T10:00:00", 1.0)).toDF("iso", "value")
      .withColumn("timestamp", to_timestamp_ntz(regexp_replace(col("iso"), "T", " ")))
      .drop("iso").write.parquet(s"$dir/src")
    val sink = LakeSink(s"$dir/lake")

    val runs = Schedule.runDaily("02:00", maxRuns = 2,
      clock = () => now,
      sleep = ms => { slept += ms; now = now.plusMillis(ms) }) { fire =>
      fired += fire
      // the scheduled job IS the nightly flow, retries and all
      NightlyEtl.runTable(spark, ParquetSource(s"$dir/src"), sink, "timestamp")
    }
    assert(runs == 2)
    assert(fired.toSeq == Seq(
      Instant.parse("2025-06-02T02:00:00Z"), Instant.parse("2025-06-03T02:00:00Z")))
    assert(slept.head == 2L * 3600 * 1000 + 30L * 60 * 1000) // 23:30 → 02:00
    assert(slept(1) == 24L * 3600 * 1000) // then exactly one day
    assert(sink.read(spark).count() == 1)
  }

  test("schedule survives a failing night and fires the next one") {
    import java.time.Instant
    var now = Instant.parse("2025-06-01T01:00:00Z")
    var attempts = 0
    val runs = Schedule.runDaily("02:00", maxRuns = 2,
      clock = () => now,
      sleep = ms => now = now.plusMillis(ms)) { _ =>
      attempts += 1
      if (attempts == 1) sys.error("db down all night")
    }
    assert(runs == 2 && attempts == 2)
  }

  test("nextFire handles the same-day/next-day boundary") {
    import java.time.Instant
    val t = Schedule.parseUtc("02:00")
    assert(Schedule.nextFire(Instant.parse("2025-06-01T01:59:59Z"), t) ==
      Instant.parse("2025-06-01T02:00:00Z"))
    assert(Schedule.nextFire(Instant.parse("2025-06-01T02:00:00Z"), t) ==
      Instant.parse("2025-06-02T02:00:00Z"))
  }

  test("verification fails loudly when sink diverges from extract") {
    val dir = tmp()
    Seq(("2025-01-01T00:00:00", 1.0)).toDF("iso", "value")
      .withColumn("timestamp", to_timestamp_ntz(regexp_replace(col("iso"), "T", " ")))
      .drop("iso").write.parquet(s"$dir/src")
    // sabotage: sink path already holds an unrelated partition that
    // dynamic overwrite won't clear
    val sink = LakeSink(s"$dir/lake")
    Seq(("x", 9.9, 1999, 1, 1)).toDF("machine", "value", "year", "month", "day")
      .write.partitionBy("year", "month", "day").parquet(s"$dir/lake")
    assertThrows[IllegalArgumentException] {
      NightlyEtl.runTable(spark, ParquetSource(s"$dir/src"), sink, "timestamp",
        retries = 1, delay = 10.millis)
    }
  }

  test("corpus-curation capstone: probe → 7-stage pipeline → reconcile → partitioned lake, with a mid-stage retry") {
    val dir = tmp()
    // a source whose FIRST read throws (transient corpus outage) —
    // the flow must retry the whole job body to success
    val flaky = new graft.io.Source {
      @volatile var failures = 1
      def read(spark: org.apache.spark.sql.SparkSession) = {
        if (failures > 0) { failures -= 1; sys.error("transient corpus outage") }
        spark.read.parquet(s"$sf/documents.parquet")
          .select(col("doc_id"), col("text"), col("source"))
      }
      def readStream(spark: org.apache.spark.sql.SparkSession) =
        sys.error("batch-only test double")
      def probe(spark: org.apache.spark.sql.SparkSession) = true
    }
    val sink = LakeSink(s"$dir/packed", partitionCols = Seq("shard"))
    val res = NightlyEtl.runCorpus(spark, flaky, sink,
      retries = 3, delay = 10.millis)
    assert(flaky.failures == 0, "the transient failure really fired")
    val m = res.map(r => r.name -> r.rows).toMap

    // counts reconcile against an independent rebuild of the same
    // pipeline over the same corpus (build is deterministic)
    val st = graft.ext.CorpusPipeline.build(
      spark.read.parquet(s"$sf/documents.parquet")
        .select(col("doc_id"), col("text"), col("source")))
    val expected = Seq(
      "base" -> st.base.count(), "augmented" -> st.aug.count(),
      "after_quality" -> st.afterQuality.count(),
      "after_url_dedup" -> st.afterUrlDedup.count(),
      "after_exact_dedup" -> st.afterExactDedup.count(),
      "after_near_dedup" -> st.afterNearDedup.count(),
      "after_decontam" -> st.afterDecontam.count(),
      "after_mixture" -> st.afterMixture.count(),
      "packed" -> st.packed.count())
    expected.foreach { case (n, c) => assert(m(n) == c, s"stage $n") }

    // the lake holds the EXACT packed table, shard-partitioned
    val lake = sink.read(spark)
    assert(m(sink.path) == m("packed"))
    val got = lake.select("doc_id", "n_tokens", "shard", "offset_toks",
      "pack_seq").collect().map(_.toSeq).toSet
    val want = st.packed.select("doc_id", "n_tokens", "shard",
      "offset_toks", "pack_seq").collect().map(_.toSeq).toSet
    assert(got == want, "lake content must equal the packed frame")
    assert(new java.io.File(s"$dir/packed/shard=0").exists(), "shard partition layout")

    // re-run is idempotent (K4 over the curation flow)
    val res2 = NightlyEtl.runCorpus(spark, flaky, sink,
      retries = 1, delay = 10.millis)
    assert(res2.map(r => r.name -> r.rows).toMap == m)
  }

  test("incremental curation flow: state-probe audits + retry + partitioned lake") {
    val dir = tmp()
    val flaky = new graft.io.Source {
      @volatile var failures = 1
      def read(spark: org.apache.spark.sql.SparkSession) = {
        if (failures > 0) { failures -= 1; sys.error("transient corpus outage") }
        spark.read.parquet(s"$sf/documents.parquet")
          .select(col("doc_id"), col("text"), col("source"))
      }
      def readStream(spark: org.apache.spark.sql.SparkSession) =
        sys.error("batch-only test double")
      def probe(spark: org.apache.spark.sql.SparkSession) = true
    }
    val sink = LakeSink(s"$dir/packed_inc", partitionCols = Seq("shard"))
    val res = NightlyEtl.runCorpusIncremental(spark, flaky, sink,
      retries = 3, delay = 10.millis)
    assert(flaky.failures == 0, "the transient failure really fired")
    val m = res.map(r => r.name -> r.rows).toMap
    // counts reconcile against an independent rebuild (deterministic)
    val st = graft.ext.CorpusPipeline.buildIncrementalStages(
      spark.read.parquet(s"$sf/documents.parquet")
        .select(col("doc_id"), col("text"), col("source")))
    assert(m("packed") == st.packed.count())
    assert(m("retro_retracted") == st.retroContam.count())
    assert(m("retro_retracted") > 0, "the retro sweep must engage here")
    // lake holds the exact packed table, shard-partitioned
    assert(m(sink.path) == m("packed"))
    assert(new java.io.File(s"$dir/packed_inc/shard=0").exists())
    // idempotent re-run (K4 over the incremental flow)
    val res2 = NightlyEtl.runCorpusIncremental(spark, flaky, sink,
      retries = 1, delay = 10.millis)
    assert(res2.map(r => r.name -> r.rows).toMap == m)
  }
}
