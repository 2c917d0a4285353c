package graft

import java.nio.file.Files
import java.time.Instant

import org.apache.spark.sql.functions._

import graft.flow.NightlyEtl
import graft.gen.DataGen
import graft.io.{JsonDirSource, LakeSink, ParquetSource}
import graft.ops.{Enrich, Ingest, Retention}
import graft.stream.Pipeline

/** End-to-end run of the reference's whole workflow (Tasks 2-5) through
  * the library surface, offline:
  *
  *   producer (DataGen backfill → JSON-lines "topic")        — Task 2
  *   → streaming dual-sink pipeline (raw + 1-min aggregates) — Task 3
  *   → nightly partitioned lake ETL with verify/retry        — Task 4/5
  *   → retention horizon + dimension enrichment              — Task 1/E1
  *
  * Usage: runMain graft.IIoTDemo [workDir]
  */
object IIoTDemo {
  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse(
      Files.createTempDirectory("graft-iiot").toString)
    val spark = GraftSession.local("graft-iiot-demo")
    import spark.implicits._

    // Task 2 — producer: 7-day hourly backfill, JSON envelopes keyed by
    // machine_id (B1), written to the topic stand-in. Idempotent like a
    // real topic: re-producing on re-run would rewrite files under new
    // names and the streaming checkpoint would (correctly) re-ingest
    // them as new data — at-least-once, the reference's own guarantee.
    val end = Instant.parse("2025-01-08T00:00:00Z")
    if (!new java.io.File(s"$work/topic").exists()) {
      val messages = Ingest.encode(
        DataGen.backfill(spark, end)
          .withColumn("event_time", timestamp_micros(col("tus"))))
      messages.select("value").write.text(s"$work/topic")
      println(s"[demo] produced ${messages.count()} messages -> $work/topic")
    } else println(s"[demo] topic exists, skipping production (idempotent re-run)")

    // Task 3 — streaming pipeline: decode leniently, watermark, dual sink.
    val decoded = JsonDirSource(s"$work/topic").readStream(spark)
    val rawSink = LakeSink(s"$work/db/machine_sensors", partitionCols = Nil)
    val aggSink = LakeSink(s"$work/db/sensor_aggregates", partitionCols = Nil)
    val (rq, aq) = Pipeline.run(spark, decoded,
      writeRaw = b => rawSink.append(b),
      writeAgg = b => aggSink.append(b
        .withColumn("count_readings", col("count_readings").cast("int"))), // F4 narrowing
      checkpointDir = s"$work/ckpt")
    rq.awaitTermination(); aq.awaitTermination()
    val rawN = rawSink.read(spark).count()
    val aggN = aggSink.read(spark).count()
    println(s"[demo] stream wrote raw=$rawN agg=$aggN")

    // A1 as a first-class source: the same topic read through the
    // DataSourceV2 connector (column pruning + reader-side pushdown) —
    // must agree row-for-row with what the streaming pipeline ingested.
    val v2 = spark.read.format("graft.io.v2.SensorJsonSource").load(s"$work/topic")
    val v2N = v2.count()
    val v2Cnc = v2.filter(col("machine_id") === "CNC-001").count()
    println(s"[demo] V2 connector read: $v2N rows ($v2Cnc CNC-001, filter pushed)")

    // E1 — enrichment join the reference leaves unrealized.
    val enriched = Enrich.enrich(
      rawSink.read(spark), DataGen.machineDim(spark), Seq("machine_id"))
    println(s"[demo] enriched rows with machine_type/location: " +
      enriched.filter(col("machine_type").isNotNull).count())

    // Task 4/5 — nightly ETL: extract both tables → year/month/day lake,
    // with preflight probes, retry, and count verification.
    val r1 = NightlyEtl.runTable(spark,
      ParquetSource(s"$work/db/machine_sensors"),
      LakeSink(s"$work/lake/machine_sensors"), "timestamp")
    val r2 = NightlyEtl.runTable(spark,
      ParquetSource(s"$work/db/sensor_aggregates"),
      LakeSink(s"$work/lake/sensor_aggregates"), "window_end")
    println(s"[demo] lake: ${r1.name}=${r1.rows} ${r2.name}=${r2.rows}")

    // Task 1 — retention: keep 90 days (all, here), then a tight horizon
    // to show the cut.
    val raw = rawSink.read(spark).withColumn("tus", unix_micros(col("timestamp")))
    val kept90 = Retention.retain(raw, col("tus"), 90L * Tables.MicrosPerDay).count()
    val kept1 = Retention.retain(raw, col("tus"), 1L * Tables.MicrosPerDay).count()
    println(s"[demo] retention: 90d keeps $kept90, 1d keeps $kept1 of $rawN")

    require(rawN == 2688 && kept90 == rawN && kept1 < rawN && aggN > 0,
      "demo invariants violated")
    require(v2N == rawN && v2Cnc == rawN / 4,
      "V2 connector read diverged from the streaming ingest")
    println(s"[demo] OK workDir=$work")
    spark.stop()
  }
}
