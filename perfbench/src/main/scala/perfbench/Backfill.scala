package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.flow.NightlyEtl
import graft.gen.DataGen
import graft.io.{LakeSink, ParquetSource}
import graft.ops.Ingest
import graft.stream.Pipeline

/** Closed-loop drain of a generated fleet backfill: the topic's files,
  * in event-time order, through [[Pipeline.run]] (raw rows and 1-minute
  * aggregates, `PerTrigger` files per micro-batch), then
  * [[NightlyEtl.runTable]] on both sink tables into the year/month/day
  * lake. One drain is one operation; drains repeat until the run's
  * seconds are spent. */
final class Backfill(ctx: Ctx) extends Workload {
  val Days = 1
  val StepSeconds = 10L
  val TopicFiles = 8
  val PerTrigger = 2
  val WarmFiles = 2
  val End: Instant = Instant.parse("2025-01-08T00:00:00Z")
  private val endUs = End.toEpochMilli * 1000L
  private val startUs = endUs - Days * 86400L * 1000000L
  private val fileUs = (endUs - startUs) / TopicFiles

  private var topic = ""
  private var warmTopic = ""
  private var rows = 0L
  private var drains = 0
  private var last: Drain = _

  private case class Drain(dir: String, raw: BatchSink, agg: BatchSink, aq: StreamingQuery,
      startMs: Double, wallMs: Double, rawTableMs: Double, aggTableMs: Double)

  def generate(spark: SparkSession, round: Int): Unit = Spans("gen.topic") {
    topic = ctx.dir(s"topic-$round")
    warmTopic = ctx.dir(s"warm-topic-$round")
    val lines = Ingest.encode(
        DataGen.backfill(spark, End, days = Days, stepSeconds = StepSeconds, seed = ctx.seed)
          .orderBy("tus").withColumn("event_time", timestamp_micros(col("tus"))))
      .select("value").collect().map(_.getString(0))
    rows = lines.length.toLong
    val per = lines.length / TopicFiles
    require(per * TopicFiles == lines.length, s"${lines.length} messages do not split into $TopicFiles files")
    // One file per event-time slice, named and stamped in event-time
    // order, as a broker partition would deliver them.
    val base = System.currentTimeMillis() - TopicFiles * 1000L
    for (dir <- Seq(topic, warmTopic); f <- 0 until (if (dir == topic) TopicFiles else WarmFiles)) {
      val dst = Paths.get(f"$dir/f-$f%04d.json")
      Files.createDirectories(dst.getParent)
      Files.write(dst, lines.slice(f * per, (f + 1) * per).mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8))
      dst.toFile.setLastModified(base + f * 1000L)
    }
  }

  def warmUp(spark: SparkSession): Unit = { drain(spark, warmTopic); () }

  private def drain(spark: SparkSession, topic: String = topic): Drain = {
    drains += 1
    val dir = ctx.dir(s"drain-$drains")
    val raw = new BatchSink(s"$dir/raw")
    val agg = new BatchSink(s"$dir/agg")
    val t0 = Clock.ms()
    val aq = Spans("stream.drain") {
      val src = Ingest.decode(
        spark.readStream.option("maxFilesPerTrigger", PerTrigger).text(topic)
          .withColumnRenamed("value", "raw"), col("raw"))
      val qs = Pipeline.run(spark, src, raw.write, agg.write, s"$dir/ckpt")
      qs._1.awaitTermination()
      qs._2.awaitTermination()
      qs._2
    }
    val tStream = Clock.ms()
    Spans("flow.raw_table") {
      NightlyEtl.runTable(spark, ParquetSource(s"$dir/raw/*"), LakeSink(s"$dir/lake/raw"), "timestamp")
    }
    val tRaw = Clock.ms()
    Spans("flow.agg_table") {
      NightlyEtl.runTable(spark, ParquetSource(s"$dir/agg/*"), LakeSink(s"$dir/lake/agg"), "window_end")
    }
    val t1 = Clock.ms()
    last = Drain(dir, raw, agg, aq, t0, t1 - t0, tRaw - tStream, t1 - tRaw)
    last
  }

  def measure(spark: SparkSession): Map[String, Any] = {
    val budget = ctx.seconds * 1000.0
    val t0 = Clock.ms()
    val dirs = mutable.ArrayBuffer[Drain]()
    while (dirs.isEmpty || Clock.ms() - t0 < budget) dirs += drain(spark)
    // Which topic file landed in which raw micro-batch: files are
    // event-time slices, batches report their event-time range.
    val landing = dirs.map { d =>
      val ranges = spark.read.parquet(s"${d.dir}/raw/*")
        .withColumn("b", regexp_extract(input_file_name(), "batch-(\\d+)", 1).cast("long"))
        .groupBy("b").agg(min(unix_micros(col("timestamp"))).as("lo"),
          max(unix_micros(col("timestamp"))).as("hi"))
        .collect().map(r => Seq(r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      Map("start_ms" -> d.startMs, "raw_returned_ms" -> d.raw.returnedMap,
        "batch_event_us" -> ranges)
    }
    val (sinkFiles, sinkBytes) = dirs.map(d => Disk.usage(s"${d.dir}/raw") -> Disk.usage(s"${d.dir}/agg"))
      .map { case (a, b) => (a._1 + b._1, a._2 + b._2) }
      .foldLeft((0L, 0L)) { case (acc, x) => (acc._1 + x._1, acc._2 + x._2) }
    val (lakeFiles, lakeBytes) = Disk.usage(s"${last.dir}/lake")
    Map(
      "rows" -> rows,
      "drain_ms" -> dirs.map(_.wallMs).toSeq,
      "drains" -> landing.toSeq,
      "file_event_us" -> (0 until TopicFiles).map(f => Seq(startUs + f * fileUs, startUs + (f + 1) * fileUs - 1)),
      "layers" -> Map(
        "gen.rows" -> rows.toDouble,
        "gen.files" -> TopicFiles.toDouble,
        "io.sink_ms" -> dirs.map(d => d.raw.ms + d.agg.ms).sum,
        "io.sink_calls" -> dirs.map(d => d.raw.calls + d.agg.calls).sum.toDouble,
        "io.sink_files" -> sinkFiles.toDouble,
        "io.sink_bytes" -> sinkBytes.toDouble,
        "io.lake_files" -> lakeFiles.toDouble,
        "io.lake_bytes" -> lakeBytes.toDouble,
        "flow.raw_table_s" -> dirs.map(_.rawTableMs).sum / 1e3 / dirs.size,
        "flow.agg_table_s" -> dirs.map(_.aggTableMs).sum / 1e3 / dirs.size))
  }

  def check(spark: SparkSession): Seq[Check] = {
    val d = last
    val rawN = spark.read.parquet(s"${d.dir}/raw/*").count()
    val lakeN = LakeSink(s"${d.dir}/lake/raw").read(spark).count()
    val dropped = ProgressLog.droppedLate(d.aq.recentProgress.toSeq)
    // Finalized windows against a batch aggregate of the same input,
    // outside the final watermark horizon.
    val horizon = d.aq.recentProgress.toSeq.flatMap(p => Option(p.eventTime.get("watermark")))
      .lastOption.getOrElse("1970-01-01T00:00:00.000Z")
    val batch = Pipeline.windowedAggregates(Pipeline.prepare(
        Ingest.decode(spark.read.text(topic).withColumnRenamed("value", "raw"), col("raw"))))
      .filter(col("window_end") <= lit(horizon).cast("timestamp"))
    val streamed = spark.read.parquet(s"${d.dir}/agg/*")
    val cols = batch.columns.toSeq.map(col)
    val extra = streamed.select(cols: _*).exceptAll(batch.select(cols: _*)).count()
    val missing = batch.select(cols: _*).exceptAll(streamed.select(cols: _*)).count()
    val readings = streamed.agg(coalesce(sum("count_readings"), lit(0L))).head().getLong(0)
    Seq(
      Check("raw_rows", rawN == rows, s"raw sink $rawN of $rows"),
      Check("lake_rows", lakeN == rows, s"raw lake $lakeN of $rows"),
      Check("rows_dropped_late", dropped == 0, s"$dropped dropped by the watermark"),
      Check("windows_match_batch", extra == 0 && missing == 0 && readings > 0,
        s"$extra extra, $missing missing, $readings readings finalized by $horizon"))
  }

  /** The same drain at local[1]. */
  override def singleCore(spark: SparkSession): Map[String, Any] = {
    spark.stop()
    val one = ctx.session(1)
    drain(one)
    val wall = drain(one).wallMs
    one.stop()
    Map("drain_ms" -> wall)
  }
}
