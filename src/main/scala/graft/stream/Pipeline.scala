package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.{Ingest, Windows}

/** The streaming pipeline — the reference's Task 3
  * (flink-jobs/sensor_aggregation.py), Spark-native.
  *
  * Semantics reproduced (SURVEY §2 J1-J7):
  *  - event time from the message's ISO string (J1, C1);
  *  - 5-second watermark; rows later than the watermark are dropped once
  *    their window's state is evicted (J2/J3) — `outputMode(append)`
  *    emits each finalized window exactly once;
  *  - dual-sink fan-out (J4): Flink's statement set optimizes two
  *    INSERTs into one source scan. [[run]] maps it to two queries over
  *    the same prepared frame — finalized append-mode windows, source
  *    read once per query. The queries run concurrently, so neither
  *    sink's writes wait for the other's.
  *  - checkpointing → exactly-once into files, at-least-once into
  *    JDBC-shaped sinks (J6), matching the reference's guarantees.
  *
  * Scale notes: the windowed agg is a partial+final HashAggregate over
  * the state store — shuffle volume is O(open windows × keys), not
  * O(rows); state is bounded by the watermark. The raw branch is pure
  * map-side projection.
  */
object Pipeline {

  /** Decoded stream → event-timed, watermarked frame (J1/J2). */
  def prepare(decoded: DataFrame, watermark: String = "5 seconds"): DataFrame =
    Ingest.withEventTime(decoded, col("timestamp"))
      .withColumn("event_time", col("event_time").cast("timestamp"))
      .withWatermark("event_time", watermark)

  /** Streaming tumbling/sliding aggregate (F1/F2 under a watermark) —
    * the same Windows expression the batch path uses (F3 equivalence). */
  def windowedAggregates(prepared: DataFrame, size: String = "1 minute",
      slide: Option[String] = None): DataFrame =
    Windows.windowedAgg(prepared, col("event_time"), size, slide,
      Seq(col("machine_id"), col("sensor_type")), col("value"))

  /** Raw pass-through projection (C2): event-timed readings shaped like
    * the machine_sensors sink (sensor_aggregation.py:76-80). */
  def rawRows(prepared: DataFrame): DataFrame =
    prepared.select(
      col("machine_id"), col("sensor_type"), col("value"),
      col("event_time").as("timestamp"))

  /** Raw rows with the machine dimension REALIZED — the reference's
    * machine_sensors schema has machine_type/location columns its
    * insert leaves NULL (`init-db.sql:9,12` vs
    * `sensor_aggregation.py:76-80`); this is the first-class enriched
    * variant. Broadcast hash join per micro-batch: the dim is tiny and
    * the stream stays shuffle-free (Enrich E1 inside the stream). */
  def rawRowsEnriched(prepared: DataFrame, machines: DataFrame): DataFrame =
    graft.ops.Enrich.enrich(rawRows(prepared), machines, Seq("machine_id"))
      .select(col("timestamp"), col("machine_id"), col("machine_type"),
        col("sensor_type"), col("value"), col("location"))

  /** Start the dual-sink pipeline: branch A raw pass-through, branch B
    * finalized 1-minute windows; both checkpointed, both driven to
    * completion of available input with `AvailableNow` (tests/backfill)
    * or left running with the default trigger.
    *
    * @return (rawQuery, aggQuery)
    */
  def run(
      spark: SparkSession,
      decoded: DataFrame,
      writeRaw: DataFrame => Unit,
      writeAgg: DataFrame => Unit,
      checkpointDir: String,
      availableNow: Boolean = true): (StreamingQuery, StreamingQuery) = {
    val prepared = prepare(decoded)

    def trigger[T](w: org.apache.spark.sql.streaming.DataStreamWriter[T]) =
      if (availableNow) w.trigger(Trigger.AvailableNow()) else w

    val raw = trigger(rawRows(prepared).writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$checkpointDir/raw")
      .foreachBatch { (batch: DataFrame, _: Long) => writeRaw(batch) })
      .start()

    val agg = trigger(windowedAggregates(prepared).writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$checkpointDir/agg")
      .foreachBatch { (batch: DataFrame, _: Long) => writeAgg(batch) })
      .start()

    (raw, agg)
  }

  // ---- streaming dedup + correlation (J-family extensions) -------------

  /** Exactly-once-per-reading semantics on an at-least-once transport:
    * drop duplicate messages by business key within the watermark
    * (`dropDuplicatesWithinWatermark` keeps state only until the
    * watermark passes each key's event time — bounded, unlike the
    * unbounded classic dropDuplicates). The IIoT shape: a producer
    * retry re-sends (machine, sensor, timestamp) — dedup restores the
    * reference's effective exactly-once table content. */
  def dedupedStream(prepared: DataFrame,
      keys: Seq[String] = Seq("machine_id", "sensor_type", "event_time")): DataFrame =
    prepared.dropDuplicatesWithinWatermark(keys)

  /** Per-window streaming heavy hitters: the Misra–Gries sketch
    * (ext.HeavyHitters, batch-proven bounds) as a windowed streaming
    * aggregate under the watermark. The sketch buffer is MERGEABLE, so
    * it rides Spark's partial aggregation inside each micro-batch and
    * the state-store merge across batches — per-window state is O(k)
    * counters however many readings the window sees, and windows
    * finalize exactly once in append mode. The 100 TB shape for
    * "top talkers per minute" without per-key exact state.
    *
    * @param k counter budget (tracks ≤ k−1 items, error ≤ window_n/k)
    */
  def windowedHeavyHitters(prepared: DataFrame, size: String = "1 minute",
      k: Int = 9): DataFrame = {
    val mg = udaf(new graft.ext.HeavyHitters.MisraGries(k),
      org.apache.spark.sql.Encoders.STRING)
    prepared
      .select(col("event_time"),
        concat_ws(":", col("machine_id"), col("sensor_type")).as("item"))
      .groupBy(window(col("event_time"), size).as("w"))
      .agg(mg(col("item")).as("hh"))
      .select(col("w.start").as("window_start"),
        posexplode(col("hh")).as(Seq("rank", "h")))
      .select(col("window_start"), (col("rank") + 1).as("rank"),
        col("h._1").as("item"), col("h._2").as("est_count"))
  }

  /** Stream-stream interval join: pair each left event with right
    * events for the same key within `[leftTs - lookback, leftTs]` —
    * e.g. readings correlated with the alerts that preceded them.
    * Both sides carry watermarks, so join state is purged once the
    * watermark passes the interval bound (state O(window), not
    * O(stream)); Spark requires exactly this combination — equality
    * key + two-sided event-time bound — to plan a state-bounded
    * streaming join, whatever the join type.
    *
    * `joinType` is `inner`, `left_outer` or `full_outer`. The outer
    * forms emit unmatched events null-padded: "readings that had no
    * preceding alert" (left) and also "alerts that no reading
    * followed" (full). An unmatched left row can only be emitted once
    * the left watermark passes its interval (before that a match could
    * still arrive), an unmatched right row once the right watermark
    * passes `rightTime + lookback`; so outer results trail the inner
    * ones by the watermark delay — same rows as a batch join on the
    * closed stream, later arrival. Outer joins add no state, only the
    * "emit leftover as null-padded on eviction" action. `key` is the
    * coalesce of both sides' keys, which a full outer join needs for
    * its right-only rows and which is the left key otherwise. */
  def correlate(
      left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String, lookback: String,
      joinType: String): DataFrame = {
    val r = right.withColumnRenamed(key, s"__rk")
    left.join(r,
      expr(s"$key = __rk AND " +
        s"$rightTime BETWEEN $leftTime - INTERVAL $lookback AND $leftTime"),
      joinType)
      .withColumn(key, coalesce(col(key), col("__rk")))
      .drop("__rk")
  }
}
