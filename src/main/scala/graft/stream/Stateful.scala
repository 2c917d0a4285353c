package graft.stream

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions.{col, timestamp_micros}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState,
  GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode,
  TimerValues, ValueState}

/** Custom keyed state via `flatMapGroupsWithState` (SURVEY §2 J
  * extension surface; the reference has no stateful op beyond windows,
  * but an IIoT pipeline's canonical custom-state need is anomaly-run
  * detection: "alert when a sensor is out of range for N consecutive
  * readings").
  *
  * State per (machine_id, sensor_type): the open run of out-of-range
  * readings. A run closes (and emits an alert) when an in-range reading
  * arrives after ≥ minRun anomalous ones. State is O(keys) — bounded by
  * the dimension cardinality, not the stream length.
  */
object Stateful {

  case class Keyed(
      machine_id: String, sensor_type: String, tus: Long, value: Double)

  case class RunState(count: Int, startUs: Long, lastUs: Long)

  case class AnomalyAlert(
      machine_id: String, sensor_type: String,
      run_length: Int, start_us: Long, end_us: Long)

  /** @param lo/hi inclusive in-range bounds per reading value
    * @param minRun emit when a closed run has at least this many readings */
  def anomalyRuns(
      spark: SparkSession,
      readings: Dataset[Keyed],
      lo: Double, hi: Double, minRun: Int): Dataset[AnomalyAlert] = {
    import spark.implicits._
    readings
      .groupByKey(r => (r.machine_id, r.sensor_type))
      .flatMapGroupsWithState[RunState, AnomalyAlert](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (String, String), rows: Iterator[Keyed], state: GroupState[RunState]) =>
          val (m, st) = key
          // micro-batch rows arrive unordered within the group
          val sorted = rows.toSeq.sortBy(_.tus)
          var cur = state.getOption
          val alerts = Seq.newBuilder[AnomalyAlert]
          sorted.foreach { r =>
            val anomalous = r.value < lo || r.value > hi
            cur match {
              case Some(run) if anomalous =>
                cur = Some(RunState(run.count + 1, run.startUs, r.tus))
              case Some(run) =>
                if (run.count >= minRun)
                  alerts += AnomalyAlert(m, st, run.count, run.startUs, run.lastUs)
                cur = None
              case None if anomalous =>
                cur = Some(RunState(1, r.tus, r.tus))
              case None => ()
            }
          }
          cur match {
            case Some(run) => state.update(run)
            case None      => state.remove()
          }
          alerts.result().iterator
      }
  }

  case class DeadSensorAlert(
      machine_id: String, sensor_type: String,
      last_seen_us: Long, silent_for_us: Long)

  /** Dead-sensor (data-timeout) detector — the alert NO windowed
    * aggregate can produce, because it fires on the ABSENCE of data:
    * a sensor that stops reporting never contributes a row for any
    * window to aggregate. Event-time timers are the right primitive:
    * every reading re-arms a per-key timer at lastSeen + timeout; when
    * the WATERMARK (driven by the other, still-alive keys) passes an
    * armed expiry with no new reading, [[handleExpiredTimer]] emits
    * the alert. One alert per silence: state clears on fire and the
    * next reading restarts the cycle. State + timers are O(keys) —
    * dimension-cardinality bounded, RocksDB-backed at scale. */
  class DeadSensorProcessor(timeoutUs: Long)
      extends StatefulProcessor[(String, String), Keyed, DeadSensorAlert] {
    @transient private var lastSeen: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      lastSeen = getHandle.getValueState[Long](
        "lastSeen", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(
        key: (String, String),
        rows: Iterator[Keyed],
        timerValues: TimerValues): Iterator[DeadSensorAlert] = {
      val maxT = rows.map(_.tus).max
      val last = if (lastSeen.exists()) math.max(lastSeen.get(), maxT) else maxT
      lastSeen.update(last)
      // re-arm: exactly one live timer per key, at lastSeen + timeout.
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      getHandle.registerTimer(last / 1000L + timeoutUs / 1000L)
      Iterator.empty
    }

    override def handleExpiredTimer(
        key: (String, String),
        timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[DeadSensorAlert] = {
      val (m, st) = key
      if (lastSeen.exists()) {
        val last = lastSeen.get()
        lastSeen.clear()
        Iterator.single(DeadSensorAlert(m, st, last,
          expiredTimerInfo.getExpiryTimeInMs * 1000L - last))
      } else Iterator.empty
    }
  }

  /** [[DeadSensorProcessor]] wired to a watermarked stream (event-time
    * TimeMode requires one — the watermark is what "advances time" for
    * the silent keys). */
  def deadSensors(
      spark: SparkSession,
      readings: Dataset[Keyed],
      timeoutUs: Long): Dataset[DeadSensorAlert] = {
    import spark.implicits._
    readings
      .withColumn("event_time", timestamp_micros(col("tus")))
      .withWatermark("event_time", "0 seconds")
      .as[Keyed]
      .groupByKey(r => (r.machine_id, r.sensor_type))
      .transformWithState(new DeadSensorProcessor(timeoutUs),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
