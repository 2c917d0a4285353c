package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

class WindowsSpec extends SparkSpec {
  import spark.implicits._

  private val MinUs = 60000000L

  // rows straddling a minute boundary at t=60s: [start, end) semantics
  private def readings = Seq(
    ("m1", "temp", 59999999L, 10.0), // last µs of window 0
    ("m1", "temp", 60000000L, 20.0), // first µs of window 1
    ("m1", "temp", 60000001L, 30.0),
    ("m2", "temp", 1L, 40.0)
  ).toDF("machine_id", "sensor_type", "tus", "value")

  test("tumbling window is half-open [start, end)") {
    val out = Windows
      .tumblingAggUs(readings, col("tus"), MinUs,
        Seq(col("machine_id"), col("sensor_type")), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(6)))
      .toSeq.sorted
    assert(out == Seq((0L, "m1", 1L), (0L, "m2", 1L), (60000000L, "m1", 2L)))
  }

  test("tumbling windows partition the input: counts sum to row count") {
    val df = graft.Tables.events(spark, sf)
    val total = Windows
      .tumblingAggUs(df, graft.Tables.tsUs, MinUs, Seq(col("user_id")), col("value"))
      .agg(sum("count_readings")).as[Long].head()
    assert(total == df.count())
  }

  test("sliding 1min/30s: every row lands in exactly 2 windows") {
    val df = graft.Tables.events(spark, sf)
    val total = Windows
      .slidingAggUs(df, graft.Tables.tsUs, MinUs, 30000000L,
        Seq(col("user_id")), col("value"))
      .agg(sum("count_readings")).as[Long].head()
    assert(total == 2 * df.count())
  }

  test("agg invariants: min <= avg <= max, count = group size") {
    val out = Windows.tumblingAggUs(readings, col("tus"), MinUs,
      Seq(col("machine_id")), col("value"))
    val bad = out.filter(
      col("min_value") > col("avg_value") || col("avg_value") > col("max_value"))
    assert(bad.count() == 0)
  }

  test("batch windowedAgg flattens window struct to start/end columns") {
    val df = readings.withColumn("event_time", timestamp_micros(col("tus")))
    val out = Windows.windowedAgg(df, col("event_time"), "1 minute", None,
      Seq(col("machine_id")), col("value"))
    assert(out.columns.toSet.contains("window_start"))
    assert(out.columns.toSet.contains("window_end"))
    // window() epoch alignment matches the integer bucket math
    val viaStruct = out
      .select(unix_micros(col("window_start")), col("count_readings"))
      .as[(Long, Long)].collect().toSeq.sorted
    val viaLongs = Windows
      .tumblingAggUs(readings, col("tus"), MinUs, Seq(col("machine_id")), col("value"))
      .select(col("window_start_us"), col("count_readings"))
      .as[(Long, Long)].collect().toSeq.sorted
    assert(viaStruct == viaLongs)
  }
}
