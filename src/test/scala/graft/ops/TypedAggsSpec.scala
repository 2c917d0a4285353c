package graft.ops

import graft.SparkSpec
import graft.model.SensorReading

class TypedAggsSpec extends SparkSpec {
  import spark.implicits._

  test("typed SensorStats matches the untyped standard aggregates") {
    val readings = Seq(
      SensorReading("t1", "CNC-001", "temperature", 80.0),
      SensorReading("t2", "CNC-001", "temperature", 90.0),
      SensorReading("t3", "CNC-001", "vibration", 1.5),
      SensorReading("t4", "LATHE-002", "temperature", 85.0)).toDS()

    val rows = readings
      .groupByKey(r => (r.machine_id, r.sensor_type))
      .agg(TypedAggs.sensorStats)
      .collect()
    val got = rows.toMap
    assert(rows.length == 3, "one row per key")

    val cnc = got(("CNC-001", "temperature"))
    assert(cnc.count == 2 && cnc.min == 80.0 && cnc.max == 90.0 && cnc.avg == 85.0)
    assert(got(("CNC-001", "vibration")).count == 1)
    assert(got(("LATHE-002", "temperature")).avg == 85.0)
  }

  test("buffer merges are associative across partitions") {
    val many = (1 to 1000).map(i =>
      SensorReading(s"t$i", "M", "s", i.toDouble)).toDS().repartition(13)
    val rows = many.groupByKey(_.machine_id).agg(TypedAggs.sensorStats).collect()
    assert(rows.length == 1, "one row for the one key")
    val s = rows.head._2
    assert(s.count == 1000 && s.min == 1.0 && s.max == 1000.0 && s.avg == 500.5)
  }
}
