package graft.stream

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.stream.Stateful.{AnomalyAlert, Keyed}

class StatefulSpec extends SparkSpec with graft.LowStatePartitions {
  import spark.implicits._

  private def r(t: Long, v: Double, m: String = "CNC-001") =
    Keyed(m, "temperature", t, v)

  test("anomaly runs close across micro-batches with per-key state") {
    val ms = MemoryStream[Keyed](spark)
    val alerts = Stateful.anomalyRuns(spark, ms.toDS(), lo = 80, hi = 90, minRun = 3)
    val name = s"alerts${System.nanoTime()}"
    val q = alerts.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      // run of 2 anomalies then recovery: below threshold, no alert
      ms.addData(Seq(r(1, 95), r(2, 96), r(3, 85)))
      q.processAllAvailable()
      // run of 4 spanning two batches, then recovery in batch 3
      ms.addData(Seq(r(10, 99), r(11, 99)))
      q.processAllAvailable()
      ms.addData(Seq(r(12, 99), r(13, 99), r(14, 85)))
      q.processAllAvailable()
      // independent machine: its own state
      ms.addData(Seq(r(20, 70, "WELD-004"), r(21, 71, "WELD-004"),
        r(22, 72, "WELD-004"), r(23, 85, "WELD-004")))
      q.processAllAvailable()
    } finally q.stop()

    val out = spark.table(name).as[AnomalyAlert].collect().toSeq.sortBy(_.toString)
    assert(out == Seq(
      AnomalyAlert("CNC-001", "temperature", 4, 10, 13),
      AnomalyAlert("WELD-004", "temperature", 3, 20, 22)))
  }

  test("open runs stay pending (no premature alert)") {
    val ms = MemoryStream[Keyed](spark)
    val alerts = Stateful.anomalyRuns(spark, ms.toDS(), 80, 90, 2)
    val name = s"open${System.nanoTime()}"
    val q = alerts.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      ms.addData(Seq(r(1, 95), r(2, 96), r(3, 97)))
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.table(name).count() == 0) // run never closed
  }

  test("dead-sensor timers fire on data ABSENCE once the watermark passes") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val S = 1000000L // 1 s in micros
      val ms = MemoryStream[Keyed](spark)
      val alerts = Stateful.deadSensors(spark, ms.toDS(), timeoutUs = 120 * S)
      val name = s"dead${System.nanoTime()}"
      val q = alerts.writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      try {
        // both sensors alive at t=10s (NOT t=0: the initial watermark
        // is epoch 0 and rows AT the watermark are dropped as late)
        ms.addData(Seq(r(10 * S, 85), r(10 * S, 85, "LATHE-002")))
        q.processAllAvailable()
        // only CNC keeps reporting; watermark advances to 300 s AFTER
        // this batch, so LATHE's 120 s timer fires in the NEXT batch
        ms.addData(Seq(r(300 * S, 85)))
        q.processAllAvailable()
        ms.addData(Seq(r(310 * S, 85)))
        q.processAllAvailable()
        // no repeat alert for an already-reported silence
        ms.addData(Seq(r(600 * S, 85)))
        q.processAllAvailable()
      } finally q.stop()
      val out = spark.table(name).as[Stateful.DeadSensorAlert].collect().toSeq
      assert(out === Seq(
        Stateful.DeadSensorAlert("LATHE-002", "temperature", 10 * S, 120 * S)))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }
}
