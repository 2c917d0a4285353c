package graft.stream

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

case class ValueEvent(event_time: java.sql.Timestamp, event_type: String,
  value: Double)

class DriftMonitorSpec extends SparkSpec with graft.LowStatePartitions {
  import spark.implicits._

  private def ev(t: String, typ: String, v: Double) =
    ValueEvent(java.sql.Timestamp.valueOf(t), typ, v)

  // reference histogram: bins 0 and 1 with 3 and 2 observations
  private def reference = Seq(
    ("click", 0L, 3L), ("click", 1L, 2L)).toDF("event_type", "bin", "rc")

  /** Drive the two-stage monitor over staged MemoryStream batches:
    * windowed histogram (append) → foreachBatch psiVsReference into a
    * memory-backed accumulator. */
  private def runMonitor(batches: Seq[Seq[ValueEvent]]): Seq[(String, Long)] = {
    val ms = MemoryStream[ValueEvent](spark)
    val hist = DriftMonitor.windowedHistogram(
      ms.toDF(), "1 minute", "30 seconds", binWidth = 5.0)
    val acc = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val q = hist.writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!b.isEmpty) {
          acc ++= DriftMonitor.psiVsReference(b, reference)
            .select(date_format(col("window_start"), "HH:mm").as("ws"),
              col("psi_x1e6"))
            .collect().map(r => (r.getString(0), r.getLong(1)))
        }
        ()
      }.start()
    try batches.foreach { b => ms.addData(b); q.processAllAvailable() }
    finally q.stop()
    acc.toSeq
  }

  test("matching window scores PSI = 0 exactly; shifted window alarms; stream ≡ batch") {
    // window 10:00 reproduces the reference EXACTLY (3 in bin 0, 2 in
    // bin 1); window 10:02 lands everything in bin 10 (drift)
    val w1 = Seq(ev("2025-01-01 10:00:05", "click", 1.0),
      ev("2025-01-01 10:00:10", "click", 2.0),
      ev("2025-01-01 10:00:20", "click", 3.0),
      ev("2025-01-01 10:00:30", "click", 6.0),
      ev("2025-01-01 10:00:40", "click", 7.0))
    val w2 = Seq.tabulate(5)(i => ev(s"2025-01-01 10:02:0$i", "click", 52.0 + i % 3))
    val flush = Seq(ev("2025-01-01 10:09:00", "click", 1.0))
    val rows = runMonitor(Seq(w1, w2, flush))
    val out = rows.toMap
    assert(rows.size == out.size, s"each window must score once: $rows")
    // identical counts → every bin has ca = cb → psi exactly 0
    assert(out("10:00") == 0L, s"matching window must score 0: $out")
    // full shift → well past the 0.25 retrain threshold
    assert(out("10:02") > 250000L, s"shifted window must alarm: $out")
    // stream ≡ batch replica on the same (finalized) windows
    val batch = DriftMonitor.monitorBatch(
        (w1 ++ w2).toDF(), reference, "1 minute", binWidth = 5.0)
      .select(date_format(col("window_start"), "HH:mm").as("ws"),
        col("psi_x1e6"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(out == batch, s"stream $out != batch $batch")
  }

  test("reference-only and window-only bins surface as explicit zero counts") {
    // window has bins {0, 10}; reference has {0, 1} → union of 3 bins
    val w1 = Seq(ev("2025-01-01 10:00:05", "click", 1.0),
      ev("2025-01-01 10:00:10", "click", 52.0))
    val flush = Seq(ev("2025-01-01 10:05:00", "click", 1.0))
    val hist = DriftMonitor.monitorBatch(
      w1.toDF(), reference, "1 minute", binWidth = 5.0)
    val r = hist.filter(date_format(col("window_start"), "HH:mm") === "10:00").head()
    assert(r.getAs[Long]("n_bins") == 3L)
    assert(r.getAs[Long]("na") == 2L && r.getAs[Long]("nb") == 5L)
    assert(r.getAs[Long]("psi_x1e6") > 0L)
    // and the streamed path agrees (single window, flushed)
    val streamed = runMonitor(Seq(w1, flush))
      .filter(_._1 == "10:00").map(_._2)
    assert(streamed == Seq(r.getAs[Long]("psi_x1e6")))
  }

  test("KS monitor: identical distribution scores D = 0; disjoint scores 1e6; stream ≡ batch") {
    // reference on the centi-quantized axis: values 1.00 ×3, 2.00 ×2
    val ksRef = Seq(("click", 100L, 3L), ("click", 200L, 2L))
      .toDF("event_type", "vc", "rc")
    val w1 = Seq(ev("2025-01-01 10:00:05", "click", 1.0),
      ev("2025-01-01 10:00:10", "click", 1.0),
      ev("2025-01-01 10:00:20", "click", 1.0),
      ev("2025-01-01 10:00:30", "click", 2.0),
      ev("2025-01-01 10:00:40", "click", 2.0))
    val w2 = Seq.tabulate(4)(i => ev(s"2025-01-01 10:02:0$i", "click", 50.0 + i))
    val flush = Seq(ev("2025-01-01 10:09:00", "click", 1.0))

    val ms = MemoryStream[ValueEvent](spark)
    val vals = DriftMonitor.windowedValues(ms.toDF(), "1 minute", "30 seconds")
    val acc = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val q = vals.writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!b.isEmpty) {
          acc ++= DriftMonitor.ksVsReference(b, ksRef)
            .select(date_format(col("window_start"), "HH:mm").as("ws"),
              col("d_x1e6"))
            .collect().map(r => (r.getString(0), r.getLong(1)))
        }
        ()
      }.start()
    try Seq(w1, w2, flush).foreach { b => ms.addData(b); q.processAllAvailable() }
    finally q.stop()
    val out = acc.toMap
    assert(acc.size == out.size, s"each window must score once: $acc")
    // exact match of the reference distribution → D = 0
    assert(out("10:00") == 0L, s"matching window must score 0: $out")
    // entirely above the reference's support → D = 1 exactly
    assert(out("10:02") == 1000000L, s"disjoint window must score 1e6: $out")
    // stream ≡ batch replica
    val batch = DriftMonitor.monitorKsBatch((w1 ++ w2).toDF(), ksRef, "1 minute")
      .select(date_format(col("window_start"), "HH:mm").as("ws"), col("d_x1e6"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(out == batch, s"stream $out != batch $batch")
  }

  test("late rows past the watermark do not reopen a finalized window's histogram") {
    val w1 = Seq(ev("2025-01-01 10:00:05", "click", 1.0),
      ev("2025-01-01 10:00:10", "click", 2.0))
    val advance = Seq(ev("2025-01-01 10:03:00", "click", 1.0))
    val late = Seq(ev("2025-01-01 10:00:20", "click", 3.0)) // dropped
    val flush = Seq(ev("2025-01-01 10:09:00", "click", 1.0))
    val out = runMonitor(Seq(w1, advance, late, flush))
    val w1000 = out.filter(_._1 == "10:00")
    assert(w1000.length == 1, s"finalized window must emit exactly once: $out")
    // na = 2 (late row excluded): PSI reflects the 2-row histogram
    val expected = DriftMonitor.monitorBatch(
        w1.toDF(), reference, "1 minute", binWidth = 5.0)
      .select(col("psi_x1e6")).head().getLong(0)
    assert(w1000.head._2 == expected)
  }
}
