package graft.stream

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.SensorReading

class PipelineSpec extends SparkSpec with graft.LowStatePartitions {
  import spark.implicits._

  private def reading(t: String, m: String = "CNC-001", s: String = "temperature",
      v: Double = 85.0) = SensorReading(t, m, s, v)

  private def tmp(): String =
    Files.createTempDirectory("graft-stream").toString

  /** Run the windowed-agg branch over staged MemoryStream batches;
    * returns finalized (append-mode) windows. */
  private def runAgg(batches: Seq[Seq[SensorReading]], slide: Option[String] = None): Array[(String, String, Long)] = {
    val ms = MemoryStream[SensorReading](spark)
    val prepared = Pipeline.prepare(ms.toDF())
    val agg = Pipeline.windowedAggregates(prepared, "1 minute", slide)
    val name = s"aggout${System.nanoTime()}"
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      batches.foreach { b => ms.addData(b); q.processAllAvailable() }
    } finally q.stop()
    spark.table(name)
      .select(date_format(col("window_start"), "HH:mm").as("ws"),
        col("machine_id"), col("count_readings"))
      .as[(String, String, Long)].collect()
  }

  test("windows finalize when the watermark passes window end (J3)") {
    val out = runAgg(Seq(
      Seq(reading("2025-01-01T10:00:10"), reading("2025-01-01T10:00:30")),
      // next batch advances watermark past 10:01 → 10:00 window emits
      Seq(reading("2025-01-01T10:02:00")),
      Seq(reading("2025-01-01T10:04:00"))))
    assert(out.toSet.contains(("10:00", "CNC-001", 2L)))
    // 10:04 window is still open (watermark never passed it): not emitted
    assert(!out.map(_._1).contains("10:04"))
  }

  test("late rows beyond the watermark are dropped (J2/D2)") {
    val out = runAgg(Seq(
      Seq(reading("2025-01-01T10:00:10")),
      Seq(reading("2025-01-01T10:02:00")), // watermark → 10:01:55, closes 10:00
      Seq(reading("2025-01-01T10:00:40")), // late: window already finalized
      Seq(reading("2025-01-01T10:04:00"))))
    val w1000 = out.filter(_._1 == "10:00")
    assert(w1000.map(_._3).sum == 1L) // late row not counted
  }

  test("batch ≡ stream: same windows from the same input (F1 ≡ F3)") {
    val rows = Seq(
      reading("2025-01-01T10:00:05", v = 10),
      reading("2025-01-01T10:00:55", v = 20),
      reading("2025-01-01T10:01:05", v = 30),
      reading("2025-01-01T10:02:30", v = 40),
      reading("2025-01-01T10:05:00", v = 0)) // sentinel to close earlier windows
    val streamed = runAgg(Seq(rows.take(4), rows.drop(4))).toSet
    // same operator, batch mode (withWatermark is a no-op on batch frames)
    val batch = Pipeline
      .windowedAggregates(Pipeline.prepare(rows.toDF()))
      .select(date_format(col("window_start"), "HH:mm"),
        col("machine_id"), col("count_readings"))
      .as[(String, String, Long)].collect().toSet
    // every streamed (finalized) window appears identically in batch
    assert(streamed.subsetOf(batch))
    assert(streamed.nonEmpty)
  }

  test("sliding streaming windows double-count like batch (F2)") {
    val out = runAgg(Seq(
      Seq(reading("2025-01-01T10:00:40")),
      Seq(reading("2025-01-01T10:03:00"))), slide = Some("30 seconds"))
    // row at 10:00:40 belongs to windows starting 10:00:00 and 10:00:30
    assert(out.count(_._3 == 1L) == 2)
  }

  test("checkpoint recovery: restart processes only new files, no dupes (J6)") {
    val dir = tmp()
    def msg(t: String, m: String) =
      s"""{"timestamp":"$t","machine_id":"$m","sensor_type":"temperature","value":85.0}"""
    Files.write(java.nio.file.Paths.get(s"$dir/b1.json"),
      msg("2025-01-01T10:00:10", "CNC-001").getBytes)

    var rawTotal = 0L
    def runOnce(): Unit = {
      val decoded = graft.io.JsonDirSource(dir).readStream(spark)
      val q = Pipeline.rawRows(Pipeline.prepare(decoded)).writeStream
        .outputMode("append")
        .option("checkpointLocation", s"$dir/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          rawTotal += b.count()
        }.start()
      q.awaitTermination(60000); ()
    }
    runOnce()
    assert(rawTotal == 1)
    // restart with one new file: only it is processed
    Files.write(java.nio.file.Paths.get(s"$dir/b2.json"),
      msg("2025-01-01T10:00:20", "LATHE-002").getBytes)
    runOnce()
    assert(rawTotal == 2) // not 3 — b1 was not reprocessed
  }

  test("streaming dedup within watermark drops producer retries (exactly-once repair)") {
    val ms = MemoryStream[SensorReading](spark)
    val deduped = Pipeline.dedupedStream(Pipeline.prepare(ms.toDF()))
      .select(col("machine_id"), date_format(col("event_time"), "HH:mm:ss").as("t"))
    val name = s"dd${System.nanoTime()}"
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      // duplicate within one batch AND re-sent in the next batch
      ms.addData(Seq(reading("2025-01-01T10:00:10"), reading("2025-01-01T10:00:10"),
        reading("2025-01-01T10:00:20")))
      q.processAllAvailable()
      ms.addData(Seq(reading("2025-01-01T10:00:10"), // retry, still inside watermark
        reading("2025-01-01T10:00:25")))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table(name).as[(String, String)].collect().toSeq
    assert(rows.size == 3) // 10:00:10 appears ONCE despite 3 sends
    assert(rows.count(_._2 == "10:00:10") == 1)
  }

  test("windowed streaming heavy hitters: MG sketch per finalized window (bounded state)") {
    def run(k: Int): Array[(String, String, Long)] = {
      val ms = MemoryStream[SensorReading](spark)
      val hh = Pipeline.windowedHeavyHitters(
        Pipeline.prepare(ms.toDF()), "1 minute", k)
      val name = s"hhout${System.nanoTime()}"
      val q = hh.writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      try {
        // 10:00 window: CNC-001:temperature dominates (6 of 9 readings)
        ms.addData((1 to 6).map(i => reading(f"2025-01-01T10:00:$i%02d")) ++
          Seq(reading("2025-01-01T10:00:21", "CNC-002", "vibration"),
            reading("2025-01-01T10:00:22", "CNC-003", "pressure"),
            reading("2025-01-01T10:00:23", "CNC-004", "humidity")))
        q.processAllAvailable()
        ms.addData(Seq(reading("2025-01-01T10:03:00"))) // close 10:00
        q.processAllAvailable()
      } finally q.stop()
      spark.table(name)
        .select(date_format(col("window_start"), "HH:mm").as("ws"),
          col("item"), col("est_count"))
        .as[(String, String, Long)].collect()
    }
    // Budget above distinct-item count: the sketch is EXACT.
    val exact = run(k = 17).filter(_._1 == "10:00").toSet
    assert(exact.contains(("10:00", "CNC-001:temperature", 6L)), s"$exact")
    assert(exact.size == 4)
    // Tight budget (k=3: ≤2 counters survive): the counter budget bounds
    // the output at k − 1 rows per window, and the dominant item must
    // survive with the MG bound est ≥ true − n/k = 6 − 3 = 3.
    val tightAll = run(k = 3)
    assert(tightAll.groupBy(_._1).values.forall(_.length <= 2),
      s"MG output must stay within k − 1 = 2 rows per window: ${tightAll.toSeq}")
    val tight = tightAll.filter(_._1 == "10:00")
    val top = tight.find(_._2 == "CNC-001:temperature")
    assert(top.nonEmpty && top.get._3 >= 3L,
      s"dominant item must survive a tight budget with the MG bound: ${tight.toSeq}")
  }

  test("stream-stream interval join correlates readings with preceding alerts (bounded state)") {
    val readings = MemoryStream[SensorReading](spark)
    val alerts = MemoryStream[SensorReading](spark)
    val l = Pipeline.prepare(readings.toDF())
      .select(col("machine_id"), col("value"), col("event_time"))
    val r = Pipeline.prepare(alerts.toDF(), watermark = "5 seconds")
      .select(col("machine_id"), col("value").as("alert_value"),
        col("event_time").as("alert_time"))
    val joined = Pipeline.correlate(l, r, "machine_id",
      "event_time", "alert_time", "30 SECONDS", "inner")
      .select(col("machine_id"),
        date_format(col("event_time"), "HH:mm:ss").as("rt"),
        date_format(col("alert_time"), "HH:mm:ss").as("at"))
    val name = s"ssj${System.nanoTime()}"
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      alerts.addData(Seq(reading("2025-01-01T10:00:00", v = 99),
        reading("2025-01-01T10:03:00", "LATHE-002", v = 98)))
      readings.addData(Seq(
        reading("2025-01-01T10:00:20"),              // 20 s after alert → pair
        reading("2025-01-01T10:01:30"),              // 90 s after → outside 30 s
        reading("2025-01-01T10:00:10", "LATHE-002"))) // other machine's alert is later
      q.processAllAvailable()
      // advance both watermarks so results finalize
      alerts.addData(Seq(reading("2025-01-01T10:10:00", v = 0)))
      readings.addData(Seq(reading("2025-01-01T10:10:00")))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table(name).as[(String, String, String)].collect().toSet
    assert(out.contains(("CNC-001", "10:00:20", "10:00:00")))
    assert(!out.exists(_._2 == "10:01:30"))
    assert(!out.exists(r => r._1 == "LATHE-002" && r._2 == "10:00:10"))
  }

  test("interval-join state is PURGED at the watermark — metrics-proven, not just claimed") {
    // The J-family scale claim is that join state is O(window), not
    // O(stream). Prove it with the engine's own state-store metrics:
    // load 200 readings into open intervals (state grows to hold
    // them), then advance the watermark far past every interval and
    // assert numRowsTotal collapses to the sentinel horizon.
    val readings = MemoryStream[SensorReading](spark)
    val alerts = MemoryStream[SensorReading](spark)
    val l = Pipeline.prepare(readings.toDF())
      .select(col("machine_id"), col("value"), col("event_time"))
    val r = Pipeline.prepare(alerts.toDF(), watermark = "5 seconds")
      .select(col("machine_id"), col("value").as("alert_value"),
        col("event_time").as("alert_time"))
    val joined = Pipeline.correlate(l, r, "machine_id",
      "event_time", "alert_time", "30 SECONDS", "inner")
    val name = s"ssjstate${System.nanoTime()}"
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      val base = java.time.Instant.parse("2025-01-01T10:00:00Z")
      readings.addData((0 until 200).map(i =>
        reading(base.plusSeconds(i).toString.dropRight(1))))
      alerts.addData(Seq(reading("2025-01-01T10:00:30", v = 99)))
      q.processAllAvailable()
      val peak = q.recentProgress
        .map(p => p.stateOperators.map(_.numRowsTotal).sum).max
      // two sentinel waves: the first advances the watermark, the
      // second runs WITH it so eviction is reflected in its progress
      for (t <- Seq("2025-01-01T10:40:00", "2025-01-01T10:41:00")) {
        readings.addData(Seq(reading(t)))
        alerts.addData(Seq(reading(t, v = 0)))
        q.processAllAvailable()
      }
      val after = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(peak >= 200L,
        s"state must first hold every open interval (peak=$peak)")
      assert(after <= 10L,
        s"watermark must purge closed-interval state (rows left=$after)")
    } finally q.stop()
  }

  test("left-outer interval join emits null-padded rows once the watermark closes the interval") {
    val readings = MemoryStream[SensorReading](spark)
    val alerts = MemoryStream[SensorReading](spark)
    val l = Pipeline.prepare(readings.toDF())
      .select(col("machine_id"), col("value"), col("event_time"))
    val r = Pipeline.prepare(alerts.toDF(), watermark = "5 seconds")
      .select(col("machine_id"), col("value").as("alert_value"),
        col("event_time").as("alert_time"))
    val joined = Pipeline.correlate(l, r, "machine_id",
      "event_time", "alert_time", "30 SECONDS", "left_outer")
      .select(col("machine_id"),
        date_format(col("event_time"), "HH:mm:ss").as("rt"),
        date_format(col("alert_time"), "HH:mm:ss").as("at"))
    val name = s"ssoj${System.nanoTime()}"
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      alerts.addData(Seq(reading("2025-01-01T10:00:00", v = 99)))
      readings.addData(Seq(
        reading("2025-01-01T10:00:20"),               // alerted → matched pair
        reading("2025-01-01T10:01:30"),               // 90 s after → UNmatched
        reading("2025-01-01T10:00:10", "LATHE-002"))) // no alert at all → UNmatched
      q.processAllAvailable()
      // null-padded rows only finalize once watermarks pass the open
      // intervals — advance both streams well beyond them.
      alerts.addData(Seq(reading("2025-01-01T10:10:00", v = 0)))
      readings.addData(Seq(reading("2025-01-01T10:10:00")))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table(name).as[(String, String, String)].collect().toSet
    assert(out.contains(("CNC-001", "10:00:20", "10:00:00")))     // inner row intact
    assert(out.contains(("CNC-001", "10:01:30", null)))           // outside interval → null pad
    assert(out.contains(("LATHE-002", "10:00:10", null)))         // keyless → null pad
    assert(!out.exists(r => r._2 == "10:00:20" && r._3 == null))  // matched row not duplicated
  }

  test("full-outer interval join null-pads BOTH unmatched sides, no duplicates") {
    val readings = MemoryStream[SensorReading](spark)
    val alerts = MemoryStream[SensorReading](spark)
    val l = Pipeline.prepare(readings.toDF())
      .select(col("machine_id"), col("value"), col("event_time"))
    val r = Pipeline.prepare(alerts.toDF(), watermark = "5 seconds")
      .select(col("machine_id"), col("value").as("alert_value"),
        col("event_time").as("alert_time"))
    val joined = Pipeline.correlate(l, r, "machine_id",
      "event_time", "alert_time", "30 SECONDS", "full_outer")
      .select(col("machine_id"),
        date_format(col("event_time"), "HH:mm:ss").as("rt"),
        date_format(col("alert_time"), "HH:mm:ss").as("at"))
    val name = s"ssfj${System.nanoTime()}"
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      alerts.addData(Seq(
        reading("2025-01-01T10:00:00", v = 99),          // matched by 10:00:20
        reading("2025-01-01T10:03:00", "LATHE-002", v = 98))) // no follower → UNmatched right
      readings.addData(Seq(
        reading("2025-01-01T10:00:20"),                  // alerted → matched pair
        reading("2025-01-01T10:01:30")))                 // 90 s after → UNmatched left
      q.processAllAvailable()
      // both sides' leftovers finalize only once both watermarks pass
      // the open intervals — advance both streams well beyond them.
      alerts.addData(Seq(reading("2025-01-01T10:10:00", v = 0)))
      readings.addData(Seq(reading("2025-01-01T10:10:00")))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table(name).as[(String, String, String)].collect().toSet
    assert(out.contains(("CNC-001", "10:00:20", "10:00:00")))     // inner row intact
    assert(out.contains(("CNC-001", "10:01:30", null)))           // unmatched left → null pad
    assert(out.contains(("LATHE-002", null, "10:03:00")))         // unmatched right → null pad
    assert(!out.exists(r => r._2 == "10:00:20" && r._3 == null))  // matched left not re-padded
    assert(!out.exists(r => r._2 == null && r._3 == "10:00:00"))  // matched right not re-padded
  }

  test("RocksDB state store: windowed agg state off-heap, same results (J6 scale path)") {
    // At 100 TB-scale streaming, window/dedup state outgrows the JVM
    // heap; RocksDB keeps it on local disk with incremental checkpoint
    // uploads. Run the F1 aggregation under the RocksDB provider and
    // assert the finalized windows equal the heap-backed run's.
    val batches = Seq(
      Seq(reading("2025-01-01T10:00:10"), reading("2025-01-01T10:00:30")),
      Seq(reading("2025-01-01T10:02:00")),
      Seq(reading("2025-01-01T10:04:00")))
    val heap = runAgg(batches).toSeq.sorted
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val out = runAgg(batches).toSeq.sorted
      assert(out.contains(("10:00", "CNC-001", 2L)))
      assert(out == heap, s"RocksDB windows $out != heap windows $heap")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("session windows group by gaps (J8 extension)") {
    val ms = MemoryStream[SensorReading](spark)
    val prepared = Pipeline.prepare(ms.toDF())
    val agg = prepared
      .groupBy(session_window(col("event_time"), "30 seconds"), col("machine_id"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("session_window.start"), "HH:mm:ss").as("ss"), col("n"))
    val name = s"sess${System.nanoTime()}"
    val q = agg.writeStream.outputMode("append").format("memory").queryName(name).start()
    try {
      // burst of 3 within 30 s gaps, then a gap, then a closer event
      ms.addData(Seq(reading("2025-01-01T10:00:00"), reading("2025-01-01T10:00:20"),
        reading("2025-01-01T10:00:45")))
      q.processAllAvailable()
      ms.addData(Seq(reading("2025-01-01T10:05:00")))
      q.processAllAvailable()
      ms.addData(Seq(reading("2025-01-01T10:10:00")))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table(name).as[(String, Long)].collect().toMap
    assert(out("10:00:00") == 3L) // one session: gaps < 30 s merge
    assert(out("10:05:00") == 1L)
  }

  test("stream-maintained join view ≡ full recompute after N batches (IVM)") {
    // One tagged CDC-shaped stream: plain readings are fact inserts,
    // sensor_type "dim:<type>" rows are dim inserts. Batch 2's dim row
    // for M2 must join batch 1's M2 FACT (the A_old⋈ΔB quadrant — the
    // one a naive "join this batch only" stream loses).
    def fact(m: String, v: Double) = SensorReading("2025-01-01T00:00:00", m, "t", v)
    def dim(m: String, t: String) = SensorReading("2025-01-01T00:00:00", m, s"dim:$t", 0)
    val batches = Seq(
      Seq(fact("M1", 10.0), fact("M2", 20.0), dim("M1", "X")),
      Seq(fact("M1", 30.0), dim("M2", "Y")),
      Seq(fact("M2", 40.0), fact("M3", 5.0), dim("M4", "Z")))

    val ms = MemoryStream[SensorReading](spark)
    val splitA = (b: DataFrame) => b.filter(!col("sensor_type").startsWith("dim:"))
      .select(col("machine_id"), col("value"))
    val splitB = (b: DataFrame) => b.filter(col("sensor_type").startsWith("dim:"))
      .select(col("machine_id").as("dim_machine_id"),
        expr("substring(sensor_type, 5)").as("machine_type"))
    val (q, h) = JoinView.maintain(ms.toDF(), splitA, splitB,
      join = (f, d) => f.join(d, col("machine_id") === col("dim_machine_id")),
      keys = Seq("machine_type"), value = "value", scale = 2,
      checkpointDir = s"${tmp()}/ckpt", availableNow = false)
    def snap(df: DataFrame): Seq[(String, Long, Double, Double, Double)] =
      df.select(col("machine_type"), col("n"),
        col("sum_v").cast("double"), col("min_v"), col("max_v"))
        .as[(String, Long, Double, Double, Double)].collect().toSeq.sortBy(_._1)
    try {
      batches.take(2).foreach { b => ms.addData(b); q.processAllAvailable() }
      // the cross-batch quadrant must already be in after batch 2:
      // Y = batch-1 M2 fact × batch-2 M2 dim
      assert(snap(h.view) == Seq(("X", 2L, 40.0, 10.0, 30.0),
        ("Y", 1L, 20.0, 20.0, 20.0)))
      ms.addData(batches(2)); q.processAllAvailable()
      val afterAll = snap(h.view)
      assert(afterAll == Seq(("X", 2L, 40.0, 10.0, 30.0),
        ("Y", 2L, 60.0, 20.0, 40.0)))
      // equivalence: indistinguishable from one full join over all input
      val all = batches.flatten.toDF()
      val full = graft.ops.Incremental.partials(
        splitA(all).join(splitB(all),
          col("machine_id") === col("dim_machine_id")),
        Seq("machine_type"), "value", scale = 2)
      assert(afterAll == snap(full))
    } finally q.stop()
  }

  test("join-view history compacts: 20+ batches, bounded plan, view ≡ full recompute") {
    // CompactEvery=8 fires twice over 22 batches; the delta vectors
    // must never exceed CompactEvery frames (the O(batches) hist-union
    // degradation the compaction exists to prevent), and the view must
    // stay indistinguishable from one full join over all input.
    def fact(m: String, v: Double) = SensorReading("2025-01-01T00:00:00", m, "t", v)
    def dim(m: String, t: String) = SensorReading("2025-01-01T00:00:00", m, s"dim:$t", 0)
    // batch i: one fact for machine M{i%5} and, every 4th batch, a dim
    // row for M{i%5} — so cross-batch quadrants engage continually.
    val batches = (0 until 22).map { i =>
      val m = s"M${i % 5}"
      Seq(fact(m, i.toDouble)) ++
        (if (i % 4 == 0) Seq(dim(m, s"T${i % 5}")) else Nil)
    }
    val ms = MemoryStream[SensorReading](spark)
    val splitA = (b: DataFrame) => b.filter(!col("sensor_type").startsWith("dim:"))
      .select(col("machine_id"), col("value"))
    val splitB = (b: DataFrame) => b.filter(col("sensor_type").startsWith("dim:"))
      .select(col("machine_id").as("dim_machine_id"),
        expr("substring(sensor_type, 5)").as("machine_type"))
    val (q, h) = JoinView.maintain(ms.toDF(), splitA, splitB,
      join = (f, d) => f.join(d, col("machine_id") === col("dim_machine_id")),
      keys = Seq("machine_type"), value = "value", scale = 2,
      checkpointDir = s"${tmp()}/ckpt", availableNow = false)
    try {
      batches.foreach { b =>
        ms.addData(b); q.processAllAvailable()
        assert(h.aDeltas.size <= JoinView.CompactEvery,
          s"aDeltas grew past CompactEvery: ${h.aDeltas.size}")
        assert(h.bDeltas.size <= JoinView.CompactEvery,
          s"bDeltas grew past CompactEvery: ${h.bDeltas.size}")
      }
      // compaction actually fired: 22 appends with two folds leaves
      // fewer frames than batches
      assert(h.aDeltas.size < batches.size)
      val all = batches.flatten.toDF()
      val full = graft.ops.Incremental.partials(
        splitA(all).join(splitB(all),
          col("machine_id") === col("dim_machine_id")),
        Seq("machine_type"), "value", scale = 2)
      def snap(df: DataFrame): Seq[(String, Long, Double, Double, Double)] =
        df.select(col("machine_type"), col("n"),
          col("sum_v").cast("double"), col("min_v"), col("max_v"))
          .as[(String, Long, Double, Double, Double)].collect().toSeq.sortBy(_._1)
      assert(snap(h.view) == snap(full))
    } finally q.stop()
  }

  test("join-view refuses a reused checkpoint dir (restart unsupported)") {
    def fact(m: String, v: Double) = SensorReading("2025-01-01T00:00:00", m, "t", v)
    val ckpt = s"${tmp()}/ckpt"
    val splitA = (b: DataFrame) => b.filter(!col("sensor_type").startsWith("dim:"))
      .select(col("machine_id"), col("value"))
    val splitB = (b: DataFrame) => b.filter(col("sensor_type").startsWith("dim:"))
      .select(col("machine_id").as("dim_machine_id"),
        expr("substring(sensor_type, 5)").as("machine_type"))
    def start(ms: MemoryStream[SensorReading]) =
      JoinView.maintain(ms.toDF(), splitA, splitB,
        join = (f, d) => f.join(d, col("machine_id") === col("dim_machine_id")),
        keys = Seq("machine_type"), value = "value", scale = 2,
        checkpointDir = ckpt, availableNow = false)
    val ms1 = MemoryStream[SensorReading](spark)
    val (q1, _) = start(ms1)
    try { ms1.addData(Seq(fact("M1", 1.0))); q1.processAllAvailable() }
    finally q1.stop()
    // same dir again: the durable checkpoint has progress the fresh
    // in-memory handle lacks — must fail fast, not silently resume
    val ms2 = MemoryStream[SensorReading](spark)
    val ex = intercept[IllegalArgumentException] { start(ms2) }
    assert(ex.getMessage.contains("fresh checkpoint dir"))
  }

  test("enriched raw branch realizes machine_type/location in-stream (E1)") {
    val ms = MemoryStream[SensorReading](spark)
    val machines = graft.gen.DataGen.machineDim(spark)
    val enriched = Pipeline.rawRowsEnriched(Pipeline.prepare(ms.toDF()), machines)
    val name = s"enr${System.nanoTime()}"
    val q = enriched.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      ms.addData(Seq(reading("2025-01-01T10:00:10"),
        reading("2025-01-01T10:00:20", m = "UNKNOWN-9")))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table(name)
      .select("machine_id", "machine_type", "location")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq.sortBy(_._1)
    // known machine enriched; unknown keeps the reference's NULL behavior
    assert(out == Seq(
      ("CNC-001", "CNC Mill", "Assembly Line A"),
      ("UNKNOWN-9", null, null)))
  }

  test("dual-sink pipeline writes raw + agg from one decoded input (J4/J6)") {
    val dir = tmp()
    val input = Seq(
      """{"timestamp":"2025-01-01T10:00:10","machine_id":"CNC-001","sensor_type":"temperature","value":85.5}""",
      """{"timestamp":"2025-01-01T10:00:20","machine_id":"LATHE-002","sensor_type":"vibration","value":1.4}""",
      """not-json""",
      """{"timestamp":"2025-01-01T10:02:30","machine_id":"CNC-001","sensor_type":"temperature","value":86.1}"""
    )
    Files.write(java.nio.file.Paths.get(s"$dir/batch1.json"),
      input.mkString("\n").getBytes)

    val decoded = graft.io.JsonDirSource(dir).readStream(spark)
    var rawRows = 0L
    var aggRows = 0L
    val (rq, aq) = Pipeline.run(spark, decoded,
      writeRaw = b => rawRows += b.count(),
      writeAgg = b => aggRows += b.count(),
      checkpointDir = s"$dir/ckpt")
    rq.awaitTermination(60000); aq.awaitTermination(60000)
    assert(rawRows == 3)  // malformed dropped (D1)
    assert(aggRows == 2)  // 10:00 windows finalized by the 10:02:30 row
  }

  test("a malformed timestamp gives a NULL event time: both queries finish with the valid messages' windows") {
    def msg(t: String, m: String, v: Double) =
      s"""{"timestamp":"$t","machine_id":"$m","sensor_type":"temperature","value":$v}"""
    val valid = Seq(msg("2025-01-01T10:00:10", "CNC-001", 85.5),
      msg("2025-01-01T10:00:20", "LATHE-002", 1.4), msg("2025-01-01T10:02:30", "CNC-001", 86.1))
    val malformed = msg("garbage", "PRESS-003", 150.0)
    /** Raw rows as (machine, timestamp is NULL) and the windows, from
      * one `Pipeline.run` over `lines`. */
    def run(lines: Seq[String]): (Seq[(String, Boolean)], Set[String]) = {
      val dir = tmp()
      Files.write(java.nio.file.Paths.get(s"$dir/batch1.json"), lines.mkString("\n").getBytes)
      var raw = Seq.empty[(String, Boolean)]
      var windows = Set.empty[String]
      val (rq, aq) = Pipeline.run(spark, graft.io.JsonDirSource(dir).readStream(spark),
        writeRaw = b => raw ++= b.select(col("machine_id"), col("timestamp").isNull)
          .as[(String, Boolean)].collect(),
        writeAgg = b => windows ++= b.collect().map(_.toString),
        checkpointDir = s"$dir/ckpt")
      rq.awaitTermination(60000); aq.awaitTermination(60000)
      assert(rq.exception.isEmpty && aq.exception.isEmpty, (rq.exception, aq.exception))
      assert(!rq.isActive && !aq.isActive)
      (raw.sorted, windows)
    }
    val (raw, windows) = run(valid.take(2) ++ Seq(malformed) ++ valid.drop(2))
    assert(raw == Seq(("CNC-001", false), ("CNC-001", false), ("LATHE-002", false), ("PRESS-003", true)))
    val (_, validWindows) = run(valid)
    assert(validWindows.size == 2 && windows == validWindows)
  }

  test("a streaming file sink's directory read honours _spark_metadata: a stray part file is not read") {
    val dir = tmp()
    val ms = MemoryStream[SensorReading](spark)
    val q = ms.toDF().writeStream.format("parquet")
      .option("checkpointLocation", s"$dir/ckpt")
      .start(s"$dir/out")
    try {
      ms.addData(Seq(reading("2025-01-01T10:00:10"),
        reading("2025-01-01T10:00:20")))
      q.processAllAvailable()
    } finally q.stop()
    // A part file the sink never committed: a crashed batch's leftover.
    Seq(reading("2025-01-01T11:00:00")).toDF()
      .write.parquet(s"$dir/stray")
    val stray = new java.io.File(s"$dir/stray").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.copy(stray.toPath,
      java.nio.file.Paths.get(s"$dir/out/part-99999-stray.parquet"))
    assert(new java.io.File(s"$dir/out/_spark_metadata").isDirectory)
    assert(spark.read.parquet(stray.getPath).count() === 1)
    // The directory read lists files through the sink's log, not the
    // directory: the stray file stays out, committed rows stay in.
    assert(graft.io.ParquetSource(s"$dir/out").read(spark)
      .select("timestamp").as[String].collect().sorted.toSeq ===
      Seq("2025-01-01T10:00:10", "2025-01-01T10:00:20"))
  }
}
