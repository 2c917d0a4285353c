package graft.ops

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.execution.{DataSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.SparkSpec
import graft.ext.expr.DecodeJson
import graft.stream.Pipeline

class IngestSpec extends SparkSpec with graft.LowStatePartitions {
  import spark.implicits._

  /** JSON parses in an executed plan: `from_json` or the decode kernel.
    * A scan's `DataFilters` list pushed predicates the text reader does
    * not evaluate, so scans are left out. */
  private def parses(plan: SparkPlan): Int = plan.collect {
    case _: DataSourceScanExec => 0
    case p => p.expressions.map(_.collect {
      case j: JsonToStructs => j
      case d: DecodeJson => d
    }.size).sum
  }.sum

  /** An RDD-backed frame: a local `Seq` frame would be evaluated on the
    * driver by `ConvertToLocalRelation`, leaving no plan to inspect. */
  private def jsonFrame(lines: Seq[String]): DataFrame =
    spark.sparkContext.parallelize(lines, 2).toDF("json")

  test("decode drops malformed JSON, keeps missing fields as NULL (D1)") {
    val raw = Seq(
      """{"timestamp":"2025-11-20T10:00:00.123456","machine_id":"CNC-001","sensor_type":"temperature","value":87.42}""",
      """{"machine_id":"LATHE-002","value":1.5}""", // missing fields → NULL
      """not json at all{{{"""                      // malformed → dropped
    ).toDF("json")
    val out = Ingest.decode(raw, col("json"))
    assert(out.count() == 2)
    val row = out.filter(col("machine_id") === "LATHE-002").head()
    assert(row.isNullAt(row.fieldIndex("timestamp")))
    assert(row.isNullAt(row.fieldIndex("sensor_type")))
    assert(row.getDouble(row.fieldIndex("value")) == 1.5)
  }

  test("encode → decode round-trips the envelope (C7)") {
    val src = Seq(("CNC-001", "temperature", 87.42, "2025-11-20T10:00:00.123456"))
      .toDF("machine_id", "sensor_type", "value", "ts_str")
      .withColumn("event_time", to_timestamp_ntz(regexp_replace(col("ts_str"), "T", " ")))
    val encoded = Ingest.encode(src)
    assert(encoded.select("key").as[String].head() == "CNC-001")
    val decoded = Ingest.decode(encoded, col("value"))
    val r = decoded.head()
    assert(r.getString(r.fieldIndex("machine_id")) == "CNC-001")
    assert(r.getString(r.fieldIndex("timestamp")) == "2025-11-20T10:00:00.123456")
    assert(r.getDouble(r.fieldIndex("value")) == 87.42)
  }

  test("event-time parse handles the 'T' separator via REPLACE (C1)") {
    val df = Seq("2025-11-20T10:30:45").toDF("iso")
    val out = Ingest.withEventTime(df, col("iso"))
      .select(date_format(col("event_time"), "yyyy-MM-dd HH:mm:ss"))
      .as[String].head()
    assert(out == "2025-11-20 10:30:45")
  }

  test("date-part derivation matches the lake partition layout (C3)") {
    val df = Seq("2025-11-20T10:30:45").toDF("iso")
    val out = Ingest.withDateParts(
      Ingest.withEventTime(df, col("iso")), col("event_time"))
    val r = out.select("year", "month", "day").head()
    assert((r.getInt(0), r.getInt(1), r.getInt(2)) == ((2025, 11, 20)))
  }

  test("decode parses each message once and keeps the recorded rows on edge inputs (D1)") {
    val out = Ingest.decode(jsonFrame(IngestSpec.EdgeInputs), col("json"))
    assert(parses(out.queryExecution.executedPlan) == 1,
      out.queryExecution.executedPlan.treeString)
    assert(out.schema == Ingest.MessageSchema)
    val expected = Seq(
      Row("2025-11-20T10:00:00.123456", "CNC-001", "temperature", 87.42),
      Row(null, "LATHE-002", null, 1.5),
      Row(null, null, null, null),
      Row(null, "M-4", null, 7.0),
      Row(null, "M-5", null, 2.5),
      Row(null, "M-6", null, 3.5),
      Row(null, "M-7", null, 4.5))
    assert(out.collect().toSeq.sortBy(_.toString) == expected.sortBy(_.toString))
  }

  test("Pipeline.run parses each message once per query") {
    val dir = Files.createTempDirectory("graft-ingest").toString
    Files.createDirectories(Paths.get(s"$dir/in"))
    Seq("10:00:10" -> 85.5, "10:02:30" -> 86.1).zipWithIndex.foreach {
      case ((t, v), i) => Files.write(Paths.get(s"$dir/in/part-$i.json"),
        s"""{"timestamp":"2025-01-01T$t","machine_id":"CNC-001","sensor_type":"temperature","value":$v}"""
          .getBytes)
    }
    val decoded = Ingest.decode(
      spark.readStream.option("maxFilesPerTrigger", 1).text(s"$dir/in"), col("value"))
    var rawRows = 0L
    val (rq, aq) = Pipeline.run(spark, decoded,
      writeRaw = b => rawRows += b.count(), writeAgg = b => b.count(),
      checkpointDir = s"$dir/ckpt")
    rq.awaitTermination(60000); aq.awaitTermination(60000)
    def last(q: StreamingQuery): SparkPlan =
      q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
    assert(rawRows == 2 && rq.recentProgress.length == 2)
    assert(parses(last(rq)) == 1, last(rq).treeString)
    // The agg query's last batch is the watermark flush, which may plan
    // its empty input away.
    assert(parses(last(aq)) <= 1, last(aq).treeString)
  }

  test("literal replace in withEventTime agrees with the regex form") {
    val df = Seq(Some("2025-11-20 10:30:45"), Some("2025-11-20T10:30:45"),
      Some("T2025-11-20TT10:30:45T"), None).toDF("s")
    val out = df.select(
      replace(col("s"), lit("T"), lit(" ")).as("lit"),
      regexp_replace(col("s"), "T", " ").as("re"))
      .as[(Option[String], Option[String])].collect().toSeq
    assert(out.map(_._1) == Seq(Some("2025-11-20 10:30:45"),
      Some("2025-11-20 10:30:45"), Some(" 2025-11-20  10:30:45 "), None))
    assert(out.forall { case (l, r) => l == r })
    // The string that does not parse gives NULL, as a missing one does.
    val ts = Ingest.withEventTime(df, col("s"))
      .select(col("event_time").cast("string")).as[Option[String]].collect().toSeq
    assert(ts == Seq(Some("2025-11-20 10:30:45"), Some("2025-11-20 10:30:45"), None, None))
  }

  test("encode → decode returns bit-identical doubles for every form Spark's JSON writer prints (C7)") {
    val values = Seq(1.0E-4, 1.0E21, -0.0, 0.0, 42.0, -42.0, 87.42, 0.1 + 0.2, 1.0E7, 1.0E-3,
      9007199254740993.0, Double.MinPositiveValue, java.lang.Double.MIN_NORMAL, Double.MaxValue,
      Double.MinValue, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    val src = values.zipWithIndex.map { case (v, i) => (s"M-$i", "t", v) }
      .toDF("machine_id", "sensor_type", "value")
      .withColumn("event_time", to_timestamp_ntz(lit("2025-11-20 10:00:00")))
    val encoded = Ingest.encode(src)
    val printed = encoded.select("value").as[String].collect().map(_.replaceAll(".*\"value\":", ""))
    assert(Seq("1.0E-4}", "1.0E21}", "-0.0}", "42.0}", "4.9E-324}", "\"NaN\"}", "\"-Infinity\"}")
      .forall(printed.contains), printed.mkString(" "))
    val decoded = Ingest.decode(encoded, col("value")).select("machine_id", "value")
      .as[(String, Double)].collect().toMap
    val bits = java.lang.Double.doubleToRawLongBits _
    assert(decoded.size == values.size)
    values.zipWithIndex.foreach { case (v, i) =>
      assert(bits(decoded(s"M-$i")) == bits(v), s"$v decoded as ${decoded(s"M-$i")}")
    }
  }
}

object IngestSpec {

  /** Fifteen edge inputs; the expected rows were recorded from the
    * two-operator decode (`Filter` on the parsed struct, then `msg.*`)
    * that preceded the kernel. `{}` and the two lines with trailing text
    * after an object are kept (the parser stops after the first object);
    * the other malformed inputs are dropped. */
  val EdgeInputs: Seq[String] = Seq(
    """{"timestamp":"2025-11-20T10:00:00.123456","machine_id":"CNC-001","sensor_type":"temperature","value":87.42}""",
    """{"machine_id":"LATHE-002","value":1.5}""",        // missing fields
    """not json at all{{{""",                            // malformed
    "",                                                  // empty
    "   ",                                               // blank
    "null",
    "[1,2]",
    "[]",
    "{}",
    """{"machine_id":"M-3","value":"abc"}""",            // string value
    """{"machine_id":"M-4","value":7}""",                // int value
    """{"machine_id":"M-5","extra":{"a":[1,2]},"value":2.5}""",
    """{"machine_id":"M-6","value":3.5} trailing""",
    """{"machine_id":"M-7","value":4.5}{"machine_id":"M-8","value":5.5}""",
    null)                                                // SQL NULL
}
