package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ext.expr.DecodeJson

/** Message decode/encode + scalar projections from the ingestion path
  * (SURVEY §2 C1-C7, D1).
  *
  * Reference behavior: the producer emits JSON envelopes
  * `{timestamp, machine_id, sensor_type, value}` with an ISO-8601
  * 'T'-separated timestamp string (`ingestion/ingest_data.py:63-73`);
  * the stream job decodes them leniently (malformed → dropped, missing
  * fields → NULL; `flink-jobs/sensor_aggregation.py:30-32`) and computes
  * event time via `TO_TIMESTAMP(REPLACE(ts,'T',' '))`
  * (`sensor_aggregation.py:22`).
  *
  * Built-ins, plus one generator kernel for the decode
  * ([[graft.ext.expr.DecodeJson]]): it builds the row of each canonical
  * message in one byte scan and leaves every other message to Spark's
  * parser.
  */
object Ingest {

  /** Envelope schema (FIXTURES.md §A1). Explicit — never inferSchema. */
  val MessageSchema: StructType = StructType(Seq(
    StructField("timestamp", StringType),
    StructField("machine_id", StringType),
    StructField("sensor_type", StringType),
    StructField("value", DoubleType)
  ))

  /** C7 encode: row → JSON envelope string (producer side). */
  def encode(df: DataFrame): DataFrame =
    df.select(
      col("machine_id").as("key"),
      to_json(struct(
        date_format(col("event_time"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").as("timestamp"),
        col("machine_id"), col("sensor_type"), col("value"))).as("value"))

  /** C7/D1 decode: JSON string column → typed columns; malformed rows
    * dropped, missing fields NULL — exactly the reference's
    * `ignore-parse-errors` / `fail-on-missing-field=false` semantics.
    *
    * One generator, [[graft.ext.expr.DecodeJson]], parses each message
    * once and emits a row only for a message that parses: `from_json`
    * would yield an all-NULL struct for a malformed one and need a
    * corrupt-record column to tell the two apart. A flat message of the
    * schema without escapes, and without whitespace but for one space
    * after a colon or comma (the shapes [[encode]] and Python's
    * `json.dumps` write), is scanned from its bytes; every other goes
    * to Spark's own JSON parser, fed the message's UTF-8 bytes. The rows
    * are Spark's either way. */
  def decode(df: DataFrame, json: Column): DataFrame =
    df.select(DecodeJson.decodeJson(json, MessageSchema))

  /** C1 event-time projection: ISO-8601 'T'-separated string → timestamp.
    * Keeps the reference's literal SQL `REPLACE` (`replace`, no regex;
    * Spark parses ISO-8601 natively, but the contract is the expression).
    * A try-cast to `timestamp_ntz`: the same value as `to_timestamp_ntz`
    * for every string that parses, and NULL, like a missing field, for
    * one that does not, where `to_timestamp_ntz` under ANSI mode throws
    * and ends the stream. */
  def withEventTime(df: DataFrame, tsString: Column): DataFrame =
    df.withColumn("event_time",
      replace(tsString, lit("T"), lit(" ")).try_cast(TimestampNTZType))

  /** C3 date-part derivation for partitioned lake writes
    * (`spark-jobs/timescale_to_deltalake.py:36`). */
  def withDateParts(df: DataFrame, ts: Column): DataFrame =
    df.withColumn("year", year(ts))
      .withColumn("month", month(ts))
      .withColumn("day", dayofmonth(ts))
}
