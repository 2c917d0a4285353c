package graft.ext

import java.nio.charset.StandardCharsets.{UTF_16BE, UTF_16LE, UTF_8}

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec
import graft.ext.expr.DecodeJson
import graft.ops.{Ingest, IngestSpec}

/** The decode kernel against the formulation it replaced, kept here as
  * the reference: `inline(filter(array(from_json(…, _corrupt)), …))`.
  * Each input carries an id, so parity is per message, not per
  * multiset. */
class DecodeJsonSpec extends SparkSpec {
  import spark.implicits._

  private def reference(json: Column): Column = {
    val msg = from_json(json, Ingest.MessageSchema.add("_corrupt", StringType),
      Map("columnNameOfCorruptRecord" -> "_corrupt"))
    inline(filter(array(msg), m => m.isNotNull && m.getField("_corrupt").isNull))
  }

  /** Raw message bytes (None for SQL NULL) as a string column. The cast
    * copies the bytes unchecked, so invalid UTF-8 reaches the decode as
    * it would from a text file; the shuffle puts every message inside
    * an `UnsafeRow`, at a non-zero offset of its buffer, as a scan does. */
  private def frame(inputs: Seq[Option[Array[Byte]]]): DataFrame =
    spark.sparkContext.parallelize(inputs.zipWithIndex.map(_.swap), 3).toDF("id", "bin")
      .repartition(2)
      .select(col("id"), col("bin").cast("string").as("json"))

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(r => (r.getInt(0), r.toString))

  /** Asserts the kernel's rows equal the reference's, message by
    * message, and returns how many messages produced a row. */
  private def assertParity(inputs: Seq[Option[Array[Byte]]]): Int = {
    val df = frame(inputs)
    val got = rows(df.select(col("id"), DecodeJson.decodeJson(col("json"), Ingest.MessageSchema)))
    val want = rows(df.select(col("id"), reference(col("json"))).drop("_corrupt"))
    val (g, w) = (got.groupBy(_.getInt(0)), want.groupBy(_.getInt(0)))
    val diff = (g.keySet ++ w.keySet).toSeq.sorted.filter(i => g.get(i) != w.get(i))
    assert(diff.isEmpty, diff.take(5).map { i =>
      val in = inputs(i).map(b => b.map(x => f"${x & 0xff}%02x").mkString(" ")).orNull
      s"\n#$i [$in]\n  kernel:    ${g.get(i)}\n  reference: ${w.get(i)}"
    }.mkString)
    g.size
  }

  private def utf8(s: String): Option[Array[Byte]] = Some(s.getBytes(UTF_8))
  private def bytes(parts: Any*): Option[Array[Byte]] = Some(parts.flatMap {
    case s: String => s.getBytes(UTF_8).toSeq
    case b: Int => Seq(b.toByte)
  }.toArray)

  private val envelope =
    """{"timestamp":"2025-11-20T10:00:00.123456","machine_id":"CNC-001","sensor_type":"temperature","value":87.42}"""

  test("decode_json matches from_json on IngestSpec's edge inputs") {
    assert(assertParity(IngestSpec.EdgeInputs.map(Option(_).map(_.getBytes(UTF_8)))) == 7)
  }

  test("decode_json matches from_json on encodings, tokens and syntax variants") {
    val inputs = Seq(
      // invalid UTF-8: the reader replaces it with U+FFFD
      bytes("""{"machine_id":"M""", 0xc3, """","value":1}"""),
      bytes("""{"machine_id":"M""", 0xff, """","value":2}"""),
      bytes("""{"machine_id":"M","value":3}""", 0xc3),
      bytes(0xc3, """{"machine_id":"M","value":4}"""),
      bytes("""{"machine_id":"M""", 0xed, 0xa0, 0x80, """","value":5}"""), // a surrogate
      bytes("""{"machine_id":"M""", 0xc0, 0x80, """","value":6}"""),       // overlong NUL
      bytes("""{"machine_id":"M""", 0xf4, 0x90, 0x80, 0x80, """"}"""),     // above U+10FFFF
      // byte-order marks and NUL bytes, which Jackson's byte
      // bootstrapper reads as encoding hints
      bytes(0xef, 0xbb, 0xbf, """{"machine_id":"BOM8","value":1}"""),
      Some(Array(0xfe, 0xff).map(_.toByte) ++ """{"machine_id":"BOM16"}""".getBytes(UTF_16BE)),
      Some(Array(0xff, 0xfe).map(_.toByte) ++ """{"machine_id":"BOM16"}""".getBytes(UTF_16LE)),
      bytes(0x00, """{"machine_id":"NUL","value":1}"""),
      Some("{}".getBytes(UTF_16LE)), Some("{}".getBytes(UTF_16BE)),
      Some("""{"machine_id":"U16"}""".getBytes(UTF_16LE)),
      bytes("{}", 0x00), bytes("{}", 0x00, 0x00), bytes("{", 0x00, "}"),
      utf8("""{"machine_id":"é😀é","value":1}"""),
      utf8("""{"machine_id":"😀 \\ud83d\\ude00 \\ud800"}"""),
      // non-string tokens into string fields, at non-zero offsets
      utf8("""{"sensor_type":123}"""),
      utf8("""{"machine_id":"T","sensor_type":12.50,"value":1}"""),
      utf8("""{"machine_id":"T","sensor_type":true}"""),
      utf8("""{"machine_id":"T","sensor_type":[1, 2]}"""),
      utf8("""{"machine_id":"T","sensor_type":{ "a" : 1 },"value":2}"""),
      utf8("""{ "machine_id" : { "a" : [ 1 , "x" ] } , "timestamp" : -0.0 }"""),
      // syntax the options accept or reject
      utf8("""{"machine_id":"C" /* note */,"value":1}"""),
      utf8("""// note
             |{"machine_id":"C"}""".stripMargin),
      utf8("""{'machine_id':'Q','value':1}"""),
      utf8("""{machine_id:"U"}"""),
      utf8("""{"machine_id":"A","machine_id":"B","value":1,"value":2}"""),
      utf8("""{"Machine_ID":"X","machine_id":"Y","VALUE":3}"""),
      utf8("""[{"machine_id":"A","value":1}]"""),
      utf8("""{"machine_id":"K","_corrupt":"x","value":1}"""),
      utf8("{\"machine_id\":\"a\tb\"}"),
      utf8("""{"machine_id":"a\"b\\é\n","value":1}"""),
      utf8("""{"value":NaN}"""), utf8("""{"value":"NaN"}"""), utf8("""{"value":1e400}"""),
      utf8("""{"value":007}"""), utf8("""{"value":1.}"""), utf8("""{"value":-Infinity}"""),
      utf8("""{"value":null,"machine_id":null}"""),
      utf8("""{"machine_id":"T""""), utf8("""{"machine_id":"T","""), utf8("{"),
      utf8("  \t\r\n" + envelope + " \n"),
      utf8(envelope))
    assert(inputs.forall(_.isDefined))
    assert(assertParity(inputs) > 10)
  }

  test("decode_json matches from_json on a seeded fuzz of mutated envelopes") {
    val rnd = new Random(20261019L)
    val alphabet = """{}[]":,. -+eE0123456789tfnul\'/*""".getBytes(UTF_8) ++
      Array(0x00, 0x09, 0x0a, 0x80, 0xbb, 0xbf, 0xc3, 0xa9, 0xed, 0xef, 0xf0, 0x9f, 0xfe, 0xff).map(_.toByte)
    def base(): Array[Byte] = {
      val v = rnd.nextInt(5) match {
        case 0 => f"${rnd.nextDouble() * 200 - 50}%.3f"
        case 1 => rnd.nextInt(1000).toString
        case 2 => "\"" + rnd.nextInt(99) + "\""
        case 3 => "null"
        case _ => "[1, {\"a\" : 2}]"
      }
      val st = Seq("\"temperature\"", "\"vibration\"", "7", "true", "{ \"k\" : 1 }")(rnd.nextInt(5))
      s"""{"timestamp":"2025-01-0${1 + rnd.nextInt(7)}T10:00:0${rnd.nextInt(10)}","machine_id":"M-${rnd.nextInt(50)}","sensor_type":$st,"value":$v}"""
        .getBytes(UTF_8)
    }
    def mutate(b: Array[Byte]): Array[Byte] = {
      val i = rnd.nextInt(b.length + 1)
      rnd.nextInt(6) match {
        case 0 => b.patch(i, Nil, 1 + rnd.nextInt(3))                      // delete
        case 1 => b.patch(i, Seq(alphabet(rnd.nextInt(alphabet.length))), 0) // insert
        case 2 => b.patch(i, Seq(alphabet(rnd.nextInt(alphabet.length))), 1) // replace
        case 3 => b.take(i)                                                 // truncate
        case 4 => b.patch(i, b.slice(rnd.nextInt(b.length + 1), rnd.nextInt(b.length + 1)), 0) // splice
        case _ => b.patch(0, Seq(alphabet(rnd.nextInt(alphabet.length))), 0) // prefix
      }
    }
    val inputs = Seq.fill(10000) {
      val n = rnd.nextInt(4)
      Option(Iterator.iterate(base())(mutate).drop(n).next())
    }
    val viaBytes = inputs.count(b => DecodeJson.bytesReadAsUtf8(UTF8String.fromBytes(b.get)))
    assert(viaBytes > inputs.size / 2, s"only $viaBytes of ${inputs.size} take the byte path")
    val kept = assertParity(inputs)
    assert(kept > inputs.size / 5 && kept < inputs.size, s"$kept of ${inputs.size} kept")
  }

  test("Ingest.decode is the kernel and keeps its schema") {
    val df = Seq(envelope, "{").toDF("json")
    val out = Ingest.decode(df, col("json"))
    assert(out.schema == Ingest.MessageSchema)
    assert(out.queryExecution.analyzed.collectFirst {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g.generator
    }.exists(_.isInstanceOf[DecodeJson]))
    assert(out.as[(String, String, String, Double)].collect().toSeq ==
      Seq(("2025-11-20T10:00:00.123456", "CNC-001", "temperature", 87.42)))
  }
}
