package graft.ext

import java.nio.charset.StandardCharsets.{UTF_16BE, UTF_16LE, UTF_8}
import java.nio.file.{Files, Paths}

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{GenerateExec, InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec
import graft.ext.expr.DecodeJson
import graft.gen.DataGen
import graft.ops.{Ingest, IngestSpec}
import graft.stream.Pipeline

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

  /** Each row's values, a double as its bits: `Row` equality holds
    * `-0.0` and `0.0` equal. */
  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => f"double:${java.lang.Double.doubleToRawLongBits(d)}%016x"
      case v => v
    }).sortBy(r => (r.head.asInstanceOf[Int], r.toString))

  /** Asserts the kernel's rows equal the reference's, message by
    * message and bit for bit, and returns how many messages produced a
    * row. */
  private def assertParity(inputs: Seq[Option[Array[Byte]]]): Int = {
    val df = frame(inputs)
    val got = rows(df.select(col("id"), DecodeJson.decodeJson(col("json"), Ingest.MessageSchema)))
    val want = rows(df.select(col("id"), reference(col("json"))).drop("_corrupt"))
    val (g, w) = (got.groupBy(_.head.asInstanceOf[Int]), want.groupBy(_.head.asInstanceOf[Int]))
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

  private lazy val scanner = DecodeJson.scanner(Ingest.MessageSchema).get
  private def scans(b: Array[Byte]): Boolean = scanner.scan(UTF8String.fromBytes(b)) != null

  test("decode_json matches from_json, bit for bit, on the scanner's boundaries") {
    def msg(value: String, machine: String = "\"M\""): String =
      s"""{"timestamp":"2025-01-01T00:00:00","machine_id":$machine,"sensor_type":"t","value":$value}"""
    val numbers = Seq("-0", "-0.0", "0", "0.0", "-0e0", "0e-0", "1E5", "1e+05", "1e-05", "-1.5E-3",
      "4.9e-324", "2.4e-324", "1.7976931348623157E308", "1e400", "-1e400",
      "123456789012345678", "-999999999999999999", "1234567890123456789", "-9223372036854775808",
      "12345678901234567890123", "9007199254740993", "0.30000000000000004", "1" * 32, "1" * 33,
      "007", "-007", "00", "1.", ".5", "-.5", "+1", "1e", "1e+", "--1", "-", "0x10", "1.5.5",
      "1ee5", "NaN", "-NaN", "Infinity", "-Infinity", "\"NaN\"", "\"1.5\"", "true", "nul", "nulls", "[1]")
    val strings = Seq("\"a\\\"b\"", "\"\\u0041\"", "\"a\u007fb\"", "\"a\tb\"", "\"é\"", "\" ~!#$%&'()*+,-./:;<=>?@[]^_`{|}\"",
      "\"\"", "12", "-0", "true", "null", "{}", "[]")
    val keys = Seq(
      """{"value":1.5,"sensor_type":"t","machine_id":"M","timestamp":"2025-01-01T00:00:00"}""",
      """{"machine_id":"M"}""", """{"value":-0}""",
      """{"machine_id":"M","machine_id":"N"}""", """{"value":1,"value":2}""",
      """{"machine_id":"M","unit":"C"}""", """{"Machine_id":"M"}""", """{"machine_id ":"M"}""",
      """{"machine_idx":"M"}""", """{"machine_i":"M"}""", """{"":"M"}""",
      "{}", "{ }", "{}x", "{},", "{", "}", "{,}", """{"machine_id":"M",}""", """{"machine_id""",
      """{"machine_id":"M""", """{"machine_id":}""", """{"machine_id"}""", """{"machine_id":"M"}}""")
    val nulls = Seq(
      """{"timestamp":null,"machine_id":"M","sensor_type":"t","value":1.5}""",
      """{"timestamp":"2025-01-01T00:00:00","machine_id":null,"sensor_type":"t","value":1.5}""",
      """{"timestamp":"2025-01-01T00:00:00","machine_id":"M","sensor_type":null,"value":1.5}""",
      """{"timestamp":"2025-01-01T00:00:00","machine_id":"M","sensor_type":"t","value":null}""")
    val spaced = { val e = msg("1.5"); (0 to e.length).map(i => e.patch(i, " ", 0)) }
    val trailing = Seq(" ", "\n", "\r\n", "x", "}", ",", "{}", "\u0000").map(msg("1.5") + _)
    // Python's json.dumps with its default separators, as the reference
    // producer calls it: one space after each ':' and ','; `isoformat()`
    // drops a zero microsecond; `round(v, 2)` prints as `repr`.
    def dumps(ts: String, value: String): String =
      s"""{"timestamp": "$ts", "machine_id": "CNC-001", "sensor_type": "temperature", "value": $value}"""
    val produced = Seq("85.23", "1200.0", "-0.0", "0.0", "1.5", "12", "-3", "1e-05", "1.2e+20", "null")
      .flatMap(v => Seq(dumps("2025-11-20T10:00:00.123456", v), dumps("2025-11-20T10:00:00", v)))
    val producedOff = Seq("NaN", "Infinity", "-Infinity").map(dumps("2025-11-20T10:00:00", _)) ++ Seq(
      """{"timestamp":  "2025-11-20T10:00:00", "value": 1.5}""", """{"timestamp" : "2025-11-20T10:00:00"}""",
      """{"timestamp": "2025-11-20T10:00:00" , "value": 1.5}""", """{"timestamp": "2025-11-20T10:00:00",  "value": 1.5}""",
      """{ "value": 1.5}""", """{"value": 1.5 }""", """{"value": 1.5, }""", "{\"value\":\t1.5}", """{"value": }""")
    val inputs = (numbers.map(msg(_)) ++ strings.map(s => msg("1", s)) ++ keys ++ nulls ++
      spaced ++ trailing ++ produced ++ producedOff).map(utf8)
    assertParity(inputs)

    // Both sides of the line are exercised: the scanner takes the
    // canonical forms and has no verdict on the rest.
    def scan(s: String) = scans(s.getBytes(UTF_8))
    assert(Seq("-0", "-0.0", "1E5", "1e+05", "4.9e-324", "1e400", "1234567890123456789", "1" * 32).forall(n => scan(msg(n))))
    assert(Seq("007", "1.", ".5", "NaN", "\"NaN\"", "1" * 33).forall(n => !scan(msg(n))))
    assert(Seq("\"\\u0041\"", "\"a\u007fb\"", "\"a\tb\"", "\"é\"", "12").forall(s => !scan(msg("1", s))))
    assert(keys.count(scan) == 4 && nulls.forall(scan) && trailing.forall(!scan(_)))
    // a space is scanned inside a string value (20 + 2 + 2 places) and
    // alone after a ':' (4) or a ',' (3)
    assert(spaced.count(scan) == 31)
    assert(produced.forall(scan) && producedOff.forall(!scan(_)))
    val plain = scanner.scan(UTF8String.fromString(msg("-0")))
    assert(java.lang.Double.doubleToRawLongBits(plain.getDouble(3)) == 0L)

    // Only a flat schema of nullable strings and doubles is scanned.
    import org.apache.spark.sql.types._
    val m = Ingest.MessageSchema
    assert(DecodeJson.scanner(m.add("n", IntegerType)).isEmpty)
    assert(DecodeJson.scanner(m.add("s", m)).isEmpty)
    assert(DecodeJson.scanner(StructType(m.fields :+ StructField("d", DoubleType, nullable = false))).isEmpty)
    assert(DecodeJson.scanner(StructType(m.fields :+ StructField("d", DoubleType,
      metadata = new MetadataBuilder().putString("k", "v").build()))).isEmpty)
    assert(DecodeJson.scanner(m.add("a\"b", StringType)).isEmpty)
    assert(DecodeJson.scanner(StructType(m.fields ++ m.fields)).isEmpty)
  }

  test("decode_json matches from_json on a seeded fuzz of canonical envelopes, mutated near the scanner's grammar") {
    val rnd = new Random(20261020L)
    val alphabet = """{}":,-+.eE0123456789nul tx\""".getBytes(UTF_8) ++ Array(0x09, 0x7f, 0xc3).map(_.toByte)
    def number(): String = rnd.nextInt(8) match {
      case 0 => (rnd.nextGaussian() * 100).toString
      case 1 => java.lang.Double.toString(rnd.nextDouble() * math.pow(10, rnd.nextInt(60) - 30))
      case 2 => (rnd.nextLong() >> rnd.nextInt(63)).toString
      case 3 => Seq("-0", "-0.0", "0", "0.0", "-0e0")(rnd.nextInt(5))
      case 4 => f"${rnd.nextDouble() * 2000 - 1000}%.2f"
      case 5 => s"${rnd.nextInt(10)}e${rnd.nextInt(700) - 350}"
      case 6 => "null"
      case _ => java.lang.Double.toString(java.lang.Double.longBitsToDouble(rnd.nextLong()))
    }
    def base(): Array[Byte] = {
      // a quarter with json.dumps's separators, the rest as Ingest.encode writes
      val (colon, comma) = if (rnd.nextInt(4) == 0) (": ", ", ") else (":", ",")
      val pairs = Seq(
        s""""timestamp"$colon"2025-01-0${1 + rnd.nextInt(7)}T10:00:0${rnd.nextInt(10)}.${rnd.nextInt(1000000)}"""",
        s""""machine_id"$colon"M-${rnd.nextInt(50)}"""",
        s""""sensor_type"$colon${if (rnd.nextInt(10) == 0) "null" else "\"temperature\""}""",
        s""""value"$colon${number()}""").filter(_ => rnd.nextInt(8) != 0)
      (if (rnd.nextBoolean()) rnd.shuffle(pairs) else pairs).mkString("{", comma, "}").getBytes(UTF_8)
    }
    def mutate(b: Array[Byte]): Array[Byte] = {
      val i = rnd.nextInt(b.length + 1)
      def any = alphabet(rnd.nextInt(alphabet.length))
      rnd.nextInt(5) match {
        case 0 => b.patch(i, Nil, 1)                        // delete a byte
        case 1 => b.patch(i, Seq(any), 0)                   // insert one
        case 2 => b.patch(i, Seq(any), 1)                   // replace one
        case 3 => b.patch(i, b.slice(i, i + 1 + rnd.nextInt(12)), 0) // repeat a run
        case _ => b.patch(i, Seq(' '.toByte), 0)            // insert a space
      }
    }
    val inputs = Seq.fill(6000) {
      val n = rnd.nextInt(3)
      Option(Iterator.iterate(base())(mutate).drop(n).next())
    }
    val scanned = inputs.count(b => scans(b.get))
    assert(scanned > inputs.size / 4 && scanned < inputs.size * 3 / 4,
      s"$scanned of ${inputs.size} taken by the scanner")
    val kept = assertParity(inputs)
    assert(kept > scanned && kept < inputs.size, s"$kept of ${inputs.size} kept")
  }

  test("every message Ingest.encode writes for a DataGen fleet takes the scanner") {
    val fleet = DataGen.backfill(spark, java.time.Instant.parse("2025-11-21T00:00:00Z"),
      days = 1, stepSeconds = 300, seed = 13).withColumn("event_time", timestamp_micros(col("tus")))
    val lines = Ingest.encode(fleet).select("value").as[String].collect().toSeq
    assert(lines.size == 288 * 16)
    val declined = lines.filterNot(l => scans(l.getBytes(UTF_8)))
    assert(declined.isEmpty, declined.take(3).mkString("\n"))
  }

  test("the decode_json of both Pipeline.run queries runs inside whole-stage codegen") {
    val dir = Files.createTempDirectory("graft-decode").toString
    Files.createDirectories(Paths.get(s"$dir/in"))
    Seq("10:00:10" -> 85.5, "10:02:30" -> 86.1).zipWithIndex.foreach { case ((t, v), i) =>
      Files.write(Paths.get(s"$dir/in/part-$i.json"),
        s"""{"timestamp":"2025-01-01T$t","machine_id":"CNC-001","sensor_type":"temperature","value":$v}"""
          .getBytes(UTF_8))
    }
    // Each query's last batch reads a file: no watermark-only batch,
    // which may plan its empty input away. A failed compile fails the
    // query instead of running the plan interpreted.
    val confs = Seq("spark.sql.streaming.noDataMicroBatches.enabled" -> "false",
      "spark.sql.codegen.fallback" -> "false")
    val before = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val (rq, aq) = try {
      val decoded = Ingest.decode(
        spark.readStream.option("maxFilesPerTrigger", 1).text(s"$dir/in"), col("value"))
      Pipeline.run(spark, decoded, writeRaw = _.count(), writeAgg = _.count(),
        checkpointDir = s"$dir/ckpt")
    } finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    rq.awaitTermination(60000); aq.awaitTermination(60000)
    for (q <- Seq(rq, aq)) {
      assert(q.exception.isEmpty, q.exception)
      assert(q.recentProgress.map(_.numInputRows).sum == 2)
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
      assert(decodeStages(plan) == Seq(true), plan.treeString)
    }
    assert(decodeStages(Ingest.decode(spark.sparkContext.parallelize(Seq(envelope), 2).toDF("json"),
      col("json")).queryExecution.executedPlan) == Seq(true))
  }

  /** For each `Generate decode_json` of `plan`, whether a
    * whole-stage-codegen stage runs it. */
  private def decodeStages(plan: SparkPlan): Seq[Boolean] = {
    def walk(p: SparkPlan, fused: Boolean): Seq[Boolean] = p match {
      case w: WholeStageCodegenExec => walk(w.child, fused = true)
      case i: InputAdapter => walk(i.child, fused = false)
      case g: GenerateExec if g.generator.isInstanceOf[DecodeJson] => fused +: walk(g.child, fused)
      case other => other.children.flatMap(walk(_, fused))
    }
    walk(plan, fused = false)
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
