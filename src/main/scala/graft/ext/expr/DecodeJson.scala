package graft.ext.expr

import scala.util.control.NonFatal

import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets.ISO_8859_1

import com.fasterxml.jackson.core.{JsonFactory, JsonParser}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JSONOptions, JacksonParser}
import org.apache.spark.sql.catalyst.util.BadRecordException
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DoubleType, Metadata, StringType, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Lenient JSON decode kernel: one row of `schema` for each message that
  * parses, and no row for a SQL NULL, an empty input or a malformed
  * message. The same rows as
  * `inline(filter(array(from_json(json, schema + _corrupt)), m -> m IS NOT NULL AND m._corrupt IS NULL))`,
  * without the array, the filter and the corrupt-record column.
  *
  * Each message first meets a [[DecodeJson.Scanner]]: one pass over its
  * UTF-8 bytes that accepts only the flat object `schema` describes,
  * written without escapes and without whitespace but for one space
  * after a `:` or a `,`, and builds the row directly. That covers the
  * shape `Ingest.encode` emits (no spaces) and the one Python's
  * `json.dumps` emits with its default separators (`": "`, `", "`). The
  * scanner serves only schemas of nullable string and double fields
  * ([[DecodeJson.scanner]]); it accepts a message only where Spark's
  * parser would give the same row, and has no verdict on any other.
  *
  * Every message the scanner does not accept goes to Spark's own
  * `JacksonParser`, driven as `from_json` drives it: default
  * `JSONOptions` in the session's time zone, and
  * `allowArrayAsStructs = false`. So every other field conversion,
  * partial result and rejection is Spark's; a rejected message, which
  * `from_json` would flag in a corrupt-record column, is dropped. What
  * differs is the parser's input. `from_json` wraps each message in an
  * `InputStreamReader` (`CreateJacksonParser.utf8String`), which
  * allocates a fresh char decoder and its byte buffer per message. Here
  * Jackson reads the message's UTF-8 bytes through a
  * `ByteArrayInputStream`, with its recycled read buffers. Three rules
  * keep the rows identical:
  *  - A stream, never a `byte[]`: with an array as its raw content,
  *    `JacksonParser` copies a non-string token bound for a string field
  *    by the token's byte offsets, which are wrong for a message that
  *    does not start at offset 0 and keep the message's whitespace
  *    when it does. Over a stream it re-serializes the token, as over
  *    a reader.
  *  - The byte path is taken only for valid UTF-8 that Jackson's byte
  *    bootstrapper reads as UTF-8 ([[bytesReadAsUtf8]]): it skips a
  *    UTF-8 BOM, which the reader keeps (and the parse rejects), and
  *    guesses UTF-16/32 from a BOM or NUL bytes.
  *  - Every other message goes through the reader, which reads
  *    invalid UTF-8 as U+FFFD; so does any message the byte path
  *    rejects, so the reader decides every rejection. A malformed
  *    message, dropped either way, costs two parses.
  *
  * Code-generated: the generator evaluates its child and calls
  * [[records]] on this instance, so `GenerateExec` runs inside the
  * scan's whole-stage-codegen stage, with no row conversion between
  * the scan and the operators after it. `schema`'s fields must be
  * nullable, as `from_json` makes them.
  */
case class DecodeJson(child: Expression, schema: StructType)
    extends UnaryExpression with Generator {
  require(schema.forall(_.nullable), s"decode_json needs nullable fields, got $schema")

  override def elementSchema: StructType = schema

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName expects string, got $t")
  }

  override def prettyName: String = "decode_json"

  /** Built in the task, like `from_json`'s, from the session's SQL
    * conf as the task sees it. */
  @transient private lazy val parser = new JacksonParser(schema,
    new JSONOptions(Map.empty[String, String], SQLConf.get.sessionLocalTimeZone,
      SQLConf.get.columnNameOfCorruptRecord),
    allowArrayAsStructs = false)

  /** This schema's scanner, or null when it serves no such schema. */
  @transient private lazy val scanner = DecodeJson.scanner(schema).orNull

  /** The rows of one message (none for SQL NULL): the scanner's row
    * when it accepts the message, else the parser's. Generated code
    * calls this. */
  def records(json: UTF8String): Iterable[InternalRow] =
    if (json == null) Nil
    else {
      val row = if (scanner == null) null else scanner.scan(json)
      if (row != null) row :: Nil else DecodeJson.parsed(parser, json)
    }

  override def eval(input: InternalRow): IterableOnce[InternalRow] =
    records(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val json = child.genCode(ctx)
    val self = ctx.addReferenceObj("decodeJson", this, classOf[DecodeJson].getName)
    val rows = JavaCode.variable(ctx.freshName("rows"), classOf[Iterable[_]])
    ExprCode(code"""
      |${json.code}
      |${rows.javaType.getName} $rows = $self.records(${json.isNull} ? null : ${json.value});
      """.stripMargin, FalseLiteral, rows)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DecodeJson {

  /** Longest number token the scanner parses; a longer one (Jackson
    * allows 1,000 characters) goes to the parser. */
  private val MaxNumberBytes = 32

  /** The scanner for `schema`, when `schema` is flat: at most 64
    * distinct fields, each a nullable `StringType` or `DoubleType` with
    * no metadata, named in printable ASCII without `"` or `\`. */
  def scanner(schema: StructType): Option[Scanner] = {
    val flat = schema.length <= 64 &&
      schema.map(_.name).distinct.length == schema.length &&
      schema.forall { f =>
        f.nullable && f.metadata == Metadata.empty &&
          (f.dataType == StringType || f.dataType == DoubleType) &&
          f.name.forall(c => c >= 0x20 && c <= 0x7e && c != '"' && c != '\\')
      }
    Option.when(flat)(new Scanner(schema.fields.map(_.name.getBytes(ISO_8859_1)),
      schema.fields.map(_.dataType == DoubleType)))
  }

  /** One pass over a message's bytes, for a flat schema of string and
    * double fields (`names` as ASCII, `doubles` marks the double ones).
    * [[scan]] accepts only `{`, then `"name":value` pairs separated by
    * `,`, then a `}` that ends the input, with no whitespace but for one
    * optional space after each `:` and each `,`, which Jackson skips as
    * it skips any whitespace between tokens. Each name
    * is a field's, byte for byte, at most once; a missing field is NULL.
    * A value is `null`; for a string field a string of bytes 0x20–0x7E
    * without `"` or `\`; for a double field a strict JSON number of at
    * most [[MaxNumberBytes]] bytes. Where it accepts a message the row
    * is the one `JacksonParser` makes of it: an integer token of at most
    * 18 digits converts through a `Long`, as Jackson's int path does (so
    * `-0` is +0.0), and every other number goes through
    * `Double.parseDouble`, correctly rounded like Jackson's
    * `getDoubleValue`. */
  final class Scanner private[DecodeJson] (names: Array[Array[Byte]], doubles: Array[Boolean]) {

    /** The row of `json`, or null when the scanner does not accept it. */
    def scan(json: UTF8String): InternalRow = {
      val base = json.getBaseObject
      val off = json.getBaseOffset
      val end = json.numBytes
      def at(i: Int): Int = if (i < end) Platform.getByte(base, off + i) else -1
      def digit(i: Int): Boolean = at(i) >= '0' && at(i) <= '9'
      if (at(0) != '{') return null
      val values = new Array[Any](names.length)
      if (at(1) == '}') return if (end == 2) new GenericInternalRow(values) else null
      var seen = 0L
      var i = 1
      var closed = false
      while (!closed) {
        if (at(i) != '"') return null
        val k = fieldAt(base, off, end, i + 1)
        if (k < 0 || (seen & (1L << k)) != 0) return null
        seen |= 1L << k
        i += names(k).length + 2
        if (at(i) != ':') return null
        i += 1
        if (at(i) == ' ') i += 1
        if (at(i) == 'n') {
          if (at(i + 1) != 'u' || at(i + 2) != 'l' || at(i + 3) != 'l') return null
          i += 4
        } else if (doubles(k)) {
          val start = i
          val negative = at(i) == '-'
          if (negative) i += 1
          var digits = 0
          var mantissa = 0L
          if (at(i) == '0') { i += 1; digits = 1 }
          else if (at(i) >= '1' && at(i) <= '9') {
            while (digit(i)) {
              if (digits < 18) mantissa = mantissa * 10 + (at(i) - '0')
              digits += 1; i += 1
            }
          } else return null
          var integral = true
          if (at(i) == '.') {
            integral = false; i += 1
            if (!digit(i)) return null
            while (digit(i)) i += 1
          }
          if (at(i) == 'e' || at(i) == 'E') {
            integral = false; i += 1
            if (at(i) == '+' || at(i) == '-') i += 1
            if (!digit(i)) return null
            while (digit(i)) i += 1
          }
          if (i - start > MaxNumberBytes) return null
          values(k) =
            if (integral && digits <= 18) (if (negative) -mantissa else mantissa).toDouble
            else java.lang.Double.parseDouble(ascii(base, off + start, i - start))
        } else {
          if (at(i) != '"') return null
          val start = i + 1
          i = start
          while (at(i) >= 0x20 && at(i) <= 0x7e && at(i) != '"' && at(i) != '\\') i += 1
          if (at(i) != '"') return null
          values(k) = UTF8String.fromBytes(copy(base, off + start, i - start))
          i += 1
        }
        if (at(i) == ',') { i += 1; if (at(i) == ' ') i += 1 }
        else if (at(i) == '}' && i + 1 == end) closed = true
        else return null
      }
      new GenericInternalRow(values)
    }

    /** The field whose name the bytes from `i` spell up to a closing
      * quote, or -1. */
    private def fieldAt(base: AnyRef, off: Long, end: Int, i: Int): Int = {
      var k = 0
      while (k < names.length) {
        val name = names(k)
        val n = name.length
        if (i + n < end && Platform.getByte(base, off + i + n) == '"') {
          var j = 0
          while (j < n && Platform.getByte(base, off + i + j) == name(j)) j += 1
          if (j == n) return k
        }
        k += 1
      }
      -1
    }
  }

  private def copy(base: AnyRef, at: Long, n: Int): Array[Byte] = {
    val bytes = new Array[Byte](n)
    Platform.copyMemory(base, at, bytes, Platform.BYTE_ARRAY_OFFSET, n)
    bytes
  }

  private def ascii(base: AnyRef, at: Long, n: Int): String =
    new String(copy(base, at, n), ISO_8859_1)

  private val fromBytes: (JsonFactory, UTF8String) => JsonParser = (factory, json) => {
    val bb = json.getByteBuffer
    CreateJacksonParser.inputStream(factory,
      new ByteArrayInputStream(bb.array, bb.arrayOffset + bb.position, bb.remaining))
  }

  /** The rows `parser` makes of one message: through its bytes when
    * they read as UTF-8, else (or when that parse fails) through the
    * reader `from_json` uses. */
  private def parsed(parser: JacksonParser, json: UTF8String): Iterable[InternalRow] = {
    if (bytesReadAsUtf8(json)) {
      try return parser.parse(json, fromBytes, identity[UTF8String])
      catch { case NonFatal(_) => }
    }
    try parser.parse(json, CreateJacksonParser.utf8String, identity[UTF8String])
    catch { case _: BadRecordException => Nil }
  }

  /** Valid UTF-8 that Jackson's byte bootstrapper neither strips of a
    * BOM (`EF BB BF`) nor reads as UTF-16/32: a first byte of `00`,
    * `EF`, `FE` or `FF`, or a second byte of `00`, goes to the reader. */
  def bytesReadAsUtf8(json: UTF8String): Boolean = {
    val n = json.numBytes
    n > 0 && {
      val b0 = json.getByte(0) & 0xff
      b0 != 0x00 && b0 != 0xef && b0 != 0xfe && b0 != 0xff
    } && (n == 1 || json.getByte(1) != 0) && json.isValid
  }

  /** One row of `schema` per message of `json` that parses (Column API). */
  def decodeJson(json: Column, schema: StructType): Column =
    ColumnBridge.column(DecodeJson(ColumnBridge.expression(json), schema))
}
