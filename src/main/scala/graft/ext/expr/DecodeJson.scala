package graft.ext.expr

import scala.util.control.NonFatal

import java.io.ByteArrayInputStream

import com.fasterxml.jackson.core.{JsonFactory, JsonParser}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JSONOptions, JacksonParser}
import org.apache.spark.sql.catalyst.util.BadRecordException
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Lenient JSON decode kernel: one row of `schema` for each message that
  * parses, and no row for a SQL NULL, an empty input or a malformed
  * message. The same rows as
  * `inline(filter(array(from_json(json, schema + _corrupt)), m -> m IS NOT NULL AND m._corrupt IS NULL))`,
  * without the array, the filter and the corrupt-record column.
  *
  * It drives Spark's own `JacksonParser` as `from_json` does: default
  * `JSONOptions` in the session's time zone, and
  * `allowArrayAsStructs = false`. So every field conversion, partial
  * result and rejection is Spark's; a rejected message, which
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
  * Interpreted (`CodegenFallback`), like Spark's own `json_tuple`: the
  * parse is one JVM call per message either way, so `GenerateExec`
  * runs it outside whole-stage codegen, between the scan's stage and
  * the next. `schema`'s fields must be nullable, as `from_json` makes
  * them.
  */
case class DecodeJson(child: Expression, schema: StructType)
    extends UnaryExpression with Generator with CodegenFallback {
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

  override def eval(input: InternalRow): IterableOnce[InternalRow] =
    child.eval(input) match {
      case null => Nil
      case json: UTF8String => DecodeJson.records(parser, json)
    }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DecodeJson {

  private val fromBytes: (JsonFactory, UTF8String) => JsonParser = (factory, json) => {
    val bb = json.getByteBuffer
    CreateJacksonParser.inputStream(factory,
      new ByteArrayInputStream(bb.array, bb.arrayOffset + bb.position, bb.remaining))
  }

  /** The rows `parser` makes of one message: through its bytes when
    * they read as UTF-8, else (or when that parse fails) through the
    * reader `from_json` uses. */
  private def records(parser: JacksonParser, json: UTF8String): Iterable[InternalRow] = {
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
