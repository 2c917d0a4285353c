package graft.io.v2

import java.util

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader,
  PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters,
  SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory,
  LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.sources.{EqualTo, Filter}
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A REAL DataSourceV2 connector for the engine's JSON-lines sensor
  * topic directory — the A1 Kafka-scan seam (io.Sources) promoted to a
  * first-class Spark source: `spark.read.format(
  * "graft.io.v2.SensorJsonSource").load(dir)`.
  *
  * Spark-native capabilities implemented (not simulated):
  *  - one InputPartition per topic file → parallel scan, task locality
  *    by file (at scale, one task per log segment);
  *  - COLUMN PRUNING (`SupportsPushDownRequiredColumns`): the reader
  *    materializes only requested fields — a `select(machine_id)`
  *    never builds value/timestamp strings;
  *  - FILTER PUSHDOWN (`SupportsPushDownFilters`): `machine_id =` and
  *    `sensor_type =` equality predicates evaluate inside the reader
  *    against the raw parsed token, before row materialization; Spark
  *    drops its post-scan Filter for accepted predicates (the plan
  *    proves it — V2SourceSpec), everything else is returned unhandled;
  *  - malformed-JSON drop (reference semantics D1,
  *    sensor_aggregation.py:31-32): a line that fails to parse or
  *    lacks the envelope fields is skipped, not fatal.
  *
  * The reference's real topic is Kafka (flink-jobs/sensor_aggregation
  * .py:26-29); this connector serves the same envelope from the
  * file-backed topic the zero-egress environment uses, through the
  * exact API a Kafka DSv2 connector would implement.
  */
class SensorJsonSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SensorJsonSource.Schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new SensorJsonTable(properties.get("path"))

  override def supportsExternalMetadata(): Boolean = true
}

object SensorJsonSource {
  /** The reference's message envelope (ingest_data.py:63-70). */
  val Schema: StructType = StructType(Seq(
    StructField("timestamp", StringType),
    StructField("machine_id", StringType),
    StructField("sensor_type", StringType),
    StructField("value", DoubleType)))
}

class SensorJsonTable(path: String) extends Table
    with SupportsRead with SupportsWrite {
  override def name(): String = s"sensor_json($path)"
  override def schema(): StructType = SensorJsonSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SensorJsonScanBuilder(path)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new SensorJsonWriteBuilder(path, info.schema())
}

/** Write side — the B1 producer sink as a REAL V2 writer with the
  * two-phase commit protocol: each task streams its rows into a file
  * under a hidden staging dir and reports it in its commit message;
  * the DRIVER commit renames all staged files into the topic in one
  * pass, abort deletes the staging dir — a failed/speculated task can
  * never leave a partial segment visible (the at-least-once JSON-dir
  * seam couldn't make that guarantee). */
class SensorJsonWriteBuilder(path: String, schema: StructType) extends WriteBuilder {
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new SensorJsonBatchWrite(path, schema)
  }
}

class SensorJsonBatchWrite(path: String, schema: StructType) extends BatchWrite {
  private val stagingDir = s"$path/.staging-${java.util.UUID.randomUUID()}"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new SensorJsonWriterFactory(stagingDir, schema.fieldNames)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(PlanBridge.activeHadoopConf())
    // Committed names must sort strictly AFTER every file already in
    // the topic — the streaming offset contract (a lexicographic
    // boundary) breaks if an append can insert a name inside the
    // already-consumed prefix (the task-local part-<pid>-<tid>-<uuid>
    // staging names give no such guarantee: taskIds reset per session
    // and the uuid fragment is random). The driver-side commit is the
    // one single-threaded point that sees the whole topic, so it
    // assigns a fresh commit sequence = max existing seg sequence + 1;
    // if a foreign (non-seg) name sorts above even that, the max name
    // itself becomes a prefix — appended text always sorts after.
    val existing = SensorJsonScan.listFiles(path).map(new Path(_).getName)
    val seq = existing.flatMap(SensorJsonScan.segSeq).maxOption.getOrElse(-1L) + 1
    val base = f"seg-$seq%020d"
    val guard = existing.maxOption match {
      case Some(m) if m >= base => m + "."
      case _ => ""
    }
    messages.collect { case StagedFile(f) => f }.sorted.zipWithIndex.foreach {
      case (f, i) =>
        fs.rename(new Path(f), new Path(root, f"$guard$base-$i%05d.jsonl"))
    }
    fs.delete(new Path(stagingDir), true)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(path).getFileSystem(PlanBridge.activeHadoopConf())
    fs.delete(new Path(stagingDir), true)
  }
}

case class StagedFile(file: String) extends WriterCommitMessage

class SensorJsonWriterFactory(stagingDir: String, fields: Array[String])
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new SensorJsonWriter(stagingDir, fields, partitionId, taskId)
}

class SensorJsonWriter(
    stagingDir: String, fields: Array[String], partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {
  // taskId separates speculative attempts WITHIN a write; the random
  // fragment separates APPENDS ACROSS application runs — taskId
  // counters reset per session, so "part-00000-200" from yesterday's
  // append and today's would otherwise collide at commit-rename time
  // and silently overwrite a committed segment.
  private val file = new Path(
    stagingDir,
    f"part-$partitionId%05d-$taskId-${java.util.UUID.randomUUID().toString.take(8)}.jsonl")
  private val fs = file.getFileSystem(new org.apache.hadoop.conf.Configuration())
  private val out = fs.create(file, true)
  private val mapper = new ObjectMapper()

  override def write(row: InternalRow): Unit = {
    val node = mapper.createObjectNode()
    fields.zipWithIndex.foreach { case (f, i) =>
      if (row.isNullAt(i)) node.putNull(f)
      else f match {
        case "value" => node.put(f, row.getDouble(i))
        case _ => node.put(f, row.getUTF8String(i).toString)
      }
    }
    out.write((mapper.writeValueAsString(node) + "\n").getBytes("UTF-8"))
  }

  override def commit(): WriterCommitMessage = { out.close(); StagedFile(file.toString) }
  override def abort(): Unit = { out.close(); fs.delete(file, false); () }
  override def close(): Unit = ()
}

class SensorJsonScanBuilder(path: String)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = SensorJsonSource.Schema
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rejected) = filters.partition {
      case EqualTo(a, _: String) => a == "machine_id" || a == "sensor_type"
      case _ => false
    }
    pushed = accepted
    rejected // unhandled — Spark keeps its own Filter for these
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new SensorJsonScan(path, required, pushed)
}

class SensorJsonScan(path: String, required: StructType, pushed: Array[Filter])
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] =
    SensorJsonScan.listFiles(path)
      .map(f => SensorFilePartition(f): InputPartition)

  override def createReaderFactory(): PartitionReaderFactory =
    new SensorJsonReaderFactory(required.fieldNames,
      pushed.collect { case EqualTo(a, v: String) => (a, v) })

  /** Streaming side: the topic as a MicroBatchStream with
    * FILE-GRANULAR REPLAYABLE OFFSETS — the Kafka offset model mapped
    * onto the segment files: an offset is the NAME of the last
    * consumed segment (producers append monotonically-named segments,
    * the same contract Kafka log segments follow; the connector's own
    * batch commit enforces it). A batch (start, end] plans one
    * partition per new file; recovery replans the identical batch from
    * the checkpointed offsets — exactly-once into idempotent sinks. */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new SensorJsonMicroBatch(path, required.fieldNames,
      pushed.collect { case EqualTo(a, v: String) => (a, v) })
}

object SensorJsonScan {
  /** Lexicographically-sorted data files (stable offset base). */
  def listFiles(path: String): Array[String] = {
    val root = new Path(path)
    val fs = root.getFileSystem(PlanBridge.activeHadoopConf())
    if (!fs.exists(root)) Array.empty
    else fs.listStatus(root)
      .filter(s => s.isFile && !s.getPath.getName.startsWith(".") &&
        !s.getPath.getName.startsWith("_"))
      .map(_.getPath.toString)
      .sorted
  }

  private val SegName = """seg-(\d{20})-\d+\.jsonl""".r

  /** Commit sequence of a connector-committed segment name, if any. */
  def segSeq(name: String): Option[Long] = name match {
    case SegName(d) => Some(d.toLong)
    case _ => None
  }
}

/** Offset = NAME of the last consumed segment ("" = beginning). A name
  * boundary (not a file count) makes the offset insensitive to how
  * many files exist: a replan reads exactly the files in
  * (start, end] by name, so a late-listed file can never shift the
  * meaning of an already-checkpointed offset. The producer side holds
  * up the other half of the contract — commits always sort after every
  * existing name (SensorJsonBatchWrite.commit). */
case class FileNameOffset(last: String) extends Offset {
  override def json(): String = last
}

class SensorJsonMicroBatch(
    path: String, fields: Array[String], equalTo: Array[(String, String)])
    extends MicroBatchStream {
  override def initialOffset(): Offset = FileNameOffset("")

  override def latestOffset(): Offset =
    FileNameOffset(SensorJsonScan.listFiles(path).lastOption
      .map(new Path(_).getName).getOrElse(""))

  override def deserializeOffset(json: String): Offset = FileNameOffset(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[FileNameOffset].last
    val e = end.asInstanceOf[FileNameOffset].last
    SensorJsonScan.listFiles(path)
      .filter { f => val n = new Path(f).getName; n > s && n <= e }
      .map(f => SensorFilePartition(f): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new SensorJsonReaderFactory(fields, equalTo)

  override def commit(end: Offset): Unit = () // files are immutable segments
  override def stop(): Unit = ()
}

case class SensorFilePartition(file: String) extends InputPartition

class SensorJsonReaderFactory(
    fields: Array[String], equalTo: Array[(String, String)])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new SensorJsonReader(
      partition.asInstanceOf[SensorFilePartition].file, fields, equalTo)
}

class SensorJsonReader(
    file: String, fields: Array[String], equalTo: Array[(String, String)])
    extends PartitionReader[InternalRow] {
  private val mapper = new ObjectMapper()
  private val fs = new Path(file).getFileSystem(new org.apache.hadoop.conf.Configuration())
  private val lines = scala.io.Source.fromInputStream(fs.open(new Path(file)), "UTF-8")
  private val it = lines.getLines()
  private var current: InternalRow = _

  override def next(): Boolean = {
    while (it.hasNext) {
      parse(it.next()) match {
        case Some(row) => current = row; return true
        case None => () // malformed or filtered out — skip (D1 semantics)
      }
    }
    false
  }

  private def parse(line: String): Option[InternalRow] =
    try {
      val node = mapper.readTree(line)
      if (node == null || !node.isObject) return None
      def str(f: String): String =
        if (node.hasNonNull(f)) node.get(f).asText() else null
      // pushed equality filters evaluate BEFORE materialization
      if (equalTo.exists { case (f, v) => str(f) != v }) return None
      // A present-but-non-numeric value is a malformed message, not a
      // 0.0 reading (Jackson's asDouble() would fabricate one) — drop
      // the line, matching the reference's float() parse-failure D1
      // semantics. Validated regardless of projection so a pruned scan
      // counts the same rows as a full one.
      val value: Any =
        if (!node.hasNonNull("value")) null
        else {
          val v = node.get("value")
          if (v.isNumber) v.asDouble()
          else if (v.isTextual) {
            try v.asText().toDouble
            catch { case _: NumberFormatException => return None }
          } else return None
        }
      val values: Array[Any] = fields.map {
        case "value" => value
        case f => Option(str(f)).map(UTF8String.fromString).orNull
      }
      Some(InternalRow.fromSeq(values.toIndexedSeq))
    } catch { case _: Exception => None }

  override def get(): InternalRow = current
  override def close(): Unit = lines.close()
}
