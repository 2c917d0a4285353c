package graft.io.v2

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader,
  PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters,
  SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset,
  ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.io.Snapshot

/** The snapshot lake as a REAL DataSourceV2 streaming source — Delta's
  * `spark.readStream.format("delta")` semantic on graft's commit log:
  *
  * {{{
  *   spark.readStream.format("graft.io.v2.SnapshotStreamSource")
  *     .option("startingVersion", 0)   // default: from the beginning
  *     .option("ignoreChanges", false) // default: append-only guard
  *     .load(lakeRoot)
  * }}}
  *
  * Spark-native capabilities implemented (not simulated):
  *  - MICRO_BATCH_READ with VERSION-NUMBERED REPLAYABLE OFFSETS: an
  *    offset is a commit version; batch (v0, v1] plans one
  *    InputPartition per file the window's commits ADDED. Recovery
  *    replans the identical batch from the checkpointed versions —
  *    exactly-once into idempotent sinks (the log is immutable, so an
  *    offset can never change meaning);
  *  - APPEND-ONLY GUARD: a commit in the batch window that REMOVES
  *    files (overwrite, COW merge/delete, compact) fails the stream
  *    unless `ignoreChanges=true` — Delta's contract, because a
  *    rewritten file's carried-over rows would re-emit (with the
  *    option, they do, documented at-least-once for rewrites);
  *  - BATCH_READ of the latest snapshot through the same scan;
  *  - COLUMN PRUNING pushed to the parquet page level: each file is
  *    read under the required columns only, so a `select(k)` never
  *    decodes other columns' pages — and a column (or nested field)
  *    added by schema evolution null-fills for files that predate it
  *    (the Lake.readFiles mergeSchema semantic).
  *
  * Readers decode parquet through Spark's own parquet reader — the
  * one `Snapshot.Lake`'s reads use — built on the driver and shipped
  * to the tasks, so the connector reads every Spark type the lake
  * writes. At 100 TB: planning reads the file-count-sized log, each
  * micro-batch scans only its commits' own files, and partitions
  * parallelize per file.
  */
class SnapshotStreamSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    // Column mapping (round 17): when the log records a schema, the
    // table's columns are its LOGICAL names (Delta's schema-tracking
    // behavior for streams over mapped tables); the physical names in
    // the files resolve per reader. Legacy pre-meta logs keep the
    // footer-union path.
    val path = options.get("path")
    val base = SnapshotStreamSource.logicalSchemaAndMap(path,
        SnapshotStreamSource.resolveAsOf(options))
      .map(_._1).getOrElse(SnapshotStreamSource.unionSchema(path))
    if (options.getBoolean("readChangeFeed", false))
      StructType(base.fields.toSeq ++ SnapshotStreamSource.CdfColumns)
    else base
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new SnapshotLakeTable(properties.get("path"), schema)

  override def supportsExternalMetadata(): Boolean = true
}

object SnapshotStreamSource {
  // The session's Hadoop conf: a lake on a filesystem registered there
  // (an object store's endpoint and credentials) resolves here too.
  private def conf = PlanBridge.activeHadoopConf()

  /** The change-feed metadata columns (Delta CDF's `_change_type` /
    * `_commit_version`), appended to the table schema when
    * `readChangeFeed=true`. */
  val CdfColumns: Seq[StructField] = Seq(
    StructField("_change_type", StringType),
    StructField("_commit_version", LongType))

  private def logPathOf(root: String) = new Path(root, "_log")

  /** Reader capabilities this connector implements — checked against
    * the table's folded `feature` stamps at every fold: a table
    * requiring a capability the connector lacks refuses LOUDLY at
    * planning instead of silently misreading the manifest. All three
    * are genuinely SERVED: mapped tables read under logical names,
    * DV'd states batch-read with masked positions applied per file
    * (round 19), and the CDF path serves writer-side change files. */
  val V2ReaderFeatures: Set[String] =
    Set("column-mapping", "deletion-vectors", "change-data-feed")

  private def gateFeatures(root: String,
      ck: Snapshot.Checkpoint): Snapshot.Checkpoint = {
    val missing = ck.featuresOf("reader") -- V2ReaderFeatures
    require(missing.isEmpty, s"SnapshotStreamSource: table at $root " +
      s"requires reader feature(s) ${missing.toSeq.sorted.mkString(", ")} " +
      "this connector lacks")
    ck
  }

  /** The recorded LOGICAL schema (mapping metadata stripped) and the
    * logical→physical column map, resolved AS OF `asOf` (default: log
    * head) — None on legacy pre-meta logs (footer behavior unchanged,
    * the grandfather clause). Time-travel reads (`versionAsOf`) MUST
    * resolve at their own version: the head fold would serve an old
    * snapshot under post-rename names with later-added columns
    * null-filled, diverging from Lake.readAsOf, which serves the
    * target version's own recorded schema. */
  def logicalSchemaAndMap(root: String, asOf: Int = Int.MaxValue)
      : Option[(StructType, Map[String, String])] = {
    val logPath = logPathOf(root)
    gateFeatures(root,
        Snapshot.checkpointAt(logPath.getFileSystem(conf), logPath, asOf))
      .schema.map(ts => (Snapshot.cleanSchema(ts),
        ts.fields.map(f => f.name -> Snapshot.physicalName(f)).toMap))
  }

  /** The fold version a scan's schema/mapping resolve at: the
    * `versionAsOf` option when set, else the head. */
  private[v2] def resolveAsOf(options: CaseInsensitiveStringMap): Int = {
    val v = options.getInt("versionAsOf", -1)
    if (v < 0) Int.MaxValue else v
  }

  /** `startingTimestamp` (Delta's stream option): the FIRST version
    * whose publish wall-clock is at or after `tsMillis`
    * ([[Snapshot.versionAtOrAfter]]). A timestamp past the head
    * resolves to head + 1: the stream starts empty and picks up future
    * commits only. Mutually exclusive with `startingVersion`. */
  def versionAtOrAfter(root: String, tsMillis: Long): Int = {
    val logPath = logPathOf(root)
    Snapshot.versionAtOrAfter(logPath.getFileSystem(conf), logPath, tsMillis)
  }

  /** The recorded schema with the lake's field metadata INTACT
    * (generation expressions, identity specs, partition stamps) —
    * the catalog table's translation source. Feature-gated like
    * every schema read. */
  def recordedSchema(root: String, asOf: Int = Int.MaxValue)
      : Option[StructType] = {
    val logPath = logPathOf(root)
    gateFeatures(root,
      Snapshot.checkpointAt(logPath.getFileSystem(conf), logPath, asOf))
      .schema
  }

  /** Table properties at the head fold, session-free (the catalog's
    * SHOW TBLPROPERTIES surface). */
  def tableProperties(root: String): Map[String, String] = {
    val logPath = logPathOf(root)
    Snapshot.checkpointAt(logPath.getFileSystem(conf), logPath,
      Int.MaxValue).props
  }

  /** The scan's starting version from the option pair. */
  private[v2] def resolveStart(root: String,
      options: CaseInsensitiveStringMap): Int = {
    val st = options.get("startingTimestamp")
    if (st == null) options.getInt("startingVersion", 0)
    else {
      require(options.get("startingVersion") == null,
        "startingTimestamp and startingVersion are mutually exclusive " +
          "(the Delta contract)")
      versionAtOrAfter(root, st.toLong)
    }
  }

  def commits(root: String): Seq[Snapshot.Commit] = {
    val logPath = logPathOf(root)
    Snapshot.readCommits(logPath.getFileSystem(conf), logPath)
  }

  /** CHANGE-FEED partitions for a commit window — shared by the
    * streaming micro-batch planner and the batch CDF read (Delta's
    * `spark.read.option("readChangeFeed", ...)` form): a mutating
    * commit with writer-side change files is served from THEM alone
    * (both sides' rows, stored `_change_type`); a pure append's adds
    * are its inserts; a mutating commit without change files refuses
    * with the enable-CDF pointer (unless `ignoreChanges` accepts the
    * at-least-once adds-only view). */
  private[v2] def cdfPartitions(root: String,
      window: Seq[Snapshot.Commit],
      ignoreChanges: Boolean): Array[InputPartition] =
    window.flatMap { c =>
      val mutating = c.removed.nonEmpty || c.dvs.nonEmpty
      if (c.cdcFiles.nonEmpty)
        c.cdcFiles.map(p => LakeFilePartition(
          new Path(root, p).toString,
          commitVersion = c.version.toLong): InputPartition)
      else if (mutating && !ignoreChanges)
        throw new IllegalStateException(
          s"SnapshotStreamSource: commit ${c.version} at $root removes " +
            "files or attaches deletion vectors but carries no change " +
            "files — enable CDF on the writer (Lake(changeDataFeed = " +
            "true)) so mutating commits persist their change rows, or " +
            "serve this window with the batch Lake.changes(v0, v1).")
      else
        c.added.map(f => LakeFilePartition(
          new Path(root, f.path).toString,
          commitVersion = c.version.toLong,
          changeType = "insert"): InputPartition)
    }.toArray

  /** Masked row positions per DATA file for a batch plan's DV'd
    * entries: the deletion-vector parquet directories — (data_path,
    * pos) rows, deletion-sized by construction — are read ONCE at
    * planning on the driver through the same [[fileReader]] the
    * partition readers use (no job), grouped by the data file's rel
    * path and sorted so the sequential readers skip with a single
    * cursor. At 100 TB this is the Delta shape: the driver touches only
    * the deletion-sized dv files; the table's data files are never
    * opened at planning. */
  private[v2] def dvPositions(root: String, dvPaths: Seq[String])
      : Map[String, Array[Long]] = {
    val fs = new Path(root).getFileSystem(conf)
    val parts = dvPaths.distinct
      .flatMap(dp => fs.listStatus(new Path(root, dp)).map(_.getPath))
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
    val read = fileReader(DvSchema)
    // sorted + dedup'd: the write side already dedups carried
    // positions, but the reader's single-cursor skip REQUIRES strict
    // ascension — a duplicate would strand the cursor behind the
    // stream and un-mask every later position.
    parts
      .flatMap(p => read(wholeFile(p.toString))
        .map(r => r.getUTF8String(0).toString -> r.getLong(1)))
      .groupMap(_._1)(_._2)
      .map { case (k, v) => k -> v.distinct.sorted.toArray }
  }

  private val DvSchema = StructType(Seq(
    StructField("data_path", StringType), StructField("pos", LongType)))

  /** Spark's parquet reader over whole lake files, projected to
    * `schema` by name: columns (and nested fields) a file lacks
    * null-fill. Built on the driver with the session active, under the
    * session's Hadoop conf; the returned function is serializable and
    * reads on executors and, for the DV files, on the driver. No
    * filters are pushed, so every row of a file is read in order. */
  private[v2] def fileReader(schema: StructType)
      : PartitionedFile => Iterator[InternalRow] = {
    val spark = SparkSession.active
    new ParquetFileFormat().buildReaderWithPartitionValues(spark,
      dataSchema = schema, partitionSchema = StructType(Nil),
      requiredSchema = schema, filters = Nil,
      options = Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      hadoopConf = PlanBridge.sessionHadoopConf(spark))
  }

  /** All of `file` as one split: every row group's midpoint falls in
    * [0, Long.MaxValue), so a row counter equals the
    * `_metadata.row_index` the DV writer recorded. */
  private[v2] def wholeFile(file: String): PartitionedFile =
    PartitionedFile(InternalRow.empty, SparkPath.fromPathString(file),
      0L, Long.MaxValue)

  /** Commits in (fromExclusive, toInclusive] — parses only the window,
    * never the whole log (the micro-batch planning read). */
  def commitsRange(root: String, fromExclusive: Int,
      toInclusive: Int): Seq[Snapshot.Commit] = {
    val logPath = logPathOf(root)
    Snapshot.readCommitsRange(logPath.getFileSystem(conf), logPath,
      fromExclusive, toInclusive)
  }

  /** Latest published version at `root` — one listing, no parses. */
  def latestVersion(root: String): Int = {
    val logPath = logPathOf(root)
    Snapshot.latestVersion(logPath.getFileSystem(conf), logPath)
  }

  /** The gated checkpoint+suffix fold as of `asOf` — the ONE fold a
    * batch scan plan pays (state + schema + generated declarations
    * together). */
  def ckAt(root: String, asOf: Int): Snapshot.Checkpoint = {
    val logPath = logPathOf(root)
    gateFeatures(root, Snapshot.checkpointAt(
      logPath.getFileSystem(conf), logPath, asOf))
  }

  /** Checkpoint-aware folded state as of `asOf` (Int.MaxValue =
    * latest) — O(checkpoint interval) log parses at any history
    * length. */
  def stateAt(root: String, asOf: Int)
      : Seq[(Snapshot.FileStat, Option[String])] = ckAt(root, asOf).state

  /** The schema of a log that records none (legacy pre-meta logs):
    * the live files' footer union, inferred as `Lake.read()` infers it
    * ([[Snapshot.readFiles]]). */
  def unionSchema(root: String): StructType = {
    val live = stateAt(root, Int.MaxValue).map(_._1)
    require(live.nonEmpty,
      s"SnapshotStreamSource: no live files at $root — commit first")
    Snapshot.readFiles(SparkSession.active, new Path(root), live).schema
  }
}

class SnapshotLakeTable(root: String, schema0: StructType) extends Table
    with SupportsRead {
  override def name(): String = s"snapshot_lake($root)"
  override def schema(): StructType = schema0
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SnapshotScanBuilder(root, schema0, options)
}

class SnapshotScanBuilder(
    root: String, schema: StructType, options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = schema
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Manifest-level FILE pruning (not row filtering): the filters
    * [[Snapshot.prunable]] accepts skip files whose manifest stats
    * cannot match ([[Snapshot.pruneFiles]]) — decided at planning from
    * the log alone, zero footer reads on skipped files. EVERY filter is
    * returned as residual (the readers decode whole files and do not
    * evaluate predicates), so Spark re-applies them post-scan —
    * pruning is purely an I/O win, semantics never depend on it. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(Snapshot.prunable)
    filters // all residual: Spark still evaluates everything
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new SnapshotScan(root, required,
    startingVersion = SnapshotStreamSource.resolveStart(root, options),
    ignoreChanges = options.getBoolean("ignoreChanges", false),
    versionAsOf = options.getInt("versionAsOf", -1),
    pruneFilters = pushed,
    maxCommitsPerTrigger = options.getInt("maxCommitsPerTrigger", 0),
    readChangeFeed = options.getBoolean("readChangeFeed", false),
    endingVersion = options.getInt("endingVersion", -1),
    // ONE fold per scan build, resolved at the read version: a
    // versionAsOf time travel maps under the target version's own
    // recorded mapping (agreeing with Lake.readAsOf), not the head's.
    mapping = SnapshotStreamSource.logicalSchemaAndMap(root,
        SnapshotStreamSource.resolveAsOf(options))
      .map(_._2).getOrElse(Map.empty))
}

class SnapshotScan(root: String, required: StructType,
    startingVersion: Int, ignoreChanges: Boolean,
    versionAsOf: Int = -1,
    pruneFilters: Array[Filter] = Array.empty,
    maxCommitsPerTrigger: Int = 0,
    readChangeFeed: Boolean = false,
    endingVersion: Int = -1,
    mapping: Map[String, String] = Map.empty) extends Scan with Batch {
  // Readers project files by PHYSICAL column name; the scan's output
  // schema stays logical (rows are positional, so only the
  // projection names change).
  private val physRequired = StructType(required.fields.map(f =>
    f.copy(name = mapping.getOrElse(f.name, f.name))))
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Batch read = the latest snapshot's live set, or — the Delta
    * `versionAsOf` reader option — snapshot N's when the option is
    * set (time travel through the connector). Files carrying deletion
    * vectors AT THE READ VERSION serve DV-APPLIED (round 19, the
    * Delta reader contract): planning reads the deletion-sized dv
    * files and ships each file's sorted masked-position set in its
    * partition; the sequential readers skip masked row indices with
    * one cursor. Row-exact with `Snapshot.Lake.readAsOf`, which
    * anti-joins the same (data_path, pos) rows. */
  override def planInputPartitions(): Array[InputPartition] = {
    if (readChangeFeed) {
      // BATCH change-feed read (Delta's `spark.read.option(
      // "readChangeFeed", true).option("startingVersion"/
      // "endingVersion", ...)` form): the per-commit window served
      // from the same partitions the stream plans — cdc files for
      // mutating commits, adds-as-inserts for pure appends. Row-equal
      // to Lake.changesByVersion over the same window by the same
      // construction the streaming path is.
      require(versionAsOf < 0,
        "readChangeFeed and versionAsOf are mutually exclusive — the " +
          "change feed is a version WINDOW (startingVersion/" +
          "endingVersion), not a snapshot")
      val head = SnapshotStreamSource.latestVersion(root)
      val end = if (endingVersion < 0) head else endingVersion
      require(end <= head,
        s"readChangeFeed: endingVersion=$end exceeds latest version $head")
      require(startingVersion <= end,
        s"readChangeFeed: startingVersion=$startingVersion exceeds " +
          s"endingVersion=$end")
      return SnapshotStreamSource.cdfPartitions(root,
        SnapshotStreamSource.commitsRange(root, startingVersion - 1, end),
        ignoreChanges)
    }
    val ck =
      if (versionAsOf < 0)
        SnapshotStreamSource.ckAt(root, Int.MaxValue)
      else {
        require(SnapshotStreamSource.latestVersion(root) >= versionAsOf &&
          SnapshotStreamSource.commitsRange(root, versionAsOf - 1,
            versionAsOf).nonEmpty,
          s"versionAsOf=$versionAsOf: no such snapshot at $root")
        SnapshotStreamSource.ckAt(root, versionAsOf)
      }
    // File skipping: the same evaluator the Lake's reads and DML use
    // (partition, long/string zone, Bloom, null-count tiers and the
    // generated-column rewrite, whose two 1-row endpoint evaluations
    // run on the planning session).
    val state = Snapshot.pruneFiles(
      org.apache.spark.sql.SparkSession.active, ck, pruneFilters.toSeq)
    // One planning-time pass over the DV files (deletion-sized; the
    // common all-plain state pays nothing), keyed by data rel path —
    // the same key the Lake's anti-join form uses.
    val dvByFile: Map[String, Array[Long]] =
      if (state.forall(_._2.isEmpty)) Map.empty
      else SnapshotStreamSource.dvPositions(root, state.flatMap(_._2))
    state
      .map { case (f, dv) => LakeFilePartition(
        new Path(root, f.path).toString,
        masked = if (dv.isEmpty) Array.empty[Long]
          else dvByFile.getOrElse(f.path, Array.empty[Long]))
        : InputPartition }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new SnapshotReaderFactory(physRequired, readChangeFeed)

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new SnapshotMicroBatch(root, physRequired, startingVersion,
      ignoreChanges, maxCommitsPerTrigger, readChangeFeed)
}

/** Offset = commit VERSION ("-1" = before the first commit). Versions
  * are assigned by the atomic log publish, immutable thereafter — a
  * checkpointed offset's meaning can never shift. */
case class VersionOffset(v: Int) extends Offset {
  override def json(): String = v.toString
}

/** `maxCommitsPerTrigger` (0 = unlimited) is the Delta
  * `maxFilesPerTrigger` semantic on version-numbered offsets: a
  * backlogged table drains in PACED micro-batches of at most that many
  * commits instead of one giant catch-up batch — each batch stays
  * increment-sized (state, shuffle and sink commit all bounded), and a
  * restart resumes the pacing exactly-once from the checkpointed
  * offset. Implemented through Spark's [[SupportsAdmissionControl]]
  * seam, so the engine (not the source) drives when a batch is cut. */
class SnapshotMicroBatch(root: String, required: StructType,
    startingVersion: Int, ignoreChanges: Boolean,
    maxCommitsPerTrigger: Int = 0,
    readChangeFeed: Boolean = false) extends MicroBatchStream
    with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  /** Trigger.AvailableNow (the Delta semantic): the head is FROZEN at
    * query start — batches drain up to it (still paced by
    * maxCommitsPerTrigger), then the query terminates; commits landing
    * during the run wait for the next invocation. */
  @volatile private var availableNowTarget: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(SnapshotStreamSource.latestVersion(root))

  override def initialOffset(): Offset = VersionOffset(startingVersion - 1)

  override def latestOffset(): Offset = {
    val lv = SnapshotStreamSource.latestVersion(root)
    VersionOffset(if (lv < 0) startingVersion - 1 else lv)
  }

  /** Admission control: cap this batch's end offset at start +
    * maxCommitsPerTrigger commits (and at the AvailableNow freeze
    * point when one is set); the engine keeps triggering until the
    * backlog drains ([[reportLatestOffset]] tells it how far behind
    * the batch stopped). */
  override def latestOffset(startOffset: Offset, limit: ReadLimit): Offset = {
    val start = startOffset.asInstanceOf[VersionOffset].v
    val head = SnapshotStreamSource.latestVersion(root)
    val lv = availableNowTarget.fold(head)(math.min(head, _))
    if (lv < 0) VersionOffset(startingVersion - 1)
    else if (maxCommitsPerTrigger <= 0) VersionOffset(lv)
    else VersionOffset(math.min(lv, start + maxCommitsPerTrigger))
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** The TRUE head, regardless of pacing — surfaces the backlog in
    * streaming progress metrics. */
  override def reportLatestOffset(): Offset = latestOffset()

  override def deserializeOffset(json: String): Offset =
    VersionOffset(json.toInt)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[VersionOffset].v
    val e = end.asInstanceOf[VersionOffset].v
    val window = SnapshotStreamSource.commitsRange(root, s, e)
    if (readChangeFeed)
      return SnapshotStreamSource.cdfPartitions(root, window, ignoreChanges)
    window.flatMap { c =>
      val mutating = c.removed.nonEmpty || c.dvs.nonEmpty
      if (mutating && !ignoreChanges)
        throw new IllegalStateException(
          s"SnapshotStreamSource: commit ${c.version} at $root removes " +
            "files or attaches deletion vectors (overwrite/merge/delete/" +
            "compact/MOR delete). Streaming a non-append table re-emits " +
            "rewritten files' carried rows and cannot retract MOR-deleted " +
            "ones; set ignoreChanges=true to accept that, or stream an " +
            "append-only table (Delta's contract).")
      c.added.map(f => LakeFilePartition(
        new Path(root, f.path).toString,
        commitVersion = c.version.toLong)
        : InputPartition)
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new SnapshotReaderFactory(required, readChangeFeed)

  override def commit(end: Offset): Unit = () // the log is immutable
  override def stop(): Unit = ()
}

/** `commitVersion`/`changeType` feed the change-feed metadata columns
  * — per-partition CONSTANTS decided at planning (a commit's files
  * all share its version), so the feed costs nothing at read time.
  * `masked` is this file's deletion-vector position set (sorted row
  * indices to skip) — deletion-sized, shipped with the task like
  * Delta ships a file's DV descriptor in its scan task. */
case class LakeFilePartition(file: String, commitVersion: Long = -1L,
    changeType: String = null,
    masked: Array[Long] = Array.empty) extends InputPartition

/** Reads each [[LakeFilePartition]] whole through one
  * [[SnapshotStreamSource.fileReader]], built on the driver when the
  * scan or micro-batch creates this factory. `required` is in PHYSICAL
  * names. */
class SnapshotReaderFactory(required: StructType, readChangeFeed: Boolean)
    extends PartitionReaderFactory {
  // `_commit_version` is a planning constant, never read from a file;
  // `_change_type` is read (change files store it) and, on add-file
  // partitions, overridden by the partition's constant.
  private val fileSchema =
    if (readChangeFeed) StructType(required.filterNot(_.name == "_commit_version"))
    else required
  private val read = SnapshotStreamSource.fileReader(fileSchema)

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[LakeFilePartition]
    new LakeFileReader(read(SnapshotStreamSource.wholeFile(p.file)), p.masked,
      if (readChangeFeed) cdfRow(p) else identity)
  }

  /** A change-feed row from a file row: `_commit_version` and (when
    * the partition sets it) `_change_type` are the partition's
    * constants, every other column is the file's. */
  private def cdfRow(p: LakeFilePartition): InternalRow => InternalRow = {
    val slots: Array[InternalRow => Any] = required.fields.map { f =>
      f.name match {
        case "_commit_version" =>
          val v = p.commitVersion
          (_: InternalRow) => v
        case "_change_type" if p.changeType != null =>
          val c = UTF8String.fromString(p.changeType)
          (_: InternalRow) => c
        case name =>
          val j = fileSchema.fieldIndex(name)
          (r: InternalRow) => if (r.isNullAt(j)) null else r.get(j, f.dataType)
      }
    }
    r => new GenericInternalRow(slots.map(_(r)))
  }
}

/** One lake file's rows in file order, deletion-vector positions
  * skipped: `masked` is sorted, so one cursor suffices — a masked
  * index compares equal exactly once (the row counter mirrors Spark's
  * `_metadata.row_index`, which is what the write side recorded
  * positions against). */
class LakeFileReader(rows: Iterator[InternalRow], masked: Array[Long],
    project: InternalRow => InternalRow) extends PartitionReader[InternalRow] {
  private var current: InternalRow = _
  private var rowIdx = -1L
  private var mi = 0

  override def next(): Boolean = {
    while (rows.hasNext) {
      current = rows.next()
      rowIdx += 1
      // self-healing catch-up: a stale cursor (defensive — positions
      // arrive strictly ascending) must never un-mask later rows
      while (mi < masked.length && masked(mi) < rowIdx) mi += 1
      if (mi < masked.length && masked(mi) == rowIdx) mi += 1 // skip
      else return true
    }
    false
  }

  override def get(): InternalRow = project(current)

  // A drained reader has closed itself, and Spark closes an undrained
  // one at task end; this closes one a LIMIT left open.
  override def close(): Unit = rows match {
    case c: java.io.Closeable => c.close()
    case _ => ()
  }
}
