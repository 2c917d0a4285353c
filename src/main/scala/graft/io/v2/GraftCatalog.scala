package graft.io.v2

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException,
  NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange,
  SupportsNamespaces, SupportsRead, SupportsWrite, Table, TableCapability,
  TableCatalog, TableCatalogCapability, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo,
  SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.io.Snapshot

/** The snapshot lake as a Spark SQL CATALOG — the way Delta ships its
  * consumer surface: register once,
  *
  * {{{
  *   spark.sql.catalog.graft           = graft.io.v2.GraftCatalog
  *   spark.sql.catalog.graft.warehouse = /path/to/warehouse
  * }}}
  *
  * and plain SQL text drives the lake end to end:
  *
  * {{{
  *   CREATE TABLE graft.db.t (k BIGINT, v STRING)
  *   INSERT INTO graft.db.t SELECT ...
  *   INSERT OVERWRITE graft.db.t SELECT ...
  *   SELECT * FROM graft.db.t VERSION AS OF 3
  *   SELECT * FROM graft.db.t TIMESTAMP AS OF '2026-08-16 12:00:00'
  *   ALTER TABLE graft.db.t RENAME COLUMN v TO label
  *   ALTER TABLE graft.db.t ADD COLUMNS (note STRING)
  *   ALTER TABLE graft.db.t DROP COLUMN note
  *   DESCRIBE TABLE graft.db.t
  *   SHOW TABLES IN graft.db
  * }}}
  *
  * A table is a directory under the warehouse holding a `_log` (the
  * commit log [[Snapshot.Lake]] writes); namespaces are the directory
  * levels between. Reads serve through the same DSv2 scan as the path
  * connector (file pruning, DV masking, column mapping, CDF — one
  * planner, two front doors); writes route through the Lake's
  * transactional commit via Spark's V1 write fallback, so SQL inserts
  * get OCC, schema enforcement, constraints and identity/generated
  * derivation identical to the programmatic API. Time travel resolves
  * `VERSION AS OF` to a pinned snapshot and `TIMESTAMP AS OF` through
  * the O(log n) in-commit-timestamp binary search. At 100 TB the
  * catalog adds nothing to the data path — it only resolves names to
  * roots at planning time.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces {
  private var catalogName: String = _
  private var warehouse: Path = _
  // The ACTIVE session's hadoop conf (spark.hadoop.* + per-session
  // overrides), not a fresh empty Configuration — invisible on local
  // FS, load-bearing the day the warehouse is an object store whose
  // credentials/endpoint arrive via spark.hadoop.*.
  private[io] def conf: Configuration =
    org.apache.spark.sql.graftbridge.PlanBridge.activeHadoopConf()
  private def fs = warehouse.getFileSystem(conf)

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val w = options.get("warehouse")
    require(w != null && w.nonEmpty,
      s"spark.sql.catalog.$name.warehouse must point at the lake " +
        "warehouse directory")
    warehouse = new Path(w)
  }

  override def name(): String = catalogName

  private def dirOf(levels: Seq[String]): Path =
    levels.foldLeft(warehouse)((p, s) => new Path(p, s))
  private def pathOf(ident: Identifier): Path =
    dirOf(ident.namespace().toSeq :+ ident.name())
  private def isTable(p: Path): Boolean = fs.exists(new Path(p, "_log"))
  private def identString(ident: Identifier): String =
    (Seq(catalogName) ++ ident.namespace().toSeq :+ ident.name())
      .mkString(".")

  // ---- tables -----------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = dirOf(namespace.toSeq)
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(
      namespace.toSeq)
    fs.listStatus(dir).toSeq.filter(_.isDirectory).map(_.getPath)
      .filter(isTable)
      .map(p => Identifier.of(namespace, p.getName)).toArray
  }

  override def loadTable(ident: Identifier): Table = load(ident, -1)

  /** SQL `VERSION AS OF` (Spark routes the literal here). */
  override def loadTable(ident: Identifier, version: String): Table =
    load(ident, version.toIntOption.getOrElse(
      throw new IllegalArgumentException(
        s"VERSION AS OF '$version': graft versions are integers")))

  /** SQL `TIMESTAMP AS OF` — Spark hands MICROSECONDS since epoch;
    * resolution is the in-commit-timestamp binary search. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val p = pathOf(ident)
    if (!isTable(p)) throw new NoSuchTableException(ident)
    load(ident, Snapshot.versionAtOrBefore(fs, new Path(p, "_log"),
      timestamp / 1000L))
  }

  private def load(ident: Identifier, versionAsOf: Int): Table = {
    val p = pathOf(ident)
    if (!isTable(p)) throw new NoSuchTableException(ident)
    new GraftSqlTable(identString(ident), p.toString, versionAsOf)
  }

  /** PARTITIONED BY (col, ...): identity transforms become the
    * table's RECORDED partition layout (stamped into the meta line by
    * createTable), so every later INSERT — SQL or programmatic —
    * keeps the hive layout and the manifest partition-pruning tier
    * without re-declaring it. */
  private def identityPartCols(partitions: Array[Transform]): Seq[String] =
    partitions.toSeq.map { t =>
      if (t.name == "identity" && t.references.length == 1 &&
          t.references()(0).fieldNames.length == 1)
        t.references()(0).fieldNames()(0)
      else throw new UnsupportedOperationException(
        s"CREATE TABLE ... PARTITIONED BY ${t.describe()}: only " +
          "plain-column (identity) partitioning is supported — derive " +
          "bucketing/expressions with a generated column instead")
    }

  /** DDL capabilities: the parser accepts GENERATED ALWAYS AS (expr)
    * and GENERATED ALWAYS AS IDENTITY column clauses for this catalog
    * — both map onto the lake's own generated/identity machinery. */
  override def capabilities(): util.Set[TableCatalogCapability] =
    Set(TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS,
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS)
      .asJava

  /** CREATE TABLE with the full V2 column form — generation
    * expressions and identity specs peel off into the Lake's
    * declarations (recorded in the meta line like the programmatic
    * constructor's); the plain shape delegates to the StructType
    * form below. Only the ALWAYS identity form is implemented —
    * GENERATED BY DEFAULT (allowExplicitInsert) refuses. */
  override def createTable(ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val generated = columns.toSeq.flatMap(c =>
      Option(c.generationExpression).filter(_.nonEmpty)
        .map(e => c.name -> e))
    val identity = columns.toSeq.flatMap(c =>
      Option(c.identityColumnSpec).map { s =>
        require(!s.isAllowExplicitInsert, s"identity column " +
          s"'${c.name}': GENERATED BY DEFAULT is not supported — " +
          "this lake implements the ALWAYS form (the writer assigns)")
        (c.name, s.getStart, s.getStep)
      })
    if (generated.isEmpty && identity.isEmpty)
      return createTable(ident,
        StructType(columns.map(c =>
          StructField(c.name, c.dataType, c.nullable))),
        partitions, properties)
    val p = pathOf(ident)
    if (isTable(p)) throw new TableAlreadyExistsException(ident)
    val partCols = identityPartCols(partitions)
    val userProps = properties.asScala.toMap --
      Seq("provider", "location", "owner", "external")
    // plain name/type/nullable schema: the Lake stamps its OWN
    // metadata form (graft.generated / graft.identity / graft.partcol)
    val schema = StructType(columns.map(c =>
      StructField(c.name, c.dataType, c.nullable)))
    Snapshot.Lake(SparkSession.active, p.toString,
      partitionCols = partCols, generatedCols = generated,
      identityCols = identity).createTable(schema, userProps)
    new GraftSqlTable(identString(ident), p.toString, -1)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val p = pathOf(ident)
    if (isTable(p)) throw new TableAlreadyExistsException(ident)
    val partCols = identityPartCols(partitions)
    // Engine-managed keys Spark injects into every CREATE TABLE
    // (provider/location/owner/external) stay out of the log; user
    // TBLPROPERTIES (and comment) record as table configuration.
    val userProps = properties.asScala.toMap --
      Seq("provider", "location", "owner", "external")
    Snapshot.Lake(SparkSession.active, p.toString,
      partitionCols = partCols).createTable(schema, userProps)
    new GraftSqlTable(identString(ident), p.toString, -1)
  }

  /** ALTER TABLE: the metadata-only column lifecycle the lake already
    * implements — RENAME COLUMN / ADD COLUMNS / DROP COLUMN route to
    * renameColumn / evolveSchema / dropColumn (each one commit, no
    * data rewrite). Anything else refuses loudly. */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val p = pathOf(ident)
    if (!isTable(p)) throw new NoSuchTableException(ident)
    val lake = Snapshot.Lake(SparkSession.active, p.toString)
    // SET/UNSET TBLPROPERTIES batch into ONE metadata commit each
    // (Spark hands all pairs of one statement together).
    val sets = changes.collect { case c: TableChange.SetProperty =>
      c.property -> c.value }
    if (sets.nonEmpty) lake.setProperties(sets.toMap)
    val unsets = changes.collect { case c: TableChange.RemoveProperty =>
      c.property }
    if (unsets.nonEmpty) lake.unsetProperties(unsets)
    changes.foreach {
      case _: TableChange.SetProperty | _: TableChange.RemoveProperty =>
        () // handled above
      case c: TableChange.RenameColumn =>
        require(c.fieldNames.length == 1,
          "nested RENAME is not supported — the column-mapping tier " +
            "stamps physical names per TOP-LEVEL field only (a nested " +
            "rename needs per-inner-field ids, Delta's mapping mode " +
            "'name'); rewrite the whole struct column instead")
        lake.renameColumn(c.fieldNames()(0), c.newName())
      case c: TableChange.DeleteColumn =>
        require(c.fieldNames.length == 1,
          "nested DROP is not supported — same top-level mapping " +
            "non-goal as nested RENAME; rewrite the whole struct column")
        lake.dropColumn(c.fieldNames()(0))
      case c: TableChange.AddColumn =>
        require(c.position() == null,
          "ADD COLUMNS ... FIRST/AFTER is not supported — evolved " +
            "columns append at the end (files predating them null-fill)")
        require(c.isNullable,
          "ADD COLUMNS ... NOT NULL is not supported — files written " +
            "before the evolution null-fill the new column, so it " +
            "cannot honor NOT NULL (Delta refuses the same)")
        val cur = lake.tableSchema.getOrElse(
          sys.error(s"ALTER TABLE ${identString(ident)}: no recorded " +
            "schema to evolve — commit data or CREATE TABLE first"))
        c.fieldNames.toSeq match {
          case Seq(name) =>
            lake.evolveSchema(StructType(cur.fields :+
              StructField(name, c.dataType(), c.isNullable)))
          case Seq(parent, child) =>
            // one level of nesting: ADD COLUMNS (parent.child TYPE)
            // widens the existing struct column — a metadata-only
            // evolveSchema commit; files predating it null-fill the
            // new field via parquet schema clipping.
            val pf = cur.fields.find(_.name == parent).getOrElse(
              sys.error(s"ALTER TABLE ${identString(ident)}: no " +
                s"column '$parent' to add '$child' into"))
            val widened = pf.dataType match {
              case st: StructType =>
                require(!st.fieldNames.contains(child),
                  s"ALTER TABLE ${identString(ident)}: field " +
                    s"'$parent.$child' already exists")
                StructType(st.fields :+
                  StructField(child, c.dataType(), c.isNullable))
              case other => sys.error(
                s"ALTER TABLE ${identString(ident)}: '$parent' is " +
                  s"${other.simpleString}, not a struct — nested ADD " +
                  "needs a struct parent")
            }
            lake.evolveSchema(StructType(cur.fields.map(f =>
              if (f.name == parent) f.copy(dataType = widened) else f)))
          case parts => throw new UnsupportedOperationException(
            s"ALTER TABLE ${identString(ident)}: ADD COLUMNS " +
              s"${parts.mkString(".")} — only one level of nesting " +
              "is supported")
        }
      case other => throw new UnsupportedOperationException(
        s"ALTER TABLE ${identString(ident)}: unsupported change " +
          s"${other.getClass.getSimpleName} — supported: RENAME " +
          "COLUMN, ADD COLUMNS, DROP COLUMN")
    }
    load(ident, -1)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val p = pathOf(ident)
    if (!isTable(p)) false else fs.delete(p, true)
  }

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit = {
    val from = pathOf(oldIdent)
    val to = pathOf(newIdent)
    if (!isTable(from)) throw new NoSuchTableException(oldIdent)
    if (isTable(to)) throw new TableAlreadyExistsException(newIdent)
    fs.mkdirs(to.getParent)
    require(fs.rename(from, to),
      s"renameTable: rename $from -> $to failed")
  }

  // ---- namespaces (directories between warehouse and table) --------

  override def listNamespaces(): Array[Array[String]] =
    if (!fs.exists(warehouse)) Array.empty
    else fs.listStatus(warehouse).toSeq.filter(_.isDirectory)
      .map(_.getPath).filterNot(isTable)
      .map(p => Array(p.getName)).toArray

  override def listNamespaces(namespace: Array[String])
      : Array[Array[String]] = {
    val dir = dirOf(namespace.toSeq)
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(
      namespace.toSeq)
    fs.listStatus(dir).toSeq.filter(_.isDirectory).map(_.getPath)
      .filterNot(isTable)
      .map(p => namespace :+ p.getName).toArray
  }

  override def loadNamespaceMetadata(namespace: Array[String])
      : util.Map[String, String] = {
    val dir = dirOf(namespace.toSeq)
    if (!fs.exists(dir) || isTable(dir))
      throw new NoSuchNamespaceException(namespace.toSeq)
    util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit =
    fs.mkdirs(dirOf(namespace.toSeq))

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft namespaces carry no metadata to alter")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    val dir = dirOf(namespace.toSeq)
    if (!fs.exists(dir)) false
    else {
      require(cascade || fs.listStatus(dir).isEmpty,
        s"namespace ${namespace.mkString(".")} is not empty — " +
          "use CASCADE")
      fs.delete(dir, true)
    }
  }
}

/** One catalog-resolved lake table: reads through the SAME scan
  * machinery as the path connector (a pinned `versionAsOf` rides the
  * scan options, so time travel, pruning, DV masking and mapping all
  * come for free); writes through Spark's V1 fallback into the Lake's
  * transactional commit (OCC retry, schema enforcement, constraints,
  * generated/identity derivation — SQL inserts and programmatic
  * appends are the same code path). */
class GraftSqlTable(ident: String, root: String, versionAsOf: Int)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete {

  override def name(): String = ident
  /** The lake root / pinned version, for [[GraftDmlRule]]'s rewrite. */
  private[v2] def tableRoot: String = root
  private[v2] def pinnedVersion: Int = versionAsOf

  /** Filter-shaped SQL DELETE without the extensions installed —
    * Spark's own `DeleteFromTableExec` door. Both doors call the same
    * [[Snapshot.Lake.deleteWhere]]; with [[graft.plans.GraftExtensions]]
    * active, [[GraftDmlRule]] intercepts first and also covers
    * conditions V1 filters can't express. */
  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    versionAsOf < 0 && filters.forall(Snapshot.filterToColumn(_).isDefined)

  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    require(versionAsOf < 0,
      s"cannot DELETE FROM a time-travel relation of $ident")
    import org.apache.spark.sql.functions.lit
    val cond = filters.toSeq.flatMap(Snapshot.filterToColumn)
      .reduceOption(_ && _).getOrElse(lit(true))
    Snapshot.Lake(SparkSession.active, root)
      .deleteWhere(cond, filters.toSeq)
  }

  override def properties(): util.Map[String, String] =
    SnapshotStreamSource.tableProperties(root).asJava

  /** The logical schema with the lake's generated/identity
    * declarations TRANSLATED to Spark's own field-metadata keys
    * (GeneratedColumn / IdentityColumn in catalyst), so DESCRIBE and
    * the DML analyzer see them the way native V2 identity/generated
    * columns surface. Nullability relaxes to true like every lake
    * read (pre-evolution files null-fill). */
  override def schema(): StructType = resolvedSchema

  // one fold per Table INSTANCE (Spark calls schema() repeatedly
  // while planning; an instance is one loadTable resolution, so
  // caching can never serve a stale snapshot to a new query)
  private lazy val resolvedSchema: StructType = {
    val asOf = if (versionAsOf < 0) Int.MaxValue else versionAsOf
    SnapshotStreamSource.recordedSchema(root, asOf).map { ts =>
      StructType(ts.fields.map { f =>
        val b = new org.apache.spark.sql.types.MetadataBuilder()
        // Spark's metadata keys (catalyst GeneratedColumn /
        // IdentityColumn — private[sql], so the literals are pinned
        // here): GENERATION_EXPRESSION, identity.start/step/
        // allowExplicitInsert.
        if (f.metadata.contains(Snapshot.GenKey))
          b.putString("GENERATION_EXPRESSION",
            f.metadata.getString(Snapshot.GenKey))
        if (f.metadata.contains(Snapshot.IdKey)) {
          val Array(st, sp) =
            f.metadata.getString(Snapshot.IdKey).split(":", 2)
          b.putLong("identity.start", st.toLong)
          b.putLong("identity.step", sp.toLong)
          b.putBoolean("identity.allowExplicitInsert", false)
        }
        StructField(f.name, f.dataType, nullable = true, b.build())
      })
    }.getOrElse(SnapshotStreamSource.unionSchema(root))
  }

  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = {
    val merged = new util.HashMap[String, String](
      options.asCaseSensitiveMap())
    if (versionAsOf >= 0) merged.put("versionAsOf", versionAsOf.toString)
    new SnapshotScanBuilder(root, schema(),
      new CaseInsensitiveStringMap(merged))
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame,
                legacyOverwrite: Boolean): Unit = {
              require(versionAsOf < 0,
                s"cannot INSERT into a time-travel relation of $ident")
              val lake = Snapshot.Lake(data.sparkSession, root)
              // A column-list INSERT omitting a writer-assigned
              // column (identity / generated) reaches here NULL-FILLED
              // — the analyzer widens the narrow frame to the table
              // schema. Drop the all-null writer-assigned columns so
              // the lake assigns/derives them, exactly as a
              // programmatic append that never carried them; columns
              // carrying actual values stay and meet the same gates
              // (ALWAYS refusal, provided-value validation). One
              // insert-sized aggregate over a PINNED input decides
              // (localCheckpoint: the count and the write must see the
              // same rows — re-executing a non-deterministic source
              // for the aggregate could diverge from the written pass).
              //
              // PINNED CONTRACT (SqlLakeSpec "explicit NULL"): an
              // INSERT providing explicit NULL for every row of a
              // writer-assigned column is INDISTINGUISHABLE from an
              // omitted column after the analyzer's null-fill, so it
              // is treated as omitted — the writer assigns/derives.
              // (Delta refuses the explicit form; refusing here would
              // refuse the legitimate omitted form too, which the
              // analyzer presents identically.) A column carrying a
              // MIX of values and NULLs stays provided: identity
              // ALWAYS refuses it, generated value-validation rejects
              // the NULL rows — both loud.
              val assigned = SnapshotStreamSource.recordedSchema(root)
                .map(_.fields.toSeq.filter(f =>
                  f.metadata.contains(Snapshot.IdKey) ||
                    f.metadata.contains(Snapshot.GenKey))
                  .map(_.name).filter(data.columns.contains))
                .getOrElse(Nil)
              val df =
                if (assigned.isEmpty) data
                else {
                  import org.apache.spark.sql.functions.{col, count}
                  val pinned = data.localCheckpoint(true)
                  val aggs = assigned.map(c => count(col(c)).as(c))
                  val r = pinned.agg(aggs.head, aggs.tail: _*).head()
                  val omitted = assigned.filter(c =>
                    r.getAs[Long](c) == 0L)
                  pinned.drop(omitted: _*)
                }
              if (overwrite || legacyOverwrite) lake.overwrite(df)
              else lake.append(df)
            }
          }
      }
    }
}
