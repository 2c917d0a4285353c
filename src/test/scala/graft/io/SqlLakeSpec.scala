package graft.io

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}

import graft.SparkSpec

/** The lake's SQL-catalog surface ([[graft.io.v2.GraftCatalog]]):
  * plain SQL text — CREATE/INSERT/SELECT/time travel/ALTER/DROP —
  * drives the same transactional log as the programmatic API, and the
  * two front doors observe each other's commits exactly. */
class SqlLakeSpec extends SparkSpec with graft.LowStatePartitions {
  import spark.implicits._

  private def freshCatalog(): (String, String) = {
    val wh = Files.createTempDirectory("graft-sqlspec-wh-").toString
    val cat = s"gsql${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.io.v2.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

  test("SQL text end to end: create, insert, select, time travel, overwrite, drop") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v STRING)") // v0 meta
    assert(spark.sql(s"SHOW TABLES IN $cat.db").collect()
      .map(_.getString(1)).toSeq === Seq("t"))
    assert(spark.sql(s"DESCRIBE TABLE $cat.db.t").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
      .containsSlice(Seq(("k", "bigint"), ("v", "string"))))
    // an empty created table SELECTs empty under the recorded schema
    assert(spark.sql(s"SELECT * FROM $cat.db.t").count() === 0)

    spark.sql(s"INSERT INTO $cat.db.t VALUES (1, 'a'), (2, 'b')") // v1
    spark.sql(s"INSERT INTO $cat.db.t VALUES (3, 'c')")           // v2
    assert(spark.sql(s"SELECT sum(k) FROM $cat.db.t").head().getLong(0)
      === 6L)
    // VERSION AS OF pins snapshots; the created (empty) v0 included.
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.t VERSION AS OF 0")
      .head().getLong(0) === 0L)
    assert(spark.sql(s"SELECT k FROM $cat.db.t VERSION AS OF 1")
      .as[Long].collect().sorted.toSeq === Seq(1L, 2L))
    // TIMESTAMP AS OF resolves through the in-commit stamp.
    val lake = Snapshot.Lake(spark, s"$wh/db/t")
    val ts1 = lake.commits.find(_.version == 1).get.ts.get
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.t " +
      s"TIMESTAMP AS OF timestamp_millis(${ts1}L)").head().getLong(0)
      === 2L)
    // INSERT OVERWRITE replaces contents as one rewrite commit.
    spark.sql(s"INSERT OVERWRITE $cat.db.t VALUES (9, 'z')") // v3
    assert(spark.sql(s"SELECT k, v FROM $cat.db.t").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((9L, "z")))
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.t VERSION AS OF 2")
      .head().getLong(0) === 3L, "overwrite must not rewrite history")
    // schema enforcement reaches SQL inserts (extra column refuses)
    intercept[Exception](spark.sql(
      s"INSERT INTO $cat.db.t VALUES (1, 'a', 'extra')"))
    // DROP TABLE removes it; the name stops resolving.
    spark.sql(s"DROP TABLE $cat.db.t")
    intercept[Exception](spark.sql(s"SELECT * FROM $cat.db.t").collect())
  }

  test("ALTER TABLE column lifecycle is metadata-only; both front doors see one log") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.m (k BIGINT, cents BIGINT)")
    spark.sql(s"INSERT INTO $cat.db.m VALUES (1, 100), (2, 200)") // v1
    val lake = Snapshot.Lake(spark, s"$wh/db/m")
    val filesBefore = lake.liveFiles(lake.latestVersion).map(_.path)

    spark.sql(s"ALTER TABLE $cat.db.m RENAME COLUMN cents TO price") // v2
    assert(spark.sql(s"SELECT sum(price) FROM $cat.db.m")
      .head().getLong(0) === 300L)
    assert(lake.liveFiles(lake.latestVersion).map(_.path) === filesBefore,
      "a SQL rename must be metadata-only — zero files rewritten")
    spark.sql(s"ALTER TABLE $cat.db.m ADD COLUMNS (note STRING)") // v3
    spark.sql(s"INSERT INTO $cat.db.m VALUES (3, 300, 'n3')")     // v4
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.db.m WHERE note IS NULL")
      .head().getLong(0) === 2L, "pre-evolution rows null-fill")
    spark.sql(s"ALTER TABLE $cat.db.m DROP COLUMN note") // v5
    assert(!spark.sql(s"SELECT * FROM $cat.db.m").columns.contains("note"))

    // Interop: the programmatic API sees SQL commits and vice versa.
    val viaLake = Snapshot.Lake(spark, s"$wh/db/m")
    assert(viaLake.read().select(sum("price")).head().getLong(0) === 600L)
    viaLake.append(Seq((4L, 400L)).toDF("k", "price")) // v6
    assert(spark.sql(s"SELECT sum(price) FROM $cat.db.m")
      .head().getLong(0) === 1000L)
    // Time travel BELOW the rename serves the old column name.
    assert(spark.sql(s"SELECT * FROM $cat.db.m VERSION AS OF 1")
      .columns.toSeq === Seq("k", "cents"))
    // Unsupported ALTER refuses loudly.
    intercept[Exception](spark.sql(
      s"ALTER TABLE $cat.db.m ALTER COLUMN k TYPE INT"))
  }

  test("CREATE TABLE PARTITIONED BY: the layout is table metadata — every front door keeps it") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.p (k BIGINT, yr BIGINT) " +
      "PARTITIONED BY (yr)")
    spark.sql(s"INSERT INTO $cat.db.p " +
      "SELECT id, 1990 + id % 4 FROM range(400)") // v1
    val lake = Snapshot.Lake(spark, s"$wh/db/p")
    val parts = lake.liveFiles(lake.latestVersion)
      .flatMap(_.parts.get("yr")).distinct.sorted
    assert(parts === Seq("1990", "1991", "1992", "1993"),
      "SQL inserts must land hive-partitioned with manifest part: tiers")
    // A fresh PROGRAMMATIC handle (no partitionCols declared) keeps
    // the recorded layout.
    lake.append(spark.range(400, 500)
      .selectExpr("id AS k", "CAST(1994 AS BIGINT) AS yr")) // v2
    assert(lake.liveFiles(lake.latestVersion)
      .flatMap(_.parts.get("yr")).distinct.sorted.last === "1994")
    // The partition tier prunes SQL point queries at planning.
    val all = spark.sql(s"SELECT * FROM $cat.db.p").rdd.getNumPartitions
    val one = spark.sql(s"SELECT * FROM $cat.db.p WHERE yr = 1994")
      .rdd.getNumPartitions
    assert(one < all, s"partition tier must prune: $one of $all")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.p WHERE yr = 1994")
      .head().getLong(0) === 100L)
    // A handle DECLARING a different layout refuses (spec mismatch).
    val bad = Snapshot.Lake(spark, s"$wh/db/p", partitionCols = Seq("k"))
    assert(intercept[IllegalArgumentException](
      bad.append(spark.range(1)
        .selectExpr("id AS k", "CAST(2000 AS BIGINT) AS yr")))
      .getMessage.contains("partition-spec mismatch"))
    // A non-identity transform refuses loudly at CREATE.
    intercept[Exception](spark.sql(
      s"CREATE TABLE $cat.db.p2 (k BIGINT, ts TIMESTAMP) " +
        "PARTITIONED BY (days(ts))"))
  }

  test("TBLPROPERTIES: recorded at CREATE, SET/UNSET are metadata-only commits, folded through checkpoints") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.c (k BIGINT) " +
      "TBLPROPERTIES ('team' = 'iiot', 'tier' = 'gold')")
    def props(): Map[String, String] =
      spark.sql(s"SHOW TBLPROPERTIES $cat.db.c").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props().get("team") === Some("iiot"))
    assert(props().get("tier") === Some("gold"))
    assert(!props().contains("provider"),
      "engine-managed keys stay out of the table configuration")
    spark.sql(s"ALTER TABLE $cat.db.c SET TBLPROPERTIES " +
      "('tier' = 'platinum', 'retention' = '30d')")
    spark.sql(s"ALTER TABLE $cat.db.c UNSET TBLPROPERTIES ('team')")
    assert(props().get("tier") === Some("platinum"))
    assert(props().get("retention") === Some("30d"))
    assert(!props().contains("team"))
    // Each statement is one metadata-only commit; the fold survives a
    // checkpoint hop and the programmatic door reads the same map.
    val lake = Snapshot.Lake(spark, s"$wh/db/c", checkpointInterval = 2)
    assert(lake.tableProperties ===
      Map("tier" -> "platinum", "retention" -> "30d"))
    import spark.implicits._
    lake.append(Seq(1L).toDF("k")) // v3
    lake.append(Seq(2L).toDF("k")) // v4 (checkpoint at interval 2)
    assert(Snapshot.Lake(spark, s"$wh/db/c").tableProperties ===
      Map("tier" -> "platinum", "retention" -> "30d"),
      "properties must fold through the checkpoint render→parse hop")
    assert(lake.commits.find(_.version == 1).get.added.isEmpty,
      "SET TBLPROPERTIES must be a metadata-only commit")
  }

  test("streaming and CDF SQL surfaces: readStream.table() drains catalog commits; a temp view serves the change feed") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.s (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.db.s VALUES (1, 'a'), (2, 'b')")
    // Structured Streaming straight off the catalog table name — the
    // same MICRO_BATCH_READ capability the path connector serves.
    val name = s"sqlstream${System.nanoTime()}"
    val q = spark.readStream.table(s"$cat.db.s")
      .writeStream.outputMode("append").format("memory").queryName(name)
      .option("checkpointLocation", Files
        .createTempDirectory("sql-stream-ckpt").toString).start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).count() === 2)
      spark.sql(s"INSERT INTO $cat.db.s VALUES (3, 'c')")
      q.processAllAvailable()
      assert(spark.table(name).count() === 3)
    } finally q.stop()
    // The change feed through PLAIN SQL: a temporary view over the
    // connector with reader options — vanilla Spark syntax, no
    // engine-specific parser extensions needed.
    spark.sql(s"""CREATE TEMPORARY VIEW sqlcdf_$name
      USING graft.io.v2.SnapshotStreamSource
      OPTIONS (path '$wh/db/s', readChangeFeed 'true')""")
    val feed = spark.sql(s"SELECT k, _change_type, _commit_version " +
      s"FROM sqlcdf_$name ORDER BY _commit_version, k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(feed.toSeq === Seq((1L, "insert", 1L), (2L, "insert", 1L),
      (3L, "insert", 2L)))
  }

  test("SQL DDL identity + generated columns: declarations wire into the lake's machinery") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"""CREATE TABLE $cat.db.i (
      id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 1000 INCREMENT BY 10),
      k BIGINT,
      yr BIGINT GENERATED ALWAYS AS (k % 4 + 1990))""")
    // The declarations landed in the lake's recorded schema.
    val lake = Snapshot.Lake(spark, s"$wh/db/i")
    assert(Snapshot.identityIn(lake.tableSchema.get) ===
      Seq(("id", 1000L, 10L)))
    assert(Snapshot.generatedIn(lake.tableSchema.get) ===
      Seq(("yr", "k % 4 + 1990")))
    // Programmatic appends assign the identity and derive the
    // generated column from the DDL-recorded declarations.
    import spark.implicits._
    lake.append(Seq(1L, 2L, 7L).toDF("k"))
    val rows = spark.sql(s"SELECT id, k, yr FROM $cat.db.i").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length === 3)
    assert(rows.map(_._1).distinct.length === 3)
    assert(rows.forall { case (id, _, _) =>
      id >= 1000L && (id - 1000L) % 10L == 0L })
    assert(rows.forall { case (_, k, yr) => yr == k % 4 + 1990 })
    // SQL INSERT with a column list omitting the writer-assigned
    // columns: the schema's translated identity/generation metadata
    // lets the analyzer pass the narrow frame through, and the lake
    // assigns/derives like any programmatic append.
    spark.sql(s"INSERT INTO $cat.db.i (k) VALUES (9)")
    val after = spark.sql(s"SELECT id, k, yr FROM $cat.db.i")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(after.length === 4)
    assert(after.map(_._1).distinct.length === 4)
    assert(after.find(_._2 == 9L).get._3 === 1991L)
    // GENERATED BY DEFAULT refuses (the lake implements ALWAYS).
    intercept[Exception](spark.sql(
      s"""CREATE TABLE $cat.db.i2 (
        id BIGINT GENERATED BY DEFAULT AS IDENTITY,
        k BIGINT)"""))
  }

  test("generated-partition rewrite through SQL: a date-window query opens only its years' partitions") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"""CREATE TABLE $cat.db.g (
      k BIGINT, odate DATE,
      yr BIGINT GENERATED ALWAYS AS (year(odate)))
      PARTITIONED BY (yr)""")
    val lake = Snapshot.Lake(spark, s"$wh/db/g")
    // 8 years of data, one row per day-of-year slice, derived yr.
    lake.append(spark.range(0, 2920).selectExpr("id AS k",
      "date_add(DATE '1992-01-01', CAST(id AS INT)) AS odate"))
    assert(lake.liveFiles(lake.latestVersion)
      .flatMap(_.parts.get("yr")).distinct.size === 8)
    val all = spark.sql(s"SELECT * FROM $cat.db.g").rdd.getNumPartitions
    // The window touches 1994-1995 only: the rewrite must prune the
    // other years' partitions AT PLANNING, and the residual predicate
    // keeps the row set exact.
    val win = spark.sql(s"SELECT k FROM $cat.db.g WHERE odate " +
      "BETWEEN DATE '1994-06-01' AND DATE '1995-03-15'")
    assert(win.rdd.getNumPartitions < all,
      s"generated rewrite must prune: ${win.rdd.getNumPartitions} of $all")
    assert(win.count() ===
      lake.readWhere(lake.latestVersion, Seq(
        GreaterThanOrEqual("odate", java.sql.Date.valueOf("1994-06-01")),
        LessThanOrEqual("odate", java.sql.Date.valueOf("1995-03-15"))))
        .count(),
      "SQL window row set must equal the Lake's rewrite read")
    // Point query on the generated column itself uses the plain
    // partition tier (no rewrite needed).
    val point = spark.sql(s"SELECT k FROM $cat.db.g WHERE yr = 1993")
    assert(point.rdd.getNumPartitions < all)
    assert(point.count() === 365L)
    // The DATE column round-trips the Group-API reader exactly.
    assert(spark.sql(s"SELECT min(odate), max(odate) FROM $cat.db.g")
      .head().toSeq.map(_.toString) ===
      Seq("1992-01-01", "1999-12-29"))
  }

  test("namespaces, rename table, existence edges") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.ns1")
    spark.sql(s"CREATE TABLE $cat.ns1.a (x BIGINT)")
    spark.sql(s"INSERT INTO $cat.ns1.a VALUES (7)")
    assert(spark.sql(s"SHOW NAMESPACES IN $cat").collect()
      .map(_.getString(0)).contains("ns1"))
    spark.sql(s"ALTER TABLE $cat.ns1.a RENAME TO ns1.b")
    assert(spark.sql(s"SELECT x FROM $cat.ns1.b").head().getLong(0) === 7L)
    intercept[Exception](spark.sql(s"SELECT * FROM $cat.ns1.a").collect())
    // CREATE over an existing table refuses; IF NOT EXISTS tolerates.
    intercept[Exception](spark.sql(s"CREATE TABLE $cat.ns1.b (x BIGINT)"))
    spark.sql(s"CREATE TABLE IF NOT EXISTS $cat.ns1.b (x BIGINT)")
    assert(spark.sql(s"SELECT count(*) FROM $cat.ns1.b")
      .head().getLong(0) === 1L, "IF NOT EXISTS must not clobber")
  }

  test("SQL row-level DML: DELETE masks via DVs (no rewrite), UPDATE re-derives, MERGE emits CDF update pairs") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.d (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('graft.changeDataFeed' = 'true')")
    spark.sql(s"INSERT INTO $cat.db.d SELECT id, concat('row', id) " +
      "FROM range(100)") // v1
    val lake = Snapshot.Lake(spark, s"$wh/db/d")
    val filesBefore = lake.liveFiles(lake.latestVersion).map(_.path)

    // DELETE FROM: merge-on-read — DV mask, zero files rewritten
    spark.sql(s"DELETE FROM $cat.db.d WHERE k % 10 = 7") // v2
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.d")
      .head().getLong(0) === 90L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.d WHERE k % 10 = 7")
      .head().getLong(0) === 0L)
    assert(lake.liveFiles(lake.latestVersion).map(_.path) === filesBefore,
      "SQL DELETE must mask via deletion vectors — nothing rewrites")
    // history intact
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.d VERSION AS OF 1")
      .head().getLong(0) === 100L)

    // UPDATE: SET evaluates against the pre-update row
    spark.sql(s"UPDATE $cat.db.d SET v = concat('upd', k) WHERE k < 5") // v3
    assert(spark.sql(s"SELECT v FROM $cat.db.d WHERE k = 3")
      .head().getString(0) === "upd3")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.d")
      .head().getLong(0) === 90L, "UPDATE must not change row count")

    // MERGE INTO: update + delete + insert clauses in one statement,
    // CDF across it emits the update as its delete+insert pair
    spark.range(0, 3).selectExpr("id * 2 AS k",
      "concat('m', id * 2) AS nv").createOrReplaceTempView("mrg_src")
    val vPre = lake.latestVersion
    spark.sql(s"""MERGE INTO $cat.db.d t USING mrg_src s ON t.k = s.k
      WHEN MATCHED AND s.k = 0 THEN DELETE
      WHEN MATCHED THEN UPDATE SET v = s.nv
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k + 1000, s.nv)""")
    val r = spark.sql(s"SELECT k, v FROM $cat.db.d WHERE k IN (0, 2, 4)")
      .collect().map(x => (x.getLong(0), x.getString(1))).toMap
    assert(!r.contains(0L), "MATCHED DELETE clause")
    assert(r(2L) === "m2" && r(4L) === "m4", "MATCHED UPDATE from source")
    val cdc = lake.changes(vPre, vPre + 1)
    assert(cdc.filter(col("_op") === "delete").count() === 3) // del 0 + upd 2,4
    assert(cdc.filter(col("_op") === "insert").count() === 2) // upd 2,4
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.d")
      .head().getLong(0) === 89L)

    // UPDATE whose assignments all reduce to self-assignments (SET
    // k = k): no value can change — only the audit-trail no-op
    // version publishes; nothing scans, masks or appends
    val preNoop = lake.latestVersion
    val filesPreNoop = lake.liveState(preNoop)
    spark.sql(s"UPDATE $cat.db.d SET k = k WHERE k < 100")
    assert(lake.latestVersion === preNoop + 1,
      "self-assignment UPDATE still records its audit version")
    assert(lake.liveState(preNoop + 1) === filesPreNoop,
      "self-assignment UPDATE must not mask or append anything")
    assert(lake.changes(preNoop, preNoop + 1).count() === 0)

    // DML on time travel refuses
    intercept[Exception](spark.sql(
      s"DELETE FROM $cat.db.d VERSION AS OF 1 WHERE k = 1"))
    // WHEN NOT MATCHED BY SOURCE refuses loudly
    val e = intercept[Exception](spark.sql(
      s"""MERGE INTO $cat.db.d t USING mrg_src s ON t.k = s.k
        WHEN NOT MATCHED BY SOURCE THEN DELETE"""))
    assert(e.getMessage.contains("NOT MATCHED BY SOURCE"))
  }

  test("SupportsDelete door: filter-shaped DELETE works table-direct (no extensions required)") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.sd (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.db.sd SELECT id, 'x' FROM range(50)")
    // drive the V2 SupportsDelete interface directly — the door Spark
    // uses when GraftExtensions is not installed
    val tbl = new graft.io.v2.GraftCatalog() {
      initialize("t", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.singletonMap("warehouse", wh)))
    }.loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
      Array("db"), "sd")).asInstanceOf[graft.io.v2.GraftSqlTable]
    import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual}
    val fs: Array[Filter] = Array(GreaterThanOrEqual("k", 40L))
    assert(tbl.canDeleteWhere(fs))
    tbl.deleteWhere(fs)
    assert(spark.sql(s"SELECT count(*), max(k) FROM $cat.db.sd")
      .head().toSeq === Seq(40L, 39L))
  }

  test("ALTER TABLE ADD COLUMNS (parent.child): one level of nesting widens the struct metadata-only") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.nst " +
      "(k BIGINT, props STRUCT<a: STRING>)")
    spark.sql(s"INSERT INTO $cat.db.nst SELECT id, " +
      "named_struct('a', concat('x', id)) FROM range(3)") // v1
    val lake = Snapshot.Lake(spark, s"$wh/db/nst")
    val filesBefore = lake.liveFiles(lake.latestVersion).map(_.path)
    spark.sql(s"ALTER TABLE $cat.db.nst ADD COLUMNS (props.b BIGINT)") // v2
    assert(lake.liveFiles(lake.latestVersion).map(_.path) === filesBefore,
      "nested ADD must be metadata-only")
    spark.sql(s"INSERT INTO $cat.db.nst SELECT 9, " +
      "named_struct('a', 'y', 'b', CAST(42 AS BIGINT))") // v3
    val r = spark.sql(s"SELECT k, props.a, props.b FROM $cat.db.nst " +
      "ORDER BY k").collect()
    assert(r.length === 4)
    assert(r.take(3).forall(_.isNullAt(2)),
      "pre-evolution rows null-fill the new nested field")
    assert(r.last.getLong(2) === 42L)
    // refusals: nested rename/drop (top-level mapping non-goal),
    // non-struct parent, duplicate field
    intercept[Exception](spark.sql(
      s"ALTER TABLE $cat.db.nst RENAME COLUMN props.a TO z"))
    intercept[Exception](spark.sql(
      s"ALTER TABLE $cat.db.nst DROP COLUMN props.a"))
    intercept[Exception](spark.sql(
      s"ALTER TABLE $cat.db.nst ADD COLUMNS (k.sub BIGINT)"))
    intercept[Exception](spark.sql(
      s"ALTER TABLE $cat.db.nst ADD COLUMNS (props.b STRING)"))
    // NOT NULL adds refuse: old files null-fill the new column, so a
    // recorded NOT NULL would lie to readers (Delta refuses the same)
    val nn = intercept[Exception](spark.sql(
      s"ALTER TABLE $cat.db.nst ADD COLUMNS (c BIGINT NOT NULL)"))
    assert(nn.getMessage.contains("NOT NULL"))
    // ... and the recorded schema of every ADDED field is nullable
    // even one level down (the nested add above): readers must never
    // trust a non-null flag over null-filled storage
    val props = lake.tableSchema.get.fields.find(_.name == "props").get
    assert(props.dataType.asInstanceOf[org.apache.spark.sql.types
      .StructType].fields.find(_.name == "b").get.nullable,
      "added nested fields record nullable")
  }

  test("catalog FileSystem conf comes from the session (spark.hadoop.* reaches the warehouse)") {
    val wh = Files.createTempDirectory("graft-sqlspec-conf-").toString
    val gc = new graft.io.v2.GraftCatalog()
    gc.initialize("probe",
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.singletonMap("warehouse", wh)))
    val key = "graft.sqlspec.probe"
    spark.conf.set(key, "observed")
    try assert(gc.conf.get(key) === "observed",
      "sessionState.newHadoopConf() carries per-session settings — a " +
        "fresh empty Configuration would lose spark.hadoop.* endpoints " +
        "the day the warehouse is an object store")
    finally spark.conf.unset(key)
    assert(gc.conf.get(key) === null, "and it re-reads per call")
  }

  test("explicit NULL into writer-assigned columns: all-NULL assigns (pinned contract), mixed refuses") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"""CREATE TABLE $cat.db.n (
      id BIGINT GENERATED ALWAYS AS IDENTITY,
      k BIGINT)""")
    // The analyzer null-fills a column-list INSERT identically to an
    // explicit NULL, so the two forms are indistinguishable at the
    // connector: BOTH assign. This is the documented contract (Delta
    // refuses the explicit form; refusing here would refuse the
    // legitimate omitted form too).
    spark.sql(s"INSERT INTO $cat.db.n VALUES (NULL, 1), (NULL, 2)")
    val ids = spark.sql(s"SELECT id FROM $cat.db.n").collect()
      .map(_.getLong(0))
    assert(ids.length === 2 && ids.distinct.length === 2,
      "explicit NULLs into a GENERATED ALWAYS identity column are " +
        "writer-assigned, never stored as NULL")
    // A MIX of values and NULLs is a PROVIDED column — the identity
    // ALWAYS gate refuses it loudly instead of silently reassigning.
    intercept[Exception](spark.sql(
      s"INSERT INTO $cat.db.n VALUES (NULL, 3), (42, 4)"))
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.n")
      .head().getLong(0) === 2L, "the refused insert must not land")
  }
}
