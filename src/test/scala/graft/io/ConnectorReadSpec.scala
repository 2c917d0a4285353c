package graft.io

import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

/** The local filesystem under a scheme of its own, so that only a
  * Hadoop conf it is registered on can resolve a path there. */
class SessionSchemeFs extends GraftRawLocalFileSystem {
  override def getUri: URI = URI.create("graftsess:///")
  override def getScheme: String = "graftsess"
}

/** The DSv2 connector reads the lake as `Snapshot.Lake` does: every
  * front door (batch at the head and as of a version, a projection, the
  * SQL catalog, a restarted stream, the change feed) returns the Lake's
  * rows for tables of every Spark type the lake writes, with deletion
  * vectors and column mapping engaged, on legacy pre-meta logs, and on
  * a filesystem only the session's Hadoop conf knows. */
class ConnectorReadSpec extends SparkSpec with graft.LowStatePartitions {
  import spark.implicits._

  private val Fmt = "graft.io.v2.SnapshotStreamSource"

  /** Rows `[lo, hi)` with timestamp, date, decimal, array, map and
    * nested-struct columns; every fifth row's timestamp and decimal are
    * null. */
  private def typed(lo: Long, hi: Long): DataFrame = {
    val k = col("id")
    val fifth = k % 5 === 0
    spark.range(lo, hi).select(
      k.as("k"),
      when(fifth, lit(null).cast("timestamp"))
        .otherwise(timestamp_seconds(lit(1735689600L) + k * 3601L)).as("ts"),
      date_add(lit(java.sql.Date.valueOf("2025-01-01")), k.cast("int")).as("d"),
      when(fifth, lit(null)).otherwise(k * 1.25).cast("decimal(18,2)").as("amt"),
      array(concat(lit("t"), k.cast("string")), lit("x")).as("tags"),
      map(lit("n"), k.cast("int"), lit("m"), (k % 3).cast("int")).as("attrs"),
      struct((k * 0.5).as("lat"),
        struct(concat(lit("site"), (k % 3).cast("string")).as("name")).as("site"))
        .as("loc"),
      concat(lit("row"), k.cast("string")).as("v"))
  }

  private def byKey(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.getAs[Long]("k"))

  /** Column names and types, nullability aside. */
  private def shape(df: DataFrame): Seq[(String, String)] =
    df.schema.fields.toSeq.map(f => f.name -> f.dataType.simpleString)

  private def assertSame(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(shape(got) === shape(want), s"$what: schema")
    val (g, w) = (byKey(got), byKey(want))
    assert(g.size === w.size, s"$what: row count")
    assert(g === w, s"$what: rows")
  }

  test("every Spark type the lake writes reads through the connector as through the Lake: head, versionAsOf, projection, catalog, stream, change feed") {
    val wh = Files.createTempDirectory("conn-read-wh-").toString
    val lake = Snapshot.Lake(spark, s"$wh/db/t", statsCols = Seq("k"),
      changeDataFeed = true)
    lake.append(typed(0, 50)) // v0

    // An AvailableNow stream at v0, restarted from its checkpoint at v1.
    val ckpt = Files.createTempDirectory("conn-read-ckpt").toString
    val out = Files.createTempDirectory("conn-read-out").toString + "/t"
    def drain(): Unit = {
      val q = spark.readStream.format(Fmt).load(lake.root)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
    }
    drain()
    assertSame(spark.read.parquet(out), lake.readAsOf(0), "stream at v0")
    lake.append(typed(50, 80)) // v1
    drain()
    assertSame(spark.read.parquet(out), lake.readAsOf(1),
      "stream restarted from its checkpoint at v1")

    lake.deleteKeysMor(spark.range(0, 100, 7).toDF("k"), "k")   // v2
    lake.renameColumn("v", "label")                              // v3
    lake.append(typed(80, 100).withColumnRenamed("v", "label"))  // v4
    lake.deleteKeysMor(spark.range(0, 100, 11).toDF("k"), "k")  // v5
    assert(lake.liveState(5).count(_._2.isDefined) >= 2,
      "both MOR deletes attach deletion vectors")

    val head = spark.read.format(Fmt).load(lake.root)
    assertSame(head, lake.read(), "connector batch read at the head")
    assert(head.columns.toSeq.last === "label")
    assert(head.filter(col("k") === 14L || col("k") === 22L).count() === 0)
    assertSame(spark.read.format(Fmt).option("versionAsOf", "2").load(lake.root),
      lake.readAsOf(2), "versionAsOf=2")

    def projected(df: DataFrame) =
      df.select(col("k"), col("amt"), col("loc.site.name").as("site"),
        col("attrs")("n").as("n"), col("label"))
    assertSame(projected(head), projected(lake.read()), "projected read")

    val cat = s"gconn${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.io.v2.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    assertSame(spark.sql(s"SELECT * FROM $cat.db.t"), lake.read(),
      "SELECT * through the catalog")
    assertSame(spark.sql(s"SELECT * FROM $cat.db.t VERSION AS OF 1"),
      lake.readAsOf(1), "catalog VERSION AS OF 1")

    // The change feed over the rename, the append and the second
    // delete's change files.
    val feedCols = Seq("k", "ts", "d", "amt", "tags", "attrs", "loc", "label",
      "_change_type", "_commit_version").map(col)
    def feed(df: DataFrame): Seq[Row] = df.select(feedCols: _*).collect().toSeq
      .sortBy(r => (r.getLong(0), r.getLong(9), r.getString(8)))
    val connFeed = feed(spark.read.format(Fmt).option("readChangeFeed", "true")
      .option("startingVersion", "3").option("endingVersion", "5").load(lake.root))
    assert(connFeed === feed(lake.changesByVersion(2, 5)), "readChangeFeed v3..v5")
    assert(connFeed.count(_.getString(8) == "delete") === 8)
    assert(connFeed.count(_.getString(8) == "insert") === 20)
  }

  test("a legacy pre-meta log reads with the Lake's schema and rows through the connector") {
    val root = Files.createTempDirectory("conn-legacy-").toString
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logPath = new Path(root, "_log")
    fs.mkdirs(logPath)
    /** Write `df` as commit `v`'s one file and publish a log record
      * with no meta line. */
    def commit(v: Int, df: DataFrame): Unit = {
      val dir = s"data/c$v-legacy"
      df.coalesce(1).write.parquet(s"$root/$dir")
      val part = fs.listStatus(new Path(root, dir)).map(_.getPath.getName)
        .filter(_.endsWith(".parquet")).head
      val add = Snapshot.addLine(Snapshot.FileStat(s"$dir/$part", df.count(),
        Map.empty, Map.empty))
      val o = fs.create(new Path(logPath, f"$v%08d.commit"))
      try o.write(Seq(s"v\t$v", add).mkString("\n").getBytes("UTF-8"))
      finally o.close()
    }
    // v1's files add a top-level column and a nested field
    commit(0, typed(0, 20).drop("attrs")
      .withColumn("loc", struct(col("loc.lat").as("lat"))))
    commit(1, typed(20, 30).withColumn("score", col("k") * 2.5))
    val lake = Snapshot.Lake(spark, root)
    assert(lake.commits.forall(_.meta.isEmpty), "the log records no schema")
    val conn = spark.read.format(Fmt).load(root)
    assertSame(conn, lake.read(), "legacy log")
    assert(Seq("attrs", "score").forall(conn.columns.contains),
      "columns only the later commit's files carry")
    assert(conn.filter(col("k") < 20 && col("loc.site").isNull).count() === 20,
      "a nested field older files predate null-fills")
  }

  test("a lake on a filesystem registered only on the session's Hadoop conf reads through the connector and the catalog") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.graftsess.impl", classOf[SessionSchemeFs].getName)
    // uncached, so each resolution goes through the conf it is given
    hc.set("fs.graftsess.impl.disable.cache", "true")
    try {
      val wh = "graftsess://" + Files.createTempDirectory("conn-scheme-wh-").toString
      val lake = Snapshot.Lake(spark, s"$wh/db/t", statsCols = Seq("k"))
      lake.append(typed(0, 30))
      lake.deleteKeysMor(Seq(3L, 4L).toDF("k"), "k")
      assertSame(spark.read.format(Fmt).load(lake.root), lake.read(), "connector")
      val cat = s"gsess${System.nanoTime()}"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.io.v2.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      assertSame(spark.sql(s"SELECT * FROM $cat.db.t"), lake.read(), "catalog")
      val ts0 = lake.commits.head.ts.get
      assertSame(spark.sql(s"SELECT * FROM $cat.db.t TIMESTAMP AS OF timestamp_millis(${ts0}L)"),
        lake.readAsOf(0), "catalog TIMESTAMP AS OF")
    } finally {
      hc.unset("fs.graftsess.impl")
      hc.unset("fs.graftsess.impl.disable.cache")
    }
  }
}
