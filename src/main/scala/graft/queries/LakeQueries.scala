package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, IsNotNull, IsNull,
  LessThanOrEqual}

import graft.Tables

/** Snapshot-lake queries: each reads a small [[graft.io.Snapshot]] lake
  * or SQL-catalog warehouse that is built once per JVM per sf dir from
  * `orders` with deterministic membership, so the oracle replays every
  * version relationally.
  */
object LakeQueries {

  // ---- snapshot-lake fixture (round 14) ---------------------------
  // A 3-commit graft.io.Snapshot lake built from orders, once per JVM
  // per sf dir (the cachedPriorState convention): commit 0 = the base
  // (o_orderkey % 10 < 7), commit 1 = the increment append (% 10 in
  // (7, 8)), commit 2 = a GDPR-forget OVERWRITE dropping
  // o_custkey % 97 = 0 from the union. Deterministic membership ⇒ the
  // lake_time_travel oracle replays every snapshot relationally.
  private val lakeLock = new Object

  private val lakeDirs = scala.collection.mutable.Map.empty[String, String]

  private def ordersLake(s: SparkSession, d: String): graft.io.Snapshot.Lake =
    lakeLock.synchronized {
      val root = lakeDirs.getOrElseUpdate(d, {
        val dir = java.nio.file.Files.createTempDirectory("graft-lake-")
          .toString
        // checkpointInterval = 4 so the 8-commit fixture crosses a
        // checkpoint (v4): every lake_* oracle then gates the
        // checkpoint + suffix read path, not just full replay.
        val lake = graft.io.Snapshot.Lake(s, dir,
          statsCols = Seq("o_orderkey"), bloomCols = Seq("o_custkey"),
          checkpointInterval = 4)
        val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
        lake.append(o.filter(pmod(col("o_orderkey"), lit(10L)) < 7))
        lake.append(o.filter(pmod(col("o_orderkey"), lit(10L)).isin(7L, 8L)))
        lake.overwrite(o.filter(pmod(col("o_orderkey"), lit(10L)) < 9)
          .filter(pmod(col("o_custkey"), lit(97L)) =!= 0))
        // commit 3: copy-on-write MERGE — re-fetched rows (% 10 = 0,
        // price bumped 7 cents) update in place, % 10 = 9 rows insert;
        // commit 4: copy-on-write DELETE by key (% 100 = 50). Both are
        // file-granular rewrites through the zone-map manifest; the
        // lake_merge oracle replays their row algebra relationally
        // (as-of contents are file-layout-independent even though the
        // touched-file set is not).
        lake.upsert(o.filter(pmod(col("o_orderkey"), lit(10L)).isin(0L, 9L))
          .withColumn("cents", col("cents") + 7), "o_orderkey")
        lake.deleteKeys(
          o.filter(pmod(col("o_orderkey"), lit(100L)) === 50)
            .select(col("o_orderkey")), "o_orderkey")
        // commit 5: RESTORE to snapshot 2 — a metadata-only rollback of
        // the merge + delete (lake_restore's subject; history is kept,
        // so lake_merge's as-of-3/4 reads stay green across it).
        lake.restore(2)
        // commit 6: merge-on-read DELETE (% 100 = 51) — deletion
        // vectors on the restored head, no file rewritten
        // (lake_mor_delete's subject).
        lake.deleteKeysMor(
          o.filter(pmod(col("o_orderkey"), lit(100L)) === 51)
            .select(col("o_orderkey")), "o_orderkey")
        // commit 7: merge-on-read MERGE — % 10 = 3 rows update (+11
        // cents) via DV mask, % 10 = 9 rows insert as new files, one
        // atomic commit (lake_mor_merge's subject).
        lake.upsertMor(
          o.filter(pmod(col("o_orderkey"), lit(10L)).isin(3L, 9L))
            .withColumn("cents", col("cents") + 11), "o_orderkey")
        dir
      })
      graft.io.Snapshot.Lake(s, root,
        statsCols = Seq("o_orderkey"), bloomCols = Seq("o_custkey"),
        checkpointInterval = 4)
    }

  // Shallow clone of [[ordersLake]] at its head (round 15): built once
  // per JVM per sf dir — cloneShallow (zero data copied, absolute-path
  // v0 manifest) followed by ONE clone-side MOR delete (% 100 = 52),
  // so the clone's reads exercise shared source files, carried source
  // DVs AND a clone-local DV over absolute paths. The SOURCE is never
  // mutated (the other lake_* fixtures read it).
  private val cloneLakeDirs = scala.collection.mutable.Map.empty[String, String]

  private def clonedOrdersLake(s: SparkSession, d: String)
      : graft.io.Snapshot.Lake = lakeLock.synchronized {
    val src = ordersLake(s, d)
    val root = cloneLakeDirs.getOrElseUpdate(d, {
      val dir = java.nio.file.Files.createTempDirectory("graft-clake-")
        .toString
      val clone = src.cloneShallow(dir)
      clone.deleteKeysMor(
        Tables.orders(s, d)
          .filter(pmod(col("o_orderkey"), lit(100L)) === 52)
          .select(col("o_orderkey")), "o_orderkey")
      dir
    })
    graft.io.Snapshot.Lake(s, root,
      statsCols = Seq("o_orderkey"), bloomCols = Seq("o_custkey"),
      checkpointInterval = 4)
  }

  // Partitioned snapshot lake (round 15): orders keyed the same way
  // but laid out hive-style by order YEAR (the reference's own lake
  // shape — timescale_to_deltalake.py:36-37 partitionBy(year, month,
  // day)). Commit 0 = % 10 < 8, commit 1 = the rest (so both span
  // every year), commit 2 = a MOR delete (% 100 = 13) proving DVs
  // apply inside partition-pruned reads. Deterministic membership ⇒
  // the oracle replays it relationally.
  private val partLakeDirs = scala.collection.mutable.Map.empty[String, String]

  private def partitionedLake(s: SparkSession, d: String)
      : graft.io.Snapshot.Lake = lakeLock.synchronized {
    def open(dir: String) = graft.io.Snapshot.Lake(s, dir,
      statsCols = Seq("o_orderkey"), checkpointInterval = 4,
      partitionCols = Seq("yr"))
    val root = partLakeDirs.getOrElseUpdate(d, {
      val dir = java.nio.file.Files.createTempDirectory("graft-plake-")
        .toString
      val lake = open(dir)
      val o = Tables.orders(s, d).select(col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("yr"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      lake.append(o.filter(pmod(col("o_orderkey"), lit(10L)) < 8))
      lake.append(o.filter(pmod(col("o_orderkey"), lit(10L)) >= 8))
      lake.deleteKeysMor(
        o.filter(pmod(col("o_orderkey"), lit(100L)) === 13)
          .select(col("o_orderkey")), "o_orderkey")
      dir
    })
    open(root)
  }

  // String-zone-map lake (round 15): customers laid in c_name range
  // order (repartitionByRange + in-file sort), so each file's
  // [slo, shi] on c_name is a tight lexicographic box and a name-range
  // read prunes files from the manifest alone. Built once per JVM per
  // sf dir.
  private val strLakeDirs = scala.collection.mutable.Map.empty[String, String]

  private def nameLake(s: SparkSession, d: String)
      : graft.io.Snapshot.Lake = lakeLock.synchronized {
    def open(dir: String) = graft.io.Snapshot.Lake(s, dir,
      statsCols = Seq("c_custkey"), checkpointInterval = 4,
      strStatsCols = Seq("c_name"))
    val root = strLakeDirs.getOrElseUpdate(d, {
      val dir = java.nio.file.Files.createTempDirectory("graft-slake-")
        .toString
      val lake = open(dir)
      val c = Tables.customer(s, d).select(col("c_custkey"), col("c_name"),
        floor(col("c_acctbal") * 100 + lit(0.5)).cast("long").as("cents"))
      lake.append(c.repartitionByRange(8, col("c_name"))
        .sortWithinPartitions("c_name"))
      dir
    })
    open(root)
  }

  // Null-count-stats lake (round 16): orders with a deterministically
  // nullable `note` column (k%3=1 → cents, k%3=0 → NULL, k%3=2 →
  // NULL iff k%6=2), committed in three membership-pure appends so
  // commit 0's files are all-non-null (IS NULL prunes them), commit
  // 1's all-null (IS NOT NULL prunes them) and commit 2's mixed
  // (must-scan for both — the conservative branch). Interval 2 puts a
  // checkpoint at v2, so the nullcnt segments gate the
  // render-checkpoint → parse round trip too.
  private val nullLakeDirs = scala.collection.mutable.Map.empty[String, String]

  private def nullLake(s: SparkSession, d: String)
      : graft.io.Snapshot.Lake = lakeLock.synchronized {
    def open(dir: String) = graft.io.Snapshot.Lake(s, dir,
      statsCols = Seq("o_orderkey"), checkpointInterval = 2,
      nullStatsCols = Seq("note"))
    val root = nullLakeDirs.getOrElseUpdate(d, {
      val dir = java.nio.file.Files.createTempDirectory("graft-nlake-")
        .toString
      val lake = open(dir)
      val o = Tables.orders(s, d).select(col("o_orderkey"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      val m3 = pmod(col("o_orderkey"), lit(3L))
      val m6 = pmod(col("o_orderkey"), lit(6L))
      def withNote(df: org.apache.spark.sql.DataFrame, note: Column) =
        df.select(col("o_orderkey"), col("cents"), note.cast("long").as("note"))
      lake.append(withNote(o.filter(m3 === 1), col("cents")))
      lake.append(withNote(o.filter(m3 === 0), lit(null)))
      lake.append(withNote(o.filter(m3 === 2),
        when(m6 === 2, lit(null)).otherwise(col("cents"))))
      dir
    })
    open(root)
  }

  // Column-mapping lake (round 17): the rename/drop lifecycle over
  // deterministic orders subsets — v0 appends (k, cents, tag) for
  // % 10 < 7 RANGE-LAID on k (4 files, so the zone tier stays
  // strictly pruning after the rename), v1 renames cents →
  // price_cents (metadata-only), v2 appends % 10 ∈ {7, 8} under the
  // new logical name, v3 drops tag, v4 re-adds it (fresh physical
  // name — the dropped values must NOT resurrect), v5 appends
  // % 10 = 9 whose tags are therefore the ONLY live ones.
  // Deterministic membership ⇒ the oracle replays relationally.
  private val renameLakeDirs = scala.collection.mutable.Map.empty[String, String]

  private def renameLake(s: SparkSession, d: String)
      : graft.io.Snapshot.Lake = lakeLock.synchronized {
    def open(dir: String) = graft.io.Snapshot.Lake(s, dir,
      statsCols = Seq("k"), checkpointInterval = 3)
    val root = renameLakeDirs.getOrElseUpdate(d, {
      val dir = java.nio.file.Files.createTempDirectory("graft-rnlake-")
        .toString
      val lake = open(dir)
      val o = Tables.orders(s, d).select(
        col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"),
        concat(lit("t"), pmod(col("o_orderkey"), lit(5L))).as("tag"))
      val m10 = pmod(col("k"), lit(10L))
      lake.append(o.filter(m10 < 7).repartitionByRange(4, col("k")))
      lake.renameColumn("cents", "price_cents")
      lake.append(o.filter(m10.isin(7L, 8L))
        .withColumnRenamed("cents", "price_cents"))
      lake.dropColumn("tag")
      lake.evolveSchema(org.apache.spark.sql.types.StructType(
        lake.tableSchema.get.fields :+
          org.apache.spark.sql.types.StructField("tag",
            org.apache.spark.sql.types.StringType)))
      lake.append(o.filter(m10 === 9)
        .withColumnRenamed("cents", "price_cents"))
      dir
    })
    open(root)
  }

  // Generated-columns lake (round 18): the reference's own C3 layout
  // (year derived from the order date for partitioning —
  // timescale_to_deltalake.py:36's year/month/day shape): `yr` is
  // GENERATED ALWAYS AS year(odate) and is the partition column. v0
  // and v1 append WITHOUT yr (the writer derives it), v2 appends WITH
  // a correctly-provided yr (the post-write validation path);
  // interval 2 puts a checkpoint at v2 so the GenKey metadata gates
  // the meta-line round trip. Deterministic membership ⇒ relational
  // replay; the monotone rewrite (odate range → yr range) is the
  // query's subject.
  private val genLakeDirs = scala.collection.mutable.Map.empty[String, String]

  private def genLake(s: SparkSession, d: String)
      : graft.io.Snapshot.Lake = lakeLock.synchronized {
    def open(dir: String) = graft.io.Snapshot.Lake(s, dir,
      statsCols = Seq("k"), checkpointInterval = 2,
      partitionCols = Seq("yr"),
      generatedCols = Seq("yr" -> "year(odate)"))
    val root = genLakeDirs.getOrElseUpdate(d, {
      val dir = java.nio.file.Files.createTempDirectory("graft-glake-")
        .toString
      val lake = open(dir)
      val o = Tables.orders(s, d).select(
        col("o_orderkey").as("k"),
        col("o_orderdate").as("odate"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      val m10 = pmod(col("k"), lit(10L))
      lake.append(o.filter(m10 < 6))                         // v0 derived
      lake.append(o.filter(m10.isin(6L, 7L, 8L)))            // v1 derived
      lake.append(o.filter(m10 === 9)                        // v2 provided
        .withColumn("yr", year(col("odate"))))
      dir
    })
    open(root)
  }

  // Identity-columns lake (round 18): Delta's GENERATED ALWAYS AS
  // IDENTITY — `oid` (start 1000, step 10) is writer-assigned on two
  // disjoint appends (% 2 split of orders); the manifest zone tier is
  // the high-water mark, so commit 1's ids sit strictly above commit
  // 0's. Values are allocation-order-dependent (Delta promises
  // uniqueness + monotone batches, not contiguity), so the oracle
  // pins the INVARIANTS as TRUE cells plus the replayable row count.
  private val idLakeDirs = scala.collection.mutable.Map.empty[String, String]

  private def identityLake(s: SparkSession, d: String)
      : graft.io.Snapshot.Lake = lakeLock.synchronized {
    def open(dir: String) = graft.io.Snapshot.Lake(s, dir,
      statsCols = Seq("k"), checkpointInterval = 4,
      identityCols = Seq(("oid", 1000L, 10L)))
    val root = idLakeDirs.getOrElseUpdate(d, {
      val dir = java.nio.file.Files.createTempDirectory("graft-idlake-")
        .toString
      val lake = open(dir)
      val o = Tables.orders(s, d).select(col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      lake.append(o.filter(pmod(col("k"), lit(2L)) === 0))  // v0
      lake.append(o.filter(pmod(col("k"), lit(2L)) === 1))  // v1
      dir
    })
    open(root)
  }

  // SQL-catalog warehouse (round 19): the lake driven entirely by SQL
  // TEXT through [[graft.io.v2.GraftCatalog]] — CREATE TABLE, two
  // INSERT INTO ... SELECT commits (disjoint % 3 orders slices), so
  // VERSION AS OF 1 sees exactly the first slice. The catalog name
  // embeds a COLLISION-FREE encoding of the sfDir (hex of its UTF-8
  // bytes — abs(hashCode) collides, and abs(Int.MinValue) is even
  // negative): Spark caches one catalog instance per name, and two
  // scale factors sharing a name would bind the second to the first's
  // warehouse and silently serve its data.
  // Shared scaffolding for the SQL-driven warehouse fixtures: register
  // a GraftCatalog under `<prefix><hex(sfDir)>` bound to a fresh temp
  // warehouse, expose the %-cents orders projection as a temp view
  // (`<prefix>src_<cat>`), and run `init` ONCE per (prefix, sfDir) in
  // this JVM. The name embeds a COLLISION-FREE hex encoding of the
  // sfDir — Spark caches one catalog instance per name, and two scale
  // factors sharing a name would bind the second to the first's
  // warehouse and silently serve its data (abs(hashCode) collides,
  // and abs(Int.MinValue) is even negative).
  private def sqlWarehouseFor(prefix: String,
      dirs: scala.collection.mutable.Map[String, String],
      s: SparkSession, d: String)(init: (String, String) => Unit)
      : String =
    lakeLock.synchronized {
      val cat = prefix + d.getBytes("UTF-8")
        .map(b => f"${b & 0xff}%02x").mkString
      if (!dirs.contains(d)) {
        val wh = java.nio.file.Files
          .createTempDirectory(s"graft-$prefix-wh-").toString
        s.conf.set(s"spark.sql.catalog.$cat",
          classOf[graft.io.v2.GraftCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
        Tables.orders(s, d).select(col("o_orderkey").as("k"),
          floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")
            .as("cents"))
          .createOrReplaceTempView(s"${prefix}src_$cat")
        init(cat, s"${prefix}src_$cat")
        dirs(d) = wh
      }
      cat
    }

  private val sqlCatDirs = scala.collection.mutable.Map.empty[String, String]

  private def sqlCatalog(s: SparkSession, d: String): String =
    sqlWarehouseFor("graft_sql_", sqlCatDirs, s, d) { (cat, src) =>
      s.sql(s"CREATE TABLE $cat.db.orders_t (k BIGINT, cents BIGINT)")
      s.sql(s"INSERT INTO $cat.db.orders_t " +
        s"SELECT k, cents FROM $src WHERE k % 3 = 0") // v1
      s.sql(s"INSERT INTO $cat.db.orders_t " +
        s"SELECT k, cents FROM $src WHERE k % 3 = 1") // v2
    }

  private def sqlCatalogRoot(d: String): String =
    s"${sqlCatDirs(d)}/db/orders_t"

  // SQL row-level DML warehouse (round 20): the full DELETE FROM /
  // UPDATE / MERGE INTO lifecycle driven by SQL TEXT through the
  // catalog + GraftDmlRule (the reference's own lifecycle — retention
  // delete init-db.sql:43-44, nightly upsert timescale_to_deltalake
  // .py:37 — as a SQL consumer expresses it). Disjoint % 10 bands per
  // statement keep every effect independently auditable: band 3
  // deleted, band 4 updated (+7), band 5 merge-deleted, band 6
  // merge-updated (×2), band 7 mirrored to negative keys by the
  // merge's NOT MATCHED INSERT. All three mutations are merge-on-read
  // (DV masks, zero rewrites) — asserted from the commit log.
  private val dmlCatDirs = scala.collection.mutable.Map.empty[String, String]

  private def dmlCatalog(s: SparkSession, d: String): String =
    sqlWarehouseFor("graft_dml_", dmlCatDirs, s, d) { (cat, src) =>
      s.sql(s"CREATE TABLE $cat.db.dml_t (k BIGINT, cents BIGINT)")
      s.sql(s"INSERT INTO $cat.db.dml_t " +
        s"SELECT k, cents FROM $src")                            // v1
      s.sql(s"DELETE FROM $cat.db.dml_t WHERE k % 10 = 3")       // v2
      s.sql(s"UPDATE $cat.db.dml_t SET cents = cents + 7 " +
        "WHERE k % 10 = 4")                                      // v3
      s.sql(s"""MERGE INTO $cat.db.dml_t t
        USING (SELECT k, cents * 2 AS nc FROM $src
               WHERE k % 10 IN (5, 6)
               UNION ALL
               SELECT -k AS k, CAST(11 AS BIGINT) AS nc
               FROM $src WHERE k % 10 = 7) s
        ON t.k = s.k
        WHEN MATCHED AND s.k % 10 = 5 THEN DELETE
        WHEN MATCHED THEN UPDATE SET cents = s.nc
        WHEN NOT MATCHED THEN INSERT (k, cents)
          VALUES (s.k, s.nc)""")                                 // v4
    }

  // Nested-schema lake (round 20): the additive STRUCT WIDENING tier
  // under a relational oracle. v0 appends the even-key slice with
  // `props = struct(a: priority)`; v1 widens props with `b BIGINT` in
  // ONE metadata-only commit (asserted from the commit log — zero
  // add/rm/dv lines); v2 appends the odd-key slice carrying
  // `b = cents`. Old files must null-fill props.b on read, through
  // BOTH front doors (Lake.read() AND the DSv2 connector, each through
  // Spark's parquet clipping — compared row-for-row in the query).
  private val nestedDirs = scala.collection.mutable.Map.empty[String, String]

  private def nestedLake(s: SparkSession, d: String)
      : graft.io.Snapshot.Lake = lakeLock.synchronized {
    val root = nestedDirs.getOrElseUpdate(d, {
      val dir = java.nio.file.Files.createTempDirectory("graft-nested-")
        .toString
      val lake = graft.io.Snapshot.Lake(s, dir, statsCols = Seq("k"),
        checkpointInterval = 4)
      val o = Tables.orders(s, d).select(col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")
          .as("cents"),
        col("o_orderpriority").as("prio"))
      lake.append(o.filter(pmod(col("k"), lit(2L)) === 0)
        .select(col("k"), struct(col("prio").as("a")).as("props"))) // v0
      import org.apache.spark.sql.types.{LongType, StringType,
        StructField, StructType}
      lake.evolveSchema(StructType(Seq(                             // v1
        StructField("k", LongType),
        StructField("props", StructType(Seq(
          StructField("a", StringType),
          StructField("b", LongType)))))))
      lake.append(o.filter(pmod(col("k"), lit(2L)) === 1)
        .select(col("k"), struct(col("prio").as("a"),
          col("cents").as("b")).as("props")))                       // v2
      dir
    })
    graft.io.Snapshot.Lake(s, root, statsCols = Seq("k"),
      checkpointInterval = 4)
  }

  val all: Seq[Query] = Seq(
    // Lake snapshot time travel + incremental read (round 14) — the
    // one Delta semantic (timescale_to_deltalake.py:33-37's format)
    // the LakeFormat seam lacked: graft.io.Snapshot keeps a
    // commit-log manifest over immutable parquet files, giving
    // read-as-of-snapshot-N and the snapshot-to-snapshot FILE DELTA.
    // The query drives a 3-commit lake built from orders (append base
    // → append increment → GDPR-forget overwrite) and reports, per
    // snapshot, the as-of aggregates AND the delta-read aggregates vs
    // the prior snapshot — the oracle replays each snapshot's
    // membership relationally from the same deterministic splits, so
    // a log-replay bug (wrong live set, delta including removed
    // files) hash-fails. Money rides exact integer cents (the
    // established centi convention; o_totalprice is DOUBLE on disk).
    // 100 TB shape: time travel and delta reads are LOG operations —
    // the manifest is file-count-sized, reads scan only the named
    // files, and a delta read scans only the increment's files (the
    // incremental-read primitive corpus_pipeline_incremental's state
    // seams emulate).
    Query("lake_time_travel", { (s, d) =>
      val lake = ordersLake(s, d)
      (0 to 2).map { v =>
        val asOf = lake.readAsOf(v)
          .agg(count(lit(1)).as("n_rows"),
            coalesce(sum(col("cents")), lit(0L)).as("sum_cents"))
        val delta = lake.readDelta(v - 1, v)
          .agg(count(lit(1)).as("delta_rows"),
            coalesce(sum(col("cents")), lit(0L)).as("delta_cents"))
        asOf.crossJoin(broadcast(delta))
          .select(lit(v.toLong).as("version"), col("n_rows"),
            col("sum_cents"), col("delta_rows"), col("delta_cents"))
      }.reduce(_ unionByName _)
    },
      // lake_time_travel: each snapshot's membership replayed from the
      // deterministic commit splits; deltas are the commit increments
      // (v2's delta = the full overwrite contents — an overwrite's
      // added files ARE the new table).
      """WITH o AS (SELECT o_orderkey, o_custkey,
        |             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |           FROM orders),
        |v0 AS (SELECT * FROM o WHERE o_orderkey % 10 < 7),
        |v1 AS (SELECT * FROM o WHERE o_orderkey % 10 < 9),
        |v2 AS (SELECT * FROM v1 WHERE o_custkey % 97 <> 0),
        |d1 AS (SELECT * FROM o WHERE o_orderkey % 10 IN (7, 8))
        |SELECT CAST(0 AS BIGINT) AS version,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(coalesce(sum(cents), 0) AS BIGINT) AS sum_cents,
        |       CAST(count(*) AS BIGINT) AS delta_rows,
        |       CAST(coalesce(sum(cents), 0) AS BIGINT) AS delta_cents
        |FROM v0
        |UNION ALL
        |SELECT 1, (SELECT count(*) FROM v1),
        |       (SELECT CAST(coalesce(sum(cents), 0) AS BIGINT) FROM v1),
        |       (SELECT count(*) FROM d1),
        |       (SELECT CAST(coalesce(sum(cents), 0) AS BIGINT) FROM d1)
        |UNION ALL
        |SELECT 2, (SELECT count(*) FROM v2),
        |       (SELECT CAST(coalesce(sum(cents), 0) AS BIGINT) FROM v2),
        |       (SELECT count(*) FROM v2),
        |       (SELECT CAST(coalesce(sum(cents), 0) AS BIGINT) FROM v2)"""
        .stripMargin),

    // Copy-on-write MERGE + DELETE on the snapshot lake (round 14) —
    // commits 3 (upsert: % 10 = 0 rows update with +7 cents, % 10 = 9
    // rows insert) and 4 (deleteKeys: % 100 = 50) of the same fixture
    // lake, each rewriting ONLY the files whose o_orderkey zone map
    // admits an incoming key. The oracle replays the row algebra of
    // both commits relationally; as-of aggregates are independent of
    // the (layout-dependent) touched-file set, so a merge bug that
    // loses unmatched rows of a rewritten file, resurrects deleted
    // rows, or double-applies an update hash-fails. File-granularity
    // itself (untouched files keep manifest identity) is
    // SnapshotSpec's assertion.
    Query("lake_merge", { (s, d) =>
      val lake = ordersLake(s, d)
      Seq(3, 4).map { v =>
        lake.readAsOf(v)
          .agg(count(lit(1)).as("n_rows"),
            coalesce(sum(col("cents")), lit(0L)).as("sum_cents"))
          .select(lit(v.toLong).as("version"), col("n_rows"),
            col("sum_cents"))
      }.reduce(_ unionByName _)
    },
      // lake_merge: the MERGE (update + insert) and DELETE commits'
      // row algebra replayed relationally.
      """WITH o AS (SELECT o_orderkey, o_custkey,
        |             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |           FROM orders),
        |v1 AS (SELECT * FROM o WHERE o_orderkey % 10 < 9),
        |v2 AS (SELECT * FROM v1 WHERE o_custkey % 97 <> 0),
        |up AS (SELECT o_orderkey, o_custkey, cents + 7 AS cents
        |       FROM o WHERE o_orderkey % 10 IN (0, 9)),
        |v3 AS (SELECT * FROM v2 WHERE o_orderkey % 10 NOT IN (0, 9)
        |       UNION ALL SELECT * FROM up),
        |v4 AS (SELECT * FROM v3 WHERE o_orderkey % 100 <> 50)
        |SELECT CAST(3 AS BIGINT) AS version,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(coalesce(sum(cents), 0) AS BIGINT) AS sum_cents
        |FROM v3
        |UNION ALL
        |SELECT 4, (SELECT count(*) FROM v4),
        |       (SELECT CAST(coalesce(sum(cents), 0) AS BIGINT) FROM v4)"""
        .stripMargin),

    // Row-level CDC feed (round 14) — Delta's change-data-feed semantic
    // on the snapshot log: for every commit 0..4 of the fixture lake,
    // Lake.changes(v-1, v) opens ONLY the files the commit touched and
    // emits the multiset row diff tagged insert/delete (an in-place
    // update = its delete + insert pair; a COW rewrite's carried-over
    // rows cancel). The oracle replays each transition as EXCEPT ALL
    // row algebra over the deterministic snapshot memberships, so a
    // feed that leaks carried rewrite rows, misses a resurrected key,
    // or mis-signs a delete hash-fails on both counts and cent sums.
    // 100 TB shape: the diff scans ~|touched files| per commit — an
    // increment-sized CDC read never rescans the table — and the
    // exceptAll shuffle rides that same bounded row set.
    Query("lake_cdc_feed", { (s, d) =>
      val lake = ordersLake(s, d)
      (0 to 4).map { v =>
        lake.changes(v - 1, v).agg(
          count(when(col("_op") === "insert", 1)).as("n_inserts"),
          count(when(col("_op") === "delete", 1)).as("n_deletes"),
          coalesce(sum(when(col("_op") === "insert", col("cents"))), lit(0L))
            .as("insert_cents"),
          coalesce(sum(when(col("_op") === "delete", col("cents"))), lit(0L))
            .as("delete_cents"))
          .select(lit(v.toLong).as("version"), col("n_inserts"),
            col("n_deletes"), col("insert_cents"), col("delete_cents"))
      }.reduce(_ unionByName _)
    },
      // lake_cdc_feed: every snapshot transition's row-level change set
      // replayed as EXCEPT ALL algebra over the deterministic commit
      // memberships (inserts = sN \ sN-1, deletes = sN-1 \ sN).
      """WITH o AS (SELECT o_orderkey, o_custkey,
        |             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |           FROM orders),
        |s0 AS (SELECT * FROM o WHERE o_orderkey % 10 < 7),
        |s1 AS (SELECT * FROM o WHERE o_orderkey % 10 < 9),
        |s2 AS (SELECT * FROM s1 WHERE o_custkey % 97 <> 0),
        |up AS (SELECT o_orderkey, o_custkey, cents + 7 AS cents
        |       FROM o WHERE o_orderkey % 10 IN (0, 9)),
        |s3 AS (SELECT * FROM s2 WHERE o_orderkey % 10 NOT IN (0, 9)
        |       UNION ALL SELECT * FROM up),
        |s4 AS (SELECT * FROM s3 WHERE o_orderkey % 100 <> 50),
        |i1 AS (SELECT * FROM s1 EXCEPT ALL SELECT * FROM s0),
        |d1 AS (SELECT * FROM s0 EXCEPT ALL SELECT * FROM s1),
        |i2 AS (SELECT * FROM s2 EXCEPT ALL SELECT * FROM s1),
        |d2 AS (SELECT * FROM s1 EXCEPT ALL SELECT * FROM s2),
        |i3 AS (SELECT * FROM s3 EXCEPT ALL SELECT * FROM s2),
        |d3 AS (SELECT * FROM s2 EXCEPT ALL SELECT * FROM s3),
        |i4 AS (SELECT * FROM s4 EXCEPT ALL SELECT * FROM s3),
        |d4 AS (SELECT * FROM s3 EXCEPT ALL SELECT * FROM s4)
        |SELECT CAST(0 AS BIGINT) AS version,
        |       (SELECT CAST(count(*) AS BIGINT) FROM s0) AS n_inserts,
        |       CAST(0 AS BIGINT) AS n_deletes,
        |       (SELECT CAST(coalesce(sum(cents), 0) AS BIGINT) FROM s0)
        |         AS insert_cents,
        |       CAST(0 AS BIGINT) AS delete_cents
        |UNION ALL
        |SELECT 1, (SELECT count(*) FROM i1), (SELECT count(*) FROM d1),
        |       (SELECT CAST(coalesce(sum(cents), 0) AS BIGINT) FROM i1),
        |       (SELECT CAST(coalesce(sum(cents), 0) AS BIGINT) FROM d1)
        |UNION ALL
        |SELECT 2, (SELECT count(*) FROM i2), (SELECT count(*) FROM d2),
        |       (SELECT CAST(coalesce(sum(cents), 0) AS BIGINT) FROM i2),
        |       (SELECT CAST(coalesce(sum(cents), 0) AS BIGINT) FROM d2)
        |UNION ALL
        |SELECT 3, (SELECT count(*) FROM i3), (SELECT count(*) FROM d3),
        |       (SELECT CAST(coalesce(sum(cents), 0) AS BIGINT) FROM i3),
        |       (SELECT CAST(coalesce(sum(cents), 0) AS BIGINT) FROM d3)
        |UNION ALL
        |SELECT 4, (SELECT count(*) FROM i4), (SELECT count(*) FROM d4),
        |       (SELECT CAST(coalesce(sum(cents), 0) AS BIGINT) FROM i4),
        |       (SELECT CAST(coalesce(sum(cents), 0) AS BIGINT) FROM d4)"""
        .stripMargin),

    // RESTORE (round 14) — the Delta rollback semantic on the snapshot
    // log: commit 5 restores the fixture lake to snapshot 2, undoing
    // the MERGE (commit 3) and DELETE (commit 4) without reading or
    // rewriting a byte — snapshot 2's immutable files are re-admitted
    // by manifest entry alone. The query gates three invariants at
    // once: (a) the restored head's contents equal snapshot 2's
    // EXACTLY (n_rows + cent sum), (b) time travel BELOW the restore
    // (as-of 4) still resolves — history is kept, rollback is itself a
    // version — and (c) the CDC feed across the restore emits the
    // INVERSE row algebra of what commits 3+4 did (deleted keys
    // resurrect as inserts, the +7-cent updates reverse). The oracle
    // replays all of it relationally from the deterministic splits.
    // 100 TB shape: restore is an O(manifest) log write — zero data
    // I/O — and the CDC read scans only the files the rollback
    // touched (the COW-rewritten set), never the table.
    Query("lake_restore", { (s, d) =>
      val lake = ordersLake(s, d)
      Seq(4, 5).map { v =>
        val asOf = lake.readAsOf(v)
          .agg(count(lit(1)).as("n_rows"),
            coalesce(sum(col("cents")), lit(0L)).as("sum_cents"))
        val cdc = lake.changes(v - 1, v).agg(
          count(when(col("_op") === "insert", 1)).as("n_inserts"),
          count(when(col("_op") === "delete", 1)).as("n_deletes"),
          coalesce(sum(when(col("_op") === "insert", col("cents"))
            .otherwise(-col("cents"))), lit(0L)).as("net_cents"))
        asOf.crossJoin(broadcast(cdc))
          .select(lit(v.toLong).as("version"), col("n_rows"),
            col("sum_cents"), col("n_inserts"), col("n_deletes"),
            col("net_cents"))
      }.reduce(_ unionByName _)
    },
      // lake_restore: snapshot 5 (the restore) must equal snapshot 2
      // exactly; as-of 4 must still resolve below the rollback; and the
      // CDC feed across the restore must be the INVERSE row algebra of
      // commits 3+4 — all replayed relationally as EXCEPT ALL over the
      // deterministic memberships.
      """WITH o AS (SELECT o_orderkey, o_custkey,
        |             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |           FROM orders),
        |v1 AS (SELECT * FROM o WHERE o_orderkey % 10 < 9),
        |v2 AS (SELECT * FROM v1 WHERE o_custkey % 97 <> 0),
        |up AS (SELECT o_orderkey, o_custkey, cents + 7 AS cents
        |       FROM o WHERE o_orderkey % 10 IN (0, 9)),
        |v3 AS (SELECT * FROM v2 WHERE o_orderkey % 10 NOT IN (0, 9)
        |       UNION ALL SELECT * FROM up),
        |v4 AS (SELECT * FROM v3 WHERE o_orderkey % 100 <> 50),
        |i4 AS (SELECT * FROM v4 EXCEPT ALL SELECT * FROM v3),
        |d4 AS (SELECT * FROM v3 EXCEPT ALL SELECT * FROM v4),
        |i5 AS (SELECT * FROM v2 EXCEPT ALL SELECT * FROM v4),
        |d5 AS (SELECT * FROM v4 EXCEPT ALL SELECT * FROM v2)
        |SELECT CAST(4 AS BIGINT) AS version,
        |       (SELECT CAST(count(*) AS BIGINT) FROM v4) AS n_rows,
        |       (SELECT CAST(coalesce(sum(cents), 0) AS BIGINT) FROM v4)
        |         AS sum_cents,
        |       (SELECT CAST(count(*) AS BIGINT) FROM i4) AS n_inserts,
        |       (SELECT CAST(count(*) AS BIGINT) FROM d4) AS n_deletes,
        |       CAST((SELECT coalesce(sum(cents), 0) FROM i4) -
        |            (SELECT coalesce(sum(cents), 0) FROM d4) AS BIGINT)
        |         AS net_cents
        |UNION ALL
        |SELECT 5,
        |       (SELECT CAST(count(*) AS BIGINT) FROM v2),
        |       (SELECT CAST(coalesce(sum(cents), 0) AS BIGINT) FROM v2),
        |       (SELECT CAST(count(*) AS BIGINT) FROM i5),
        |       (SELECT CAST(count(*) AS BIGINT) FROM d5),
        |       CAST((SELECT coalesce(sum(cents), 0) FROM i5) -
        |            (SELECT coalesce(sum(cents), 0) FROM d5) AS BIGINT)"""
        .stripMargin),

    // Merge-on-read DELETE (round 14) — Delta deletion vectors /
    // Iceberg position deletes on the snapshot log: commit 6 deletes
    // o_orderkey % 100 = 51 from the restored head WITHOUT rewriting a
    // file — one position-delete file is written and the touched data
    // files point at it with `dv` log lines; readers anti-join the
    // (data_path, pos) rows. The query gates the read side (as-of 6 ≡
    // snapshot 2 minus the keys — a DV that under- or over-skips
    // hash-fails on count and cent sum), time travel BELOW the DV
    // (as-of 5 still sees the rows), and the CDC feed across the MOR
    // commit (exactly the deleted rows, as deletes — the (path, dv)
    // diff treats a pointer change like a rewrite and the carried rows
    // cancel). Oracle replays the row algebra relationally. 100 TB
    // shape: the delete costs O(matches + manifest) — no
    // write-amplification — and reads pay one broadcast anti-join on
    // exactly the dv'd files until a rewrite commit purges the DVs.
    Query("lake_mor_delete", { (s, d) =>
      val lake = ordersLake(s, d)
      Seq(5, 6).map { v =>
        val asOf = lake.readAsOf(v)
          .agg(count(lit(1)).as("n_rows"),
            coalesce(sum(col("cents")), lit(0L)).as("sum_cents"))
        val cdc = lake.changes(v - 1, v).agg(
          count(when(col("_op") === "insert", 1)).as("n_inserts"),
          count(when(col("_op") === "delete", 1)).as("n_deletes"),
          coalesce(sum(when(col("_op") === "delete", col("cents"))), lit(0L))
            .as("delete_cents"))
        asOf.crossJoin(broadcast(cdc))
          .select(lit(v.toLong).as("version"), col("n_rows"),
            col("sum_cents"), col("n_inserts"), col("n_deletes"),
            col("delete_cents"))
      }.reduce(_ unionByName _)
    },
      // lake_mor_delete: snapshot 6 = the restored head minus the
      // MOR-deleted keys; the CDC across the DV commit is exactly those
      // rows as deletes — replayed relationally (EXCEPT ALL where the
      // membership algebra needs it).
      """WITH o AS (SELECT o_orderkey, o_custkey,
        |             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |           FROM orders),
        |v1 AS (SELECT * FROM o WHERE o_orderkey % 10 < 9),
        |v2 AS (SELECT * FROM v1 WHERE o_custkey % 97 <> 0),
        |up AS (SELECT o_orderkey, o_custkey, cents + 7 AS cents
        |       FROM o WHERE o_orderkey % 10 IN (0, 9)),
        |v3 AS (SELECT * FROM v2 WHERE o_orderkey % 10 NOT IN (0, 9)
        |       UNION ALL SELECT * FROM up),
        |v4 AS (SELECT * FROM v3 WHERE o_orderkey % 100 <> 50),
        |v6 AS (SELECT * FROM v2 WHERE o_orderkey % 100 <> 51),
        |i5 AS (SELECT * FROM v2 EXCEPT ALL SELECT * FROM v4),
        |d5 AS (SELECT * FROM v4 EXCEPT ALL SELECT * FROM v2),
        |d6 AS (SELECT * FROM v2 WHERE o_orderkey % 100 = 51)
        |SELECT CAST(5 AS BIGINT) AS version,
        |       (SELECT CAST(count(*) AS BIGINT) FROM v2) AS n_rows,
        |       (SELECT CAST(coalesce(sum(cents), 0) AS BIGINT) FROM v2)
        |         AS sum_cents,
        |       (SELECT CAST(count(*) AS BIGINT) FROM i5) AS n_inserts,
        |       (SELECT CAST(count(*) AS BIGINT) FROM d5) AS n_deletes,
        |       (SELECT CAST(coalesce(sum(cents), 0) AS BIGINT) FROM d5)
        |         AS delete_cents
        |UNION ALL
        |SELECT 6,
        |       (SELECT CAST(count(*) AS BIGINT) FROM v6),
        |       (SELECT CAST(coalesce(sum(cents), 0) AS BIGINT) FROM v6),
        |       CAST(0 AS BIGINT),
        |       (SELECT CAST(count(*) AS BIGINT) FROM d6),
        |       (SELECT CAST(coalesce(sum(cents), 0) AS BIGINT) FROM d6)"""
        .stripMargin),

    // Merge-on-read MERGE (round 14) — deleteKeysMor's upsert
    // counterpart: commit 7 updates % 10 = 3 rows (+11 cents) by
    // masking their old versions with deletion vectors and appends the
    // updated rows (plus the % 10 = 9 inserts, absent from the
    // restored head) as new data files — ONE atomic commit, zero
    // rewrite. Gated: as-of 7 row algebra (a mask that misses a file
    // or double-applies hash-fails), and the CDC feed across the merge
    // (each update = its delete + insert pair; fresh keys insert-only).
    // 100 TB shape: an increment-sized merge costs O(increment +
    // matches + manifest); reads pay the broadcast DV probe on exactly
    // the masked files until a rewrite commit purges them.
    Query("lake_mor_merge", { (s, d) =>
      val lake = ordersLake(s, d)
      val asOf = lake.readAsOf(7)
        .agg(count(lit(1)).as("n_rows"),
          coalesce(sum(col("cents")), lit(0L)).as("sum_cents"))
      val cdc = lake.changes(6, 7).agg(
        count(when(col("_op") === "insert", 1)).as("n_inserts"),
        count(when(col("_op") === "delete", 1)).as("n_deletes"),
        coalesce(sum(when(col("_op") === "insert", col("cents"))), lit(0L))
          .as("insert_cents"),
        coalesce(sum(when(col("_op") === "delete", col("cents"))), lit(0L))
          .as("delete_cents"))
      asOf.crossJoin(broadcast(cdc))
        .select(lit(7L).as("version"), col("n_rows"), col("sum_cents"),
          col("n_inserts"), col("n_deletes"), col("insert_cents"),
          col("delete_cents"))
    },
      // lake_mor_merge: snapshot 7 = snapshot 6 with % 10 = 3 rows
      // updated (+11 cents) and % 10 = 9 rows inserted; the cross-merge
      // CDC is the update pairs plus the fresh inserts.
      """WITH o AS (SELECT o_orderkey, o_custkey,
        |             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |           FROM orders),
        |v1 AS (SELECT * FROM o WHERE o_orderkey % 10 < 9),
        |v2 AS (SELECT * FROM v1 WHERE o_custkey % 97 <> 0),
        |v6 AS (SELECT * FROM v2 WHERE o_orderkey % 100 <> 51),
        |up AS (SELECT o_orderkey, o_custkey, cents + 11 AS cents
        |       FROM o WHERE o_orderkey % 10 IN (3, 9)),
        |v7 AS (SELECT * FROM v6 WHERE o_orderkey % 10 NOT IN (3, 9)
        |       UNION ALL SELECT * FROM up),
        |d7 AS (SELECT * FROM v6 WHERE o_orderkey % 10 IN (3, 9))
        |SELECT CAST(7 AS BIGINT) AS version,
        |       (SELECT CAST(count(*) AS BIGINT) FROM v7) AS n_rows,
        |       (SELECT CAST(coalesce(sum(cents), 0) AS BIGINT) FROM v7)
        |         AS sum_cents,
        |       (SELECT CAST(count(*) AS BIGINT) FROM up) AS n_inserts,
        |       (SELECT CAST(count(*) AS BIGINT) FROM d7) AS n_deletes,
        |       (SELECT CAST(coalesce(sum(cents), 0) AS BIGINT) FROM up)
        |         AS insert_cents,
        |       (SELECT CAST(coalesce(sum(cents), 0) AS BIGINT) FROM d7)
        |         AS delete_cents""".stripMargin),

    // String zone maps (round 15) — Delta records min/max for STRING
    // columns too; this puts that manifest tier on the correctness
    // gate: the fixture lake lays customers in c_name range order
    // (each file a tight lexicographic box), and the query reads a
    // name range through Lake.readWhere — files are pruned by the
    // log's base64 szone segments before any footer or data I/O, the
    // row predicate re-applied after. The `pruned` cell pins that the
    // manifest DID drop files (range order makes a narrow name range a
    // strict file subset at any SF); the row cells replay relationally
    // (a lost file = lost rows = hash fail). 100 TB shape: prune is a
    // manifest filter; the scan opens ~selectivity × nFiles.
    Query("lake_str_prune", { (s, d) =>
      val lake = nameLake(s, d)
      val v = lake.latestVersion
      val lo = "Customer#000000010"
      val hi = "Customer#000000099"
      val nAll = lake.liveFiles(v).size
      val range = Seq(GreaterThanOrEqual("c_name", lo),
        LessThanOrEqual("c_name", hi))
      val nKept = lake.pruneFiles(v, range).size
      lake.readWhere(v, range)
        .agg(count(lit(1)).as("n_rows"),
          coalesce(sum(col("cents")), lit(0L)).as("sum_cents"))
        .withColumn("pruned", lit(nKept < nAll))
    },
      // lake_str_prune: membership = the name range relationally; the
      // pruned cell is true by construction (range-ordered layout).
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(coalesce(sum(CAST(floor(c_acctbal * 100 + 0.5)
        |         AS BIGINT)), 0) AS BIGINT) AS sum_cents,
        |       true AS pruned
        |FROM customer
        |WHERE c_name BETWEEN 'Customer#000000010'
        |  AND 'Customer#000000099'""".stripMargin),

    // Shallow clone (round 15) — the Delta CLONE semantic on the
    // correctness gate: the fixture clones the 8-commit lake's head
    // (v7) with ZERO data copied (absolute-path v0 manifest) and MOR-
    // deletes % 100 = 52 on the CLONE only. The query reads both
    // sides: the source's as-of-7 aggregate must be byte-identical to
    // the pre-clone membership (the clone's delete must never leak
    // back), and the clone's read must be v7 minus the deleted keys —
    // exercising shared source files, CARRIED source DVs and a
    // clone-local DV that masks absolute-path files (the rel→manifest
    // dv mapping). A clone that copied, leaked, or mis-attached a DV
    // hash-fails the relational replay. 100 TB shape: the clone costs
    // O(manifest) at any table size; both reads are scan + broadcast
    // DV probes, exactly the source's own cost.
    Query("lake_clone", { (s, d) =>
      val src = ordersLake(s, d)
      val clone = clonedOrdersLake(s, d)
      val a = src.readAsOf(7)
        .agg(count(lit(1)).as("n_src"),
          coalesce(sum(col("cents")), lit(0L)).as("src_cents"))
      val b = clone.read()
        .agg(count(lit(1)).as("n_clone"),
          coalesce(sum(col("cents")), lit(0L)).as("clone_cents"))
      a.crossJoin(broadcast(b))
    },
      // lake_clone: the source side replays v7's membership untouched
      // (the clone's delete must never leak back); the clone side is v7
      // minus the % 100 = 52 keys.
      """WITH o AS (SELECT o_orderkey, o_custkey,
        |             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |           FROM orders),
        |v1 AS (SELECT * FROM o WHERE o_orderkey % 10 < 9),
        |v2 AS (SELECT * FROM v1 WHERE o_custkey % 97 <> 0),
        |v6 AS (SELECT * FROM v2 WHERE o_orderkey % 100 <> 51),
        |up AS (SELECT o_orderkey, o_custkey, cents + 11 AS cents
        |       FROM o WHERE o_orderkey % 10 IN (3, 9)),
        |v7 AS (SELECT * FROM v6 WHERE o_orderkey % 10 NOT IN (3, 9)
        |       UNION ALL SELECT * FROM up),
        |c AS (SELECT * FROM v7 WHERE o_orderkey % 100 <> 52)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM v7) AS n_src,
        |       (SELECT CAST(coalesce(sum(cents), 0) AS BIGINT) FROM v7)
        |         AS src_cents,
        |       (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_clone,
        |       (SELECT CAST(coalesce(sum(cents), 0) AS BIGINT) FROM c)
        |         AS clone_cents""".stripMargin),

    // Full-history CDF (round 15) — changesByVersion across EVERY
    // commit shape the fixture lake holds (append, append, overwrite,
    // COW merge, COW delete, RESTORE, MOR delete, MOR merge): one
    // bounded (path, dv)-diff per version, each change row tagged with
    // its commit version, summarized per (version, change type). The
    // oracle replays the ENTIRE history's row algebra as cascaded
    // EXCEPT ALLs over the deterministic memberships — any version's
    // diff keying on the wrong files, resurrecting MOR-deleted rows,
    // or mis-attributing a commit hash-fails. 100 TB shape: each
    // version's diff opens only its membership-changed files (the
    // changes() contract); the window is the table's own history
    // length, the increment-consumer's shape.
    Query("lake_cdf_history", { (s, d) =>
      val lake = ordersLake(s, d)
      lake.changesByVersion(-1, 7)
        .groupBy(col("_commit_version"), col("_change_type"))
        .agg(count(lit(1)).as("n_rows"),
          coalesce(sum(col("cents")), lit(0L)).as("sum_cents"))
    },
      // lake_cdf_history: every version's change set as cascaded
      // EXCEPT ALLs over the deterministic memberships; empty sides
      // (the overwrite's insert half — s2 ⊂ s1) produce no group, as
      // the engine's diff does.
      """WITH o AS (SELECT o_orderkey, o_custkey,
        |             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |           FROM orders),
        |s0 AS (SELECT * FROM o WHERE o_orderkey % 10 < 7),
        |s1 AS (SELECT * FROM o WHERE o_orderkey % 10 < 9),
        |s2 AS (SELECT * FROM s1 WHERE o_custkey % 97 <> 0),
        |up1 AS (SELECT o_orderkey, o_custkey, cents + 7 AS cents
        |        FROM o WHERE o_orderkey % 10 IN (0, 9)),
        |s3 AS (SELECT * FROM s2 WHERE o_orderkey % 10 NOT IN (0, 9)
        |       UNION ALL SELECT * FROM up1),
        |s4 AS (SELECT * FROM s3 WHERE o_orderkey % 100 <> 50),
        |s6 AS (SELECT * FROM s2 WHERE o_orderkey % 100 <> 51),
        |up2 AS (SELECT o_orderkey, o_custkey, cents + 11 AS cents
        |        FROM o WHERE o_orderkey % 10 IN (3, 9)),
        |s7 AS (SELECT * FROM s6 WHERE o_orderkey % 10 NOT IN (3, 9)
        |       UNION ALL SELECT * FROM up2),
        |ch AS (
        |  SELECT 0 AS v, 'insert' AS t, * FROM s0
        |  UNION ALL SELECT 1, 'insert', * FROM
        |    (SELECT * FROM s1 EXCEPT ALL SELECT * FROM s0)
        |  UNION ALL SELECT 2, 'delete', * FROM
        |    (SELECT * FROM s1 EXCEPT ALL SELECT * FROM s2)
        |  UNION ALL SELECT 3, 'insert', * FROM
        |    (SELECT * FROM s3 EXCEPT ALL SELECT * FROM s2)
        |  UNION ALL SELECT 3, 'delete', * FROM
        |    (SELECT * FROM s2 EXCEPT ALL SELECT * FROM s3)
        |  UNION ALL SELECT 4, 'delete', * FROM
        |    (SELECT * FROM s3 EXCEPT ALL SELECT * FROM s4)
        |  UNION ALL SELECT 5, 'insert', * FROM
        |    (SELECT * FROM s2 EXCEPT ALL SELECT * FROM s4)
        |  UNION ALL SELECT 5, 'delete', * FROM
        |    (SELECT * FROM s4 EXCEPT ALL SELECT * FROM s2)
        |  UNION ALL SELECT 6, 'delete', * FROM
        |    (SELECT * FROM s2 EXCEPT ALL SELECT * FROM s6)
        |  UNION ALL SELECT 7, 'insert', * FROM
        |    (SELECT * FROM s7 EXCEPT ALL SELECT * FROM s6)
        |  UNION ALL SELECT 7, 'delete', * FROM
        |    (SELECT * FROM s6 EXCEPT ALL SELECT * FROM s7))
        |SELECT CAST(v AS BIGINT) AS _commit_version, t AS _change_type,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(coalesce(sum(cents), 0) AS BIGINT) AS sum_cents
        |FROM ch GROUP BY 1, 2""".stripMargin),

    // Bloom-manifest point lookup (round 14) — the Delta bloom-filter-
    // index semantic: the fixture lake carries a 1024-bit per-file
    // Bloom on o_custkey (hash-SCATTERED across files — every file's
    // zone map on it would span the domain, so range pruning gets
    // nothing; the Bloom is the only manifest-level skip a point
    // lookup has). Four probes through Lake.readWhere — three present
    // keys and one absent — each an as-of-7 aggregate, so the oracle
    // (relational WHERE o_custkey = k over the replayed v7 membership)
    // hash-fails on any false NEGATIVE (a lost file = lost rows) while
    // the spec holds the pruning-effectiveness half (SnapshotSpec's
    // 16-append experiment). 100 TB shape: each probe opens ~fpp ×
    // nFiles files; the filters ride the manifest (172 base64 chars
    // per file), never a data scan.
    Query("lake_bloom_point", { (s, d) =>
      val lake = ordersLake(s, d)
      Seq(1L, 7L, 42L, 999999999L).map { k =>
        lake.readWhere(7, Seq(EqualTo("o_custkey", k)))
          .agg(count(lit(1)).as("n_rows"),
            coalesce(sum(col("cents")), lit(0L)).as("sum_cents"))
          .select(lit(k).as("probe_custkey"), col("n_rows"),
            col("sum_cents"))
      }.reduce(_ unionByName _)
    },
      // lake_bloom_point: each probe replays v7's membership relationally
      // restricted to the probed custkey — a Bloom false negative (a
      // skipped file that held the key) loses rows and hash-fails.
      """WITH o AS (SELECT o_orderkey, o_custkey,
        |             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |           FROM orders),
        |v1 AS (SELECT * FROM o WHERE o_orderkey % 10 < 9),
        |v2 AS (SELECT * FROM v1 WHERE o_custkey % 97 <> 0),
        |v6 AS (SELECT * FROM v2 WHERE o_orderkey % 100 <> 51),
        |up AS (SELECT o_orderkey, o_custkey, cents + 11 AS cents
        |       FROM o WHERE o_orderkey % 10 IN (3, 9)),
        |v7 AS (SELECT * FROM v6 WHERE o_orderkey % 10 NOT IN (3, 9)
        |       UNION ALL SELECT * FROM up),
        |probes AS (SELECT unnest([1, 7, 42, 999999999]) AS probe_custkey)
        |SELECT CAST(p.probe_custkey AS BIGINT) AS probe_custkey,
        |       CAST(count(v.o_custkey) AS BIGINT) AS n_rows,
        |       CAST(coalesce(sum(v.cents), 0) AS BIGINT) AS sum_cents
        |FROM probes p LEFT JOIN v7 v ON v.o_custkey = p.probe_custkey
        |GROUP BY 1""".stripMargin),

    // CDC-driven incremental view (round 14) — the reason a CDC feed
    // exists: maintain an aggregate view by FOLDING the per-commit
    // change stream (insert rows add, delete rows subtract — an
    // update's pair nets its own delta) instead of recomputing from
    // the table. The query folds ALL five commits' feeds into a
    // per-customer-bucket (count, cent-sum) view and the oracle
    // computes the DIRECT aggregate of the final snapshot membership —
    // so any CDC error that survives cancellation (lost delete,
    // double-applied update, leaked carried row) breaks the fold ≡
    // direct equality and hash-fails. 100 TB shape: each commit's
    // delta aggregation rides that commit's touched files; the view
    // update shuffles delta-sized frames, never the table (the
    // mv_refresh argument, driven from the lake log instead of a
    // checkpoint seam).
    Query("lake_cdc_mv", { (s, d) =>
      val lake = ordersLake(s, d)
      (0 to 4).map { v =>
        lake.changes(v - 1, v)
          .groupBy(pmod(col("o_custkey"), lit(100L)).as("bucket"))
          .agg(
            sum(when(col("_op") === "insert", 1L).otherwise(-1L)).as("dn"),
            sum(when(col("_op") === "insert", col("cents"))
              .otherwise(-col("cents"))).as("dc"))
      }.reduce(_ unionByName _)
        .groupBy(col("bucket"))
        .agg(sum(col("dn")).as("n_rows"), sum(col("dc")).as("sum_cents"))
        .filter(col("n_rows") > 0)
    },
      // lake_cdc_mv: the folded CDC view must equal the DIRECT aggregate
      // of the final snapshot's membership — the fold itself happens on
      // the Spark side; the oracle states the invariant.
      """WITH o AS (SELECT o_orderkey, o_custkey,
        |             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |           FROM orders),
        |s1 AS (SELECT * FROM o WHERE o_orderkey % 10 < 9),
        |s2 AS (SELECT * FROM s1 WHERE o_custkey % 97 <> 0),
        |up AS (SELECT o_orderkey, o_custkey, cents + 7 AS cents
        |       FROM o WHERE o_orderkey % 10 IN (0, 9)),
        |s3 AS (SELECT * FROM s2 WHERE o_orderkey % 10 NOT IN (0, 9)
        |       UNION ALL SELECT * FROM up),
        |s4 AS (SELECT * FROM s3 WHERE o_orderkey % 100 <> 50)
        |SELECT o_custkey % 100 AS bucket,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM s4 GROUP BY 1""".stripMargin),

    // Partition-pruned reads (round 15) — Delta's FIRST pruning tier
    // on the partitioned fixture lake: a one-partition read consults
    // the manifest's recorded partition values (part: segments) and
    // opens ONLY that year's files — decided from the log, zero footer
    // reads — with the MOR deletion vectors applied inside the pruned
    // read. The query also asserts the prune was STRICT (a non-empty
    // proper subset, every survivor carrying the probed value) as a
    // layout-independent boolean; the oracle replays membership
    // relationally (commits 0+1 = all orders, minus the % 100 = 13 MOR
    // delete). 100 TB shape: a year/month/day-partitioned table serves
    // a one-partition query by opening that partition's files only —
    // the scan set scales with the partition, never the table.
    Query("lake_partition_prune", { (s, d) =>
      val lake = partitionedLake(s, d)
      val lv = lake.latestVersion
      val all = lake.liveFiles(lv).size
      Seq(1996L, 1999L).map { y =>
        val kept = lake.pruneFiles(lv, Seq(EqualTo("yr", y)))
        val strict = kept.nonEmpty && kept.size < all &&
          kept.forall(_.parts.get("yr").contains(y.toString))
        lake.readWhere(lv, Seq(EqualTo("yr", y)))
          .agg(count(lit(1)).as("n_rows"),
            coalesce(sum(col("cents")), lit(0L)).as("sum_cents"))
          .select(lit(y).as("yr"), col("n_rows"), col("sum_cents"),
            lit(strict).as("pruned"))
      }.reduce(_ unionByName _)
    },
      // lake_partition_prune: membership = all orders (commits 0+1)
      // minus the MOR-deleted % 100 = 13 keys, restricted to the probed
      // years; the strict-prune boolean is true by construction (every
      // SF spans several order years, so one year's partition is always
      // a proper subset of the live files).
      """WITH o AS (SELECT o_orderkey,
        |             CAST(date_part('year', o_orderdate) AS BIGINT) AS yr,
        |             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |           FROM orders)
        |SELECT yr, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(coalesce(sum(cents), 0) AS BIGINT) AS sum_cents,
        |       true AS pruned
        |FROM o
        |WHERE o_orderkey % 100 <> 13 AND yr IN (1996, 1999)
        |GROUP BY yr""".stripMargin),

    // Null-count pruning (round 16) — Delta's per-file nullCount stat
    // on the correctness gate: the fixture lake records nullcnt
    // segments for `note` (one all-non-null commit, one all-null, one
    // mixed), and both IS NULL and IS NOT NULL reads go through
    // Lake.readWhere — files are skipped from the log alone (an
    // all-populated file cannot satisfy IS NULL; an all-null file
    // cannot satisfy IS NOT NULL; the mixed file must-scans for
    // both). The `pruned_*` cells pin that each side DID drop files
    // strictly; the row cells replay relationally (a wrongly-pruned
    // file = lost rows = hash fail — exactly the bug class zone/Bloom
    // tiers can't catch, since NULL neither intersects a range nor
    // probes a filter). 100 TB shape: an IS NULL audit of a
    // mostly-populated column opens only the files that ever saw a
    // null, decided entirely from the manifest.
    Query("lake_null_prune", { (s, d) =>
      val lake = nullLake(s, d)
      val v = lake.latestVersion
      val all = lake.liveFiles(v).size
      val keptNull = lake.pruneFiles(v, Seq(IsNull("note")))
      val keptNot = lake.pruneFiles(v, Seq(IsNotNull("note")))
      val strictNull = keptNull.nonEmpty && keptNull.size < all
      val strictNot = keptNot.nonEmpty && keptNot.size < all
      val a = lake.readWhere(v, Seq(IsNull("note")))
        .agg(count(lit(1)).as("n_null_rows"),
          coalesce(sum(col("cents")), lit(0L)).as("null_cents"))
      val b = lake.readWhere(v, Seq(IsNotNull("note")))
        .agg(count(lit(1)).as("n_notnull_rows"),
          coalesce(sum(col("note")), lit(0L)).as("notnull_note_sum"))
      a.crossJoin(broadcast(b))
        .withColumn("pruned_null", lit(strictNull))
        .withColumn("pruned_notnull", lit(strictNot))
    },
      // lake_null_prune: membership = all orders; note's nullability
      // replays relationally from the deterministic k%3/k%6 rule. The
      // strict-prune booleans are true by construction (commit 0 is
      // all-non-null, commit 1 all-null — each side always drops at
      // least the other's files while keeping the mixed commit 2).
      """WITH o AS (SELECT o_orderkey AS k,
        |             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
        |               AS cents
        |           FROM orders),
        |n AS (SELECT k, cents,
        |        CASE WHEN k % 3 = 1 THEN cents
        |             WHEN k % 3 = 0 THEN NULL
        |             WHEN k % 6 = 2 THEN NULL
        |             ELSE cents END AS note
        |      FROM o)
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM n WHERE note IS NULL)
        |    AS n_null_rows,
        |  (SELECT CAST(coalesce(sum(cents), 0) AS BIGINT) FROM n
        |   WHERE note IS NULL) AS null_cents,
        |  (SELECT CAST(count(*) AS BIGINT) FROM n WHERE note IS NOT NULL)
        |    AS n_notnull_rows,
        |  (SELECT CAST(coalesce(sum(note), 0) AS BIGINT) FROM n
        |   WHERE note IS NOT NULL) AS notnull_note_sum,
        |  true AS pruned_null,
        |  true AS pruned_notnull""".stripMargin),

    // Lake COLUMN MAPPING (round 17) — Delta's name-mapping semantic:
    // rename and drop are METADATA-ONLY commits (the physical column
    // name in data files and manifest segments never changes), so
    // they cost O(1) log I/O at any table size. The cells prove the
    // full lifecycle on [[renameLake]]: the head read serves every
    // pre-rename row under the NEW logical name; time travel to v0
    // reads under the OLD name; the zone-map tier still prunes (its
    // keys are physical, rename-stable — the `pruned_after_rename`
    // boolean is asserted literal TRUE by the oracle); and the
    // drop + re-add leg proves non-resurrection: only the post-re-add
    // append's tags are live (fresh physical name ⇒ old files
    // null-fill), so n_tag_live / tag_k_sum replay as the % 10 = 9
    // subset exactly. 100 TB shape: every cell is manifest work plus
    // the reads the other lake_* oracles already pay; the mapping
    // itself adds one projection node per scan.
    Query("lake_rename", { (s, d) =>
      val lake = renameLake(s, d)
      val v = lake.latestVersion
      val all = lake.liveFiles(v).size
      val kept = lake.pruneFiles(v, Seq(EqualTo("k", 1L))).size
      val strict = kept > 0 && kept < all
      val a = lake.read().agg(
        count(lit(1)).as("n_rows"),
        sum(col("price_cents")).as("sum_price_cents"),
        sum(when(col("tag").isNotNull, 1L).otherwise(0L)).as("n_tag_live"),
        coalesce(sum(when(col("tag").isNotNull, col("k"))), lit(0L))
          .as("tag_k_sum"))
      val b = lake.readAsOf(0).agg(
        count(lit(1)).as("n_v0_rows"),
        sum(col("cents")).as("v0_cents"))
      a.crossJoin(broadcast(b))
        .withColumn("pruned_after_rename", lit(strict))
    },
      // lake_rename: every cell replays relationally from the
      // deterministic % 10 membership — head rows/cents = ALL orders
      // (the rename is invisible to values), v0 = the % 10 < 7 subset
      // under the old name, live tags = exactly the post-re-add
      // % 10 = 9 append (resurrected old tags would inflate n_tag_live
      // and hash-fail), and the strict-prune boolean is TRUE by
      // construction (v0 is 4 range-laid files; the k=1 probe keeps 1).
      """WITH o AS (SELECT o_orderkey AS k,
        |             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
        |               AS cents
        |           FROM orders)
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM o) AS n_rows,
        |  (SELECT CAST(sum(cents) AS BIGINT) FROM o) AS sum_price_cents,
        |  (SELECT CAST(count(*) AS BIGINT) FROM o WHERE k % 10 = 9)
        |    AS n_tag_live,
        |  (SELECT CAST(coalesce(sum(k), 0) AS BIGINT) FROM o
        |   WHERE k % 10 = 9) AS tag_k_sum,
        |  (SELECT CAST(count(*) AS BIGINT) FROM o WHERE k % 10 < 7)
        |    AS n_v0_rows,
        |  (SELECT CAST(sum(cents) AS BIGINT) FROM o WHERE k % 10 < 7)
        |    AS v0_cents,
        |  true AS pruned_after_rename""".stripMargin),

    // GENERATED COLUMNS (round 18) — Delta's GENERATED ALWAYS AS on
    // the correctness gate, over the reference's own C3 use case
    // (year derived from the order date for partitioning): the
    // fixture's yr column is derived by the WRITER (v0/v1 frames
    // never carry it; v2 provides it and is value-validated), and the
    // query exercises the feature's point — the PREDICATE REWRITE: an
    // odate range maps through the recognized monotone shape
    // (year(odate)) to a yr range, pruning the generated partition
    // tier from the manifest alone. Cells: the windowed aggregate
    // replays relationally (a wrongly-pruned partition = lost rows =
    // hash fail); `pruned_generated` asserts the prune was STRICT
    // with every survivor's yr inside the window; `n_year_parts`
    // replays the manifest's recorded partition values against
    // COUNT(DISTINCT year); `n_mismatch` pins every STORED derived
    // value to the expression (oracle literal 0). 100 TB shape: the
    // rewrite costs two 1-row expression evaluations + a manifest
    // filter; the windowed read opens only the window's partitions.
    Query("lake_generated", { (s, d) =>
      val lake = genLake(s, d)
      val v = lake.latestVersion
      val all = lake.liveFiles(v)
      val lo = java.sql.Date.valueOf("1994-06-01")
      val hi = java.sql.Date.valueOf("1996-03-15")
      val window = Seq(GreaterThanOrEqual("odate", lo),
        LessThanOrEqual("odate", hi))
      val kept = lake.pruneFiles(v, window)
      val strict = kept.nonEmpty && kept.size < all.size &&
        kept.forall(_.parts.get("yr").forall(y =>
          y.toLong >= 1994L && y.toLong <= 1996L))
      val nParts = all.flatMap(_.parts.get("yr")).distinct.size.toLong
      val mismatches = lake.read()
        .filter(col("yr") =!= year(col("odate"))).count()
      lake.readWhere(v, window)
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
        .withColumn("pruned_generated", lit(strict))
        .withColumn("n_year_parts", lit(nParts))
        .withColumn("n_mismatch", lit(mismatches))
    },
      // lake_generated: membership = all orders (three disjoint % 10
      // appends); the windowed aggregate replays the odate BETWEEN
      // directly; n_year_parts replays the manifest's recorded
      // partition values (year(o_orderdate) distinct count); the prune
      // and derived-value cells are construction-asserted literals (a
      // wrong derivation or a wrongly-pruned partition breaks the row
      // cells too — lost rows hash-fail).
      """WITH o AS (SELECT o_orderkey AS k, o_orderdate AS odate,
        |             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
        |               AS cents
        |           FROM orders)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents,
        |       true AS pruned_generated,
        |       (SELECT CAST(count(DISTINCT year(odate)) AS BIGINT)
        |        FROM o) AS n_year_parts,
        |       CAST(0 AS BIGINT) AS n_mismatch
        |FROM o
        |WHERE odate BETWEEN DATE '1994-06-01' AND DATE '1996-03-15'
        |""".stripMargin),

    // IDENTITY COLUMNS (round 18) — Delta's GENERATED ALWAYS AS
    // IDENTITY on the correctness gate: `oid` is writer-assigned over
    // two appends with the manifest zone tier as the high-water mark.
    // Assigned values are allocation-order-dependent (uniqueness +
    // monotone batches are the contract, not contiguity — Delta's
    // own), so the cells pin the INVARIANTS: row count (replayable),
    // uniqueness, step alignment, the start floor, and cross-commit
    // monotonicity read from the MANIFEST (v1 files' lo strictly
    // above v0 files' hi — the high-water mechanism itself). 100 TB
    // shape: assignment is map-side arithmetic over
    // monotonically_increasing_id; the high water is one fold the
    // commit already pays.
    Query("lake_identity", { (s, d) =>
      val lake = identityLake(s, d)
      val cs = lake.commits
      val v0Hi = cs.find(_.version == 0).get.added
        .flatMap(_.hi.get("oid"))
      val v1Lo = cs.find(_.version == 1).get.added
        .flatMap(_.lo.get("oid"))
      val mono = v0Hi.nonEmpty && v1Lo.nonEmpty && v1Lo.min > v0Hi.max
      lake.read().agg(
        count(lit(1)).as("n_rows"),
        (countDistinct(col("oid")) === count(lit(1))).as("all_unique"),
        (sum(when(pmod(col("oid") - 1000L, lit(10L)) =!= 0L, 1L)
          .otherwise(0L)) === 0L).as("step_aligned"),
        (min(col("oid")) >= 1000L).as("above_start"))
        .withColumn("cross_commit_monotone", lit(mono))
    },
      // lake_identity: the row count replays relationally; the identity
      // invariants (uniqueness, step alignment, start floor, manifest
      // cross-commit monotonicity) are construction-asserted TRUE cells
      // — assigned values are allocation-order-dependent by contract.
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       true AS all_unique,
        |       true AS step_aligned,
        |       true AS above_start,
        |       true AS cross_commit_monotone
        |FROM orders""".stripMargin),

    // SQL CATALOG (round 19) — the lake's last consumer-surface
    // parity gap: plain SQL text drives CREATE TABLE / INSERT INTO /
    // SELECT / VERSION AS OF / TIMESTAMP AS OF through a registered
    // TableCatalog (spark.sql.catalog.<name> = GraftCatalog), the way
    // Delta ships. Cells: head and VERSION-AS-OF-1 aggregates replay
    // relationally (disjoint % 3 membership); `ts_equals_v1` pins
    // TIMESTAMP AS OF at v1's in-commit stamp to the same snapshot.
    // 100 TB shape: the catalog resolves names to roots at planning
    // only — reads are the same pruned DSv2 scan, inserts the same
    // transactional commit as the programmatic API.
    Query("lake_sql_catalog", { (s, d) =>
      val cat = sqlCatalog(s, d)
      val head = s.sql(s"SELECT CAST(count(*) AS BIGINT) AS n_rows, " +
        s"CAST(sum(cents) AS BIGINT) AS sum_cents FROM $cat.db.orders_t")
      val v1 = s.sql("SELECT CAST(count(*) AS BIGINT) AS n_v1_rows, " +
        s"CAST(sum(cents) AS BIGINT) AS v1_cents " +
        s"FROM $cat.db.orders_t VERSION AS OF 1")
      val lake = graft.io.Snapshot.Lake(s, sqlCatalogRoot(d))
      val ts1 = lake.commits.find(_.version == 1).get.ts.get
      val tsRows = s.sql(s"SELECT count(*) FROM $cat.db.orders_t " +
        s"TIMESTAMP AS OF timestamp_millis(${ts1}L)").head().getLong(0)
      val v1Rows = s.sql(s"SELECT count(*) FROM $cat.db.orders_t " +
        "VERSION AS OF 1").head().getLong(0)
      head.crossJoin(broadcast(v1))
        .withColumn("ts_equals_v1", lit(tsRows == v1Rows))
    },
      // lake_sql_catalog: two disjoint % 3 INSERT slices replay
      // relationally at head and at VERSION AS OF 1; the TIMESTAMP AS OF
      // equivalence is a construction-asserted TRUE cell (the stamp is
      // engine-internal — a wrong resolution flips the boolean).
      """WITH o AS (SELECT o_orderkey AS k,
        |             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
        |               AS cents
        |           FROM orders)
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM o WHERE k % 3 <= 1)
        |    AS n_rows,
        |  (SELECT CAST(sum(cents) AS BIGINT) FROM o WHERE k % 3 <= 1)
        |    AS sum_cents,
        |  (SELECT CAST(count(*) AS BIGINT) FROM o WHERE k % 3 = 0)
        |    AS n_v1_rows,
        |  (SELECT CAST(sum(cents) AS BIGINT) FROM o WHERE k % 3 = 0)
        |    AS v1_cents,
        |  true AS ts_equals_v1""".stripMargin),

    // SQL row-level DML (round 20): DELETE FROM / UPDATE / MERGE INTO
    // through the catalog (GraftDmlRule → Lake.deleteWhere/updateWhere/
    // merge — merge-on-read DV masks, zero rewrites). The final state
    // replays relationally; the MOR shape is asserted from the commit
    // log itself (a rewrite-shaped delete would flip the TRUE cells).
    Query("lake_sql_dml", { (s, d) =>
      val cat = dmlCatalog(s, d)
      val lake = graft.io.Snapshot.Lake(s, s"${dmlCatDirs(d)}/db/dml_t")
      val c2 = lake.commits.find(_.version == 2).get // DELETE
      val c3 = lake.commits.find(_.version == 3).get // UPDATE
      val c4 = lake.commits.find(_.version == 4).get // MERGE
      val morDelete = c2.dvs.nonEmpty && c2.removed.isEmpty &&
        c2.added.isEmpty
      val morUpdate = c3.dvs.nonEmpty && c3.removed.isEmpty &&
        c3.added.nonEmpty
      val morMerge = c4.dvs.nonEmpty && c4.removed.isEmpty &&
        c4.added.nonEmpty
      s.sql(s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
          CAST(sum(cents) AS BIGINT) AS sum_cents,
          CAST(sum(CASE WHEN k < 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_inserted,
          CAST(sum(CASE WHEN k > 0 AND k % 10 = 4 THEN cents ELSE 0 END)
            AS BIGINT) AS cents_after_update,
          CAST(sum(CASE WHEN k > 0 AND k % 10 IN (3, 5) THEN 1 ELSE 0
            END) AS BIGINT) AS n_deleted_bands
        FROM $cat.db.dml_t""")
        .withColumn("delete_was_mor", lit(morDelete))
        .withColumn("update_was_mor", lit(morUpdate))
        .withColumn("merge_was_mor", lit(morMerge))
    },
      // lake_sql_dml: the four-statement SQL DML lifecycle replays
      // relationally — band 3 deleted, band 4 updated (+7), band 5
      // merge-deleted, band 6 merge-updated (×2, from the PRE-update
      // value: bands 4 and 6 are disjoint so v3's cents = o's cents
      // there), band 7 mirrored to negative keys by NOT MATCHED INSERT.
      // The *_was_mor cells are construction-asserted TRUE (read from
      // the commit log: dv lines present, zero rm lines — a
      // copy-on-write delete would flip them).
      """WITH o AS (SELECT o_orderkey AS k,
        |             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
        |               AS cents
        |           FROM orders),
        |v2 AS (SELECT * FROM o WHERE k % 10 <> 3),
        |v3 AS (SELECT k, CASE WHEN k % 10 = 4 THEN cents + 7
        |                      ELSE cents END AS cents FROM v2),
        |v4 AS (SELECT k, CASE WHEN k % 10 = 6 THEN cents * 2
        |                      ELSE cents END AS cents
        |       FROM v3 WHERE k % 10 <> 5
        |       UNION ALL
        |       SELECT -k AS k, CAST(11 AS BIGINT) AS cents
        |       FROM o WHERE k % 10 = 7)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents,
        |       CAST(sum(CASE WHEN k < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_inserted,
        |       CAST(sum(CASE WHEN k > 0 AND k % 10 = 4 THEN cents
        |                     ELSE 0 END) AS BIGINT)
        |         AS cents_after_update,
        |       CAST(sum(CASE WHEN k > 0 AND k % 10 IN (3, 5) THEN 1
        |                     ELSE 0 END) AS BIGINT) AS n_deleted_bands,
        |       true AS delete_was_mor,
        |       true AS update_was_mor,
        |       true AS merge_was_mor
        |FROM v4""".stripMargin),

    // Nested additive evolution (round 20): the struct-widening tier
    // end-to-end — a metadata-only evolve commit (zero add/rm/dv lines,
    // read from the log), pre-evolution files null-filling the new
    // nested field, and the TWO front doors (Lake.read() vs the DSv2
    // connector) agreeing row-for-row. The final aggregate replays relationally: even keys
    // predate the evolution (b NULL), odd keys carry b = cents.
    Query("lake_nested_evolve", { (s, d) =>
      val lake = nestedLake(s, d)
      val c1 = lake.commits.find(_.version == 1).get
      val metaOnly = c1.added.isEmpty && c1.removed.isEmpty &&
        c1.dvs.isEmpty
      val viaLake = lake.read()
        .select(col("k"), col("props.a").as("a"), col("props.b").as("b"))
      val viaConn = s.read.format("graft.io.v2.SnapshotStreamSource")
        .load(lake.root)
        .select(col("k"), col("props.a").as("a"), col("props.b").as("b"))
      val connEqual = viaConn.exceptAll(viaLake).isEmpty &&
        viaLake.exceptAll(viaConn).isEmpty
      viaLake.agg(
        count(lit(1)).cast("long").as("n_rows"),
        count(col("b")).cast("long").as("n_b"),
        coalesce(sum(col("b")), lit(0L)).cast("long").as("sum_b"),
        sum(when(col("b").isNull, 1L).otherwise(0L)).cast("long")
          .as("n_null_b"),
        count(col("a")).cast("long").as("n_a"))
        .withColumn("evolve_metadata_only", lit(metaOnly))
        .withColumn("connector_equals_lake", lit(connEqual))
    },
      // lake_nested_evolve: even keys predate the widening (props.b
      // NULL-fills), odd keys carry b = cents; the evolve_metadata_only /
      // connector_equals_lake cells are construction-asserted TRUE (the
      // first from the commit log — a rewriting evolution would flip it;
      // the second from a bidirectional exceptAll between the two read
      // paths — a connector struct-conversion bug would flip it).
      """WITH o AS (SELECT o_orderkey AS k,
        |             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
        |               AS cents
        |           FROM orders)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CASE WHEN k % 2 = 1 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_b,
        |       CAST(sum(CASE WHEN k % 2 = 1 THEN cents ELSE 0 END)
        |         AS BIGINT) AS sum_b,
        |       CAST(sum(CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_null_b,
        |       CAST(count(*) AS BIGINT) AS n_a,
        |       true AS evolve_metadata_only,
        |       true AS connector_equals_lake
        |FROM o""".stripMargin))
}
