package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, IsNotNull,
  IsNull, LessThanOrEqual}

import graft.Tables
import graft.ext.{Bloom, Contamination, CountMin, Dedup, FeatureSelect, Fuzzy, Multimodal, Packing, QualityFilter, Repetition, Retrieval, Sampling, SubstringScrub, TextOps, VectorOps, Winnow, ZOrder}

/** Training-data-pipeline extension queries (SURVEY §7.5): text
  * analysis, dedup, similarity search, multimodal metadata — over the
  * `documents` / `embeddings` corpus tables.
  *
  * Every entry here is DuckDB-oracled: the dedup/ANN hash family is
  * md5-derived (see Dedup.md5Hash60) precisely so MinHash, SimHash,
  * connected components and sign-LSH replicate bit-for-bit in the
  * oracle engine. ScalaTest specs additionally gate the semantic
  * properties (recall, determinism, convergence).
  */
object ExtQueries {

  /** Offset for the perturbed-copy doc ids. 1e9 is provably disjoint
    * from any corpus this engine targets (doc_id is a dense int64; even
    * sf100's corpus is ~5e7 docs) — round 1's 10,000 offset silently
    * collided once the corpus exceeded 10 k docs (sf1). A spec guards
    * the disjointness (ExtQueriesSpec). */
  val NearDupOffset: Long = 1000000000L

  /** classifier_auc score-axis quantization width: the cumulative
    * midrank window rides at most this many rows regardless of
    * corpus size (the winsorize move — raw NB integer scores have
    * near-doc-cardinality distinct values at scale). */
  val AucBuckets: Int = 4096

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
  // `b = cents`. Old files must null-fill props.b on read, on BOTH
  // read paths (DataFrame parquet clipping AND the connector's
  // recursive Group conversion — compared row-for-row in the query).
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

  /** Probe-only fixture accessors (SCALE.md tooling reaches the
    * same per-JVM cached lakes the queries open; never in a query). */
  def ordersLakeForProbe(s: SparkSession, d: String)
      : graft.io.Snapshot.Lake = ordersLake(s, d)
  def renameLakeForProbe(s: SparkSession, d: String)
      : graft.io.Snapshot.Lake = renameLake(s, d)

  /** One (doc_id, tk, ck) row per document for the eval-metric queries
    * (rouge_n / bleu_corpus / chrf_eval): tk = reference tokens, ck =
    * candidate = the near-dup perturbation as a token slice (last 3
    * tokens dropped, min 1 kept). Reference and candidate live on the
    * SAME row, so the metric queries compute their clipped n-gram
    * overlaps map-side (ClippedOverlap kernel) with no gram exchange
    * and no checkpoint — the round-20 rewrite of the exploded
    * (doc, n, g) count/join form (guide §2.4). rebalance spreads the
    * per-row kernel work when the scan under-partitions. */
  private def refCandTokens(s: SparkSession, d: String): DataFrame =
    Dedup.rebalance(Tables.documents(s, d))
      .select(col("doc_id"), TextOps.tokens(col("text")).as("tk"))
      .withColumn("ck",
        expr("slice(tk, 1, CAST(greatest(size(tk) - 3, 1) AS INT))"))

  /** documents ∪ a perturbed copy (last 3 tokens dropped,
    * doc_id + [[NearDupOffset]]) — gives the near-dup detectors true
    * positives to find while still deriving every byte from the
    * read-only corpus. */
  def withNearDups(docs: DataFrame): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val perturbed = docs.select(
      (col("doc_id") + NearDupOffset).as("doc_id"),
      concat_ws(" ", slice(toks, lit(1), greatest(size(toks) - 3, lit(1)))).as("text"))
    docs.select(col("doc_id"), col("text")).unionByName(perturbed)
  }

  /** The supervised-quality corpus: documents ∪ three deterministic
    * degradations (2-token truncation, 50%-dot punctuation padding,
    * whitespace-stripped gluing), each tripping a different
    * QualityFilter rule so both label classes exist at every SF.
    * Shared by quality_classifier and feature_mi; the oracle replica
    * is the `aug` CTE. Id offsets keep the four slices provably
    * disjoint (documents ids are < 1e9 at every SF). */
  def perturbedCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val rtoks = TextOps.tokens(col("text"))
    val short = docs.select((col("doc_id") + 2000000000L).as("doc_id"),
      concat_ws(" ", slice(rtoks, 1, 2)).as("text"))
    val punct = docs.select((col("doc_id") + 3000000000L).as("doc_id"),
      concat(col("text"), lit(" "),
        expr("repeat('.', CAST(length(text) / 2 AS INT))")).as("text"))
    val glued = docs.select((col("doc_id") + 4000000000L).as("doc_id"),
      expr("replace(text, ' ', '')").as("text"))
    docs.unionByName(short).unionByName(punct).unionByName(glued)
  }

  /** Three messy spellings of a logical page per document (the corpus
    * has no URL column, so the URL-curation queries synthesize
    * adversarial input): `page = doc_id div 3` picks the page, the
    * host derives from the page (7 sites × {.com, .co.uk}), and
    * `doc_id % 3` picks the spelling — canonical, SHOUTED www+:80, or
    * query+fragment (with a `sub.` host on .co.uk pages, exercising
    * registered-domain grouping). Spellings 0/1 of a page normalize
    * identically; 2 does too on .com pages but keeps its `sub.` host
    * distinct on .co.uk ones. The SQL template is dialect-shared with
    * the oracle — only the integer-division token differs. */
  private[queries] def messyUrlSql(div: String): String = {
    val page = s"(doc_id $div 3)"
    val h = s"CAST($page % 7 AS STRING)"
    val pg = s"CAST($page AS STRING)"
    val tld = s"(CASE WHEN $page % 2 = 0 THEN '.com' ELSE '.co.uk' END)"
    val tldUp = s"(CASE WHEN $page % 2 = 0 THEN '.COM' ELSE '.CO.UK' END)"
    val sub = s"(CASE WHEN $page % 2 = 0 THEN '' ELSE 'sub.' END)"
    s"""CASE CAST(doc_id % 3 AS INT)
       |  WHEN 0 THEN concat('https://site', $h, $tld, '/p/', $pg)
       |  WHEN 1 THEN concat('HTTP://WWW.Site', $h, $tldUp, ':80/p/', $pg, '/')
       |  ELSE concat('https://', $sub, 'site', $h, $tld, '/p/', $pg,
       |              '?utm_source=feed#sec')
       |END""".stripMargin
  }

  def messyUrls(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), expr(messyUrlSql("div")).as("url"))

  /** nDCG@10 discount weights floor(1e9·ln2/ln(r+1)+0.5), r = 1..10 —
    * computed ONCE here and injected as literals into both the
    * `rag_pipeline` Spark plan and its DuckDB oracle (a full
    * recompute, so runtime ln() on each side would gamble on
    * cross-engine libm rounding; ten constants don't). */
  private val RagNdcgWeights: Seq[Long] = (1 to 10)
    .map(r => math.floor(1e9 * math.log(2) / math.log(r + 1.0) + 0.5).toLong)

  /** Three matrix-free power-iteration rounds over the mean-centered
    * milli-quantized embeddings — shared by `embed_pca_power` (which
    * outputs the direction) and `embed_detop` (which projects it
    * out). Returns (centered frame (vec_id, c), the round-3 direction
    * at scale 1000). Per-round state is 64 longs on the driver (the
    * kmeans_train model-collect discipline); the 64×64 covariance
    * never materializes. */
  private def pcaPower(s: SparkSession, d: String)
      : (DataFrame, Seq[Long]) = {
      val dims = 64; val rounds = 3
      val q = Tables.embeddings(s, d)
        .select(col("vec_id"),
          VectorOps.quantize1000(col("embedding").cast("array<double>"))
            .as("q"))
        .localCheckpoint(true)
      def sHalf(num: Long, den: Long): Long =
        if (num >= 0) (2 * num + den) / (2 * den)
        else -((2 * -num + den) / (2 * den))
      def sHalfBig(num: BigInt, den: BigInt): BigInt =
        if (num.signum >= 0) (2 * num + den) / (2 * den)
        else -((2 * -num + den) / (2 * den))
      // integer-grid mean per dim (model-sized collect)
      val n = q.count()
      val mu = q.select(posexplode(col("q")).as(Seq("d", "v")))
        .groupBy(col("d")).agg(sum(col("v")).as("s"))
        .collect().map(r => r.getInt(0) -> sHalf(r.getLong(1), n)).toMap
      val muLit = typedLit((0 until dims).map(mu(_)))
      val c = q.select(col("vec_id"),
        zip_with(col("q"), muLit, (a, b) => a - b).as("c"))
        .localCheckpoint(true)
      var x: Seq[Long] = Seq.fill(dims)(1000L)
      (1 to rounds).foreach { _ =>
        val xLit = typedLit(x)
        // Per-row v·dot has magnitude up to ~2.6e11 (long-safe), but the
        // SUM would exceed Int64 at ~3–4e7 vectors — and Spark's
        // non-ANSI long sum wraps silently while DuckDB's HUGEINT sum
        // stays exact, so the two sides would fail DIFFERENTLY at
        // scale. Route the aggregation through DECIMAL(38,0) (the
        // embed_detop nd² convention) and keep the 64-long driver-side
        // normalization in BigInt; the round-3 direction is re-scaled
        // to ±1000 so the broadcast literal stays a Long vector.
        val y = c
          .select(posexplode(col("c")).as(Seq("d", "v")),
            VectorOps.idot(col("c"), xLit).as("dot"))
          .groupBy(col("d"))
          .agg(sum((col("v") * col("dot")).cast("decimal(38,0)")).as("y"))
          .collect()
          .map(r => r.getInt(0) -> BigInt(r.getDecimal(1).toBigInteger))
          .toMap
        val m = (0 until dims).map(d => y(d).abs).max
        x = (0 until dims).map(d => sHalfBig(1000 * y(d), m).toLong)
      }
      (c, x)
  }

  /** The hybrid-retrieval plant construction and the three per-query
    * rankings (lexical, dense, RRF-fused top-10 with rank) shared by
    * `hybrid_rrf` and `retrieval_ndcg` — see `hybrid_rrf`'s comment
    * for why every downstream cell is pinned at any SF. */
  private def hybridRankings(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
      val nQ = 5
      val qbase = Tables.embeddings(s, d).filter(col("vec_id") < nQ)
        .select(col("vec_id").as("qid"),
          transform(col("embedding"), x => (x + lit(0.01)).cast("float"))
            .as("qv"))
        .localCheckpoint(true)
      val qt = concat_ws(" ", transform(sequence(lit(1), lit(20)),
        i => concat(lit("hq"), col("qid"), lit("t"), i)))
      val withJ = qbase.select(col("qid"), col("qv"),
        explode(sequence(lit(1), lit(3))).as("j"))
      // --- planted documents (text side) ---
      val selfD = qbase.select((col("qid") + 9000000L).as("doc_id"),
        qt.as("text"))
      val lexD = withJ.select(
        (lit(9100000L) + col("qid") * 10 + col("j")).as("doc_id"),
        concat(qt, lit(" zz"), col("qid"), lit("x"), col("j")).as("text"))
      val denseD = withJ.select(
        (lit(9200000L) + col("qid") * 10 + col("j")).as("doc_id"),
        concat(lit("dd"), col("qid"), lit("x"), col("j")).as("text"))
      val bothD = withJ.select(
        (lit(9300000L) + col("qid") * 10 + col("j")).as("doc_id"),
        qt.as("text"))
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        .unionByName(selfD).unionByName(lexD).unionByName(denseD)
        .unionByName(bothD)
      // --- planted vectors (dense side) ---
      def perturb(base: Column, delta: Column) =
        transform(base, x => (x + delta).cast("float"))
      val selfV = qbase.select((col("qid") + 9000000L).as("vec_id"),
        col("qv").as("v"))
      val lexV = withJ.select(
        (lit(9100000L) + col("qid") * 10 + col("j")).as("vec_id"),
        transform(col("qv"), x => (-x).cast("float")).as("v"))
      val denseV = withJ.select(
        (lit(9200000L) + col("qid") * 10 + col("j")).as("vec_id"),
        perturb(col("qv"), col("j") * lit(0.001)).as("v"))
      val bothV = withJ.select(
        (lit(9300000L) + col("qid") * 10 + col("j")).as("vec_id"),
        perturb(col("qv"), col("j") * lit(0.002)).as("v"))
      val vecs = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").as("v"))
        .unionByName(selfV).unionByName(lexV).unionByName(denseV)
        .unionByName(bothV)
        .select(col("vec_id"),
          VectorOps.quantize1000(col("v").cast("array<double>")).as("q"))
        .localCheckpoint(true)
      // --- lexical path: tf-idf of the query's terms, top-10 ---
      // Round-20 shape: the scored rows only ever involve the ≤ 100
      // query terms, so the broadcast probe moves BEFORE the (doc,
      // term) exchange (guide §2.3) — no corpus-scale tf checkpoint.
      // df per query term and n_docs (docs with ≥ 1 token — explode's
      // row support) re-derive exactly; Σ tf·w ≡ summing w per matched
      // token instance, exact integers.
      val toksL = Dedup.rebalance(docs)
        .select(col("doc_id"),
          explode(TextOps.tokens(lower(col("text")))).as("term"))
      val qterms = qbase.select(col("qid"),
          explode(split(lower(qt), " ")).as("term"))
      val qtf = toksL.join(broadcast(qterms), "term")
        .groupBy(col("qid"), col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
        .localCheckpoint(true)
      // df invariantly as distinct docs per term (ADVICE r20): equals
      // the row count while query vocabularies are qid-unique, and
      // stays a document frequency if a future construction shares a
      // term across qids. qtf is probe-bounded; cost is nil.
      val dfreq = qtf.groupBy(col("term"))
        .agg(countDistinct(col("doc_id")).as("df"))
      val totals = docs
        .filter(size(TextOps.tokens(lower(col("text")))) >= 1)
        .agg(count(lit(1)).as("n_docs"))
      val lexScored = qtf
        .join(broadcast(dfreq), "term")
        .crossJoin(broadcast(totals))
        .groupBy(col("qid").as("query_id"), col("doc_id"))
        .agg(sum(col("tf") *
          floor(log(col("n_docs").cast("double") / col("df").cast("double"))
            * 1e6 + 0.5).cast("long")).as("score_x1e6"))
      val wq = Window.partitionBy("query_id")
      val lexRank = graft.plans.TopKPerKey.perKey(lexScored,
          keys = Seq(col("query_id")),
          order = Seq(col("score_x1e6").desc, col("doc_id")), k = 10)
        .select(col("query_id"), col("doc_id"),
          row_number().over(wq.orderBy(col("score_x1e6").desc,
            col("doc_id"))).as("rank"))
      // --- dense path: exact integer L2 over quantized vectors ---
      val qq = qbase.select(col("qid"),
        VectorOps.quantize1000(col("qv").cast("array<double>")).as("qq"))
      val denseScored = vecs.crossJoin(broadcast(qq))
        .select(col("qid").as("query_id"), col("vec_id").as("doc_id"),
          VectorOps.idist2(col("q"), col("qq")).as("d2"))
      val denseRank = graft.plans.TopKPerKey.perKey(denseScored,
          keys = Seq(col("query_id")),
          order = Seq(col("d2"), col("doc_id")), k = 10)
        .select(col("query_id"), col("doc_id"),
          row_number().over(wq.orderBy(col("d2"), col("doc_id")))
            .as("rank"))
      // --- fuse + recall cells over the planted relevant set ---
      val fused = Retrieval.rrfFuse(Seq(lexRank, denseRank), k = 10)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("query_id")
            .orderBy(col("rrf_x1e12").desc, col("doc_id"))))
      (lexRank, denseRank, fused)
  }

  /** The 4-round BPE word encoder shared by `bpe_encode` and
    * `tokenizer_fertility`: returns (per-doc word tf, per-word symbol
    * count under the trained merges). */
  private def bpeTfEnc(s: SparkSession, d: String): (DataFrame, DataFrame) = {
      val N = 4
      val words = Dedup.rebalance(Tables.documents(s, d))
        .select(col("doc_id"), explode(TextOps.tokens(lower(col("text")))).as("w"))
      val tf = words.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
        .localCheckpoint(true)
      val wc = tf.groupBy(col("w")).agg(sum(col("tf")).as("wn"))
      var rep = wc.select(col("w"), col("wn"), TextOps.bpeInitRep(col("w")).as("rep"))
        .localCheckpoint(true)
      (1 to N).foreach { _ =>
        val top1 = rep.select(col("wn"), TextOps.bpeSymbols(col("rep")).as("sy"))
          .select(col("wn"), explode(when(size(col("sy")) >= 2,
              transform(sequence(lit(1), size(col("sy")) - 1),
                k => struct(element_at(col("sy"), k).as("p1"),
                  element_at(col("sy"), k + 1).as("p2"))))
            .otherwise(array().cast("array<struct<p1:string,p2:string>>")))
            .as("pr"))
          .select(col("wn"), col("pr.p1").as("p1"), col("pr.p2").as("p2"))
          .groupBy(col("p1"), col("p2")).agg(sum(col("wn")).as("cnt"))
          .orderBy(col("cnt").desc, col("p1"), col("p2")).limit(1)
        rep = rep.crossJoin(broadcast(top1))
          .select(col("w"), col("wn"),
            TextOps.bpeMerge(col("rep"), col("p1"), col("p2")).as("rep"))
          .localCheckpoint(true)
      }
      val enc = rep.select(col("w"),
        size(TextOps.bpeSymbols(col("rep"))).cast("long").as("n_sym"))
      (tf, enc)
  }

  /** Unigram-LM (SentencePiece-style) tokenizer training chain shared
    * by `unigram_train` and `unigram_encode` — the third production
    * tokenizer beside BPE (merge replay) and WordPiece (greedy
    * longest-match): Kudo 2018's EM-pruned unigram model, in a
    * deterministic exact-integer simplification both engines replay
    * bit-for-bit.
    *
    *  - Seed vocab: ALL single chars (the fallback alphabet, kept
    *    through every prune) + the top-[[UniSeedK]] corpus-weighted
    *    2..4-char substrings of the distinct-word table under the
    *    (cnt DESC, piece) total order (wordpiece_encode's derivation).
    *  - Scores: 1e6-scaled HALF-UP ln cells over exact integers
    *    (char_entropy's discipline) with add-1 smoothing:
    *    s(p) = lnCell(usage+1) − lnCell(total+|V|).
    *  - E-step: exact-integer VITERBI segmentation of each distinct
    *    word — a forward DP fold (B(i) = max over l ∈ 1..4 of
    *    B(i−l) + s(piece), missing pieces at the −10^15 sentinel) and
    *    a backward path fold that re-derives each step as the
    *    SMALLEST l with B(e−l) + s = B(e) (the deterministic
    *    tie-break; the oracle replays both folds as recursive CTEs —
    *    shift-state forward, l-emitting backward).
    *  - M-step + prune (2 unrolled rounds, domain_reweight's MWU
    *    convention): usage-weighted recount, keep singles + the top
    *    [[UniPrune]](r) multis by (usage DESC, piece), rescore.
    *
    * 100 TB shape: the corpus is touched exactly twice (tokenize→tf
    * agg; tf⋈encoder join) — every EM round rides the DISTINCT word
    * table with the piece scores as a broadcast map literal
    * (model-sized collect, ≤ [[UniSeedK]]+alphabet entries), so
    * training cost is independent of corpus size, exactly like
    * bpe_train. Returns (per-doc word tf, final vocab frame
    * (piece, piece_len, usage, logp_x1e6), per-word n_pieces under
    * the final scores). */
  private val UniSeedK = 256
  private val UniPrune = Seq(170, 113)
  private val UniSentinel = -1000000000000000L

  private def lnCell1e6(c: Column): Column =
    floor(log(c.cast("double")) * 1000000.0 + 0.5).cast("long")

  /** Forward Viterbi DP as an aggregate fold: result array's element
    * j+1 (1-indexed) = B(j), the best path score of the length-j
    * prefix of `w` under score map `SM`. */
  private def uniForward(SM: Column, w: Column): Column =
    aggregate(
      sequence(lit(1), length(w)),
      array(lit(0L)),
      (best, i) => {
        def cand(l: Int) =
          when(i >= l,
            coalesce(element_at(SM, w.substr(i - l + 1, lit(l))),
              lit(UniSentinel)) + element_at(best, i - l + 1))
            .otherwise(lit(UniSentinel))
        concat(best, array(greatest(cand(1), cand(2), cand(3), cand(4))))
      })

  /** Backward path recovery: walk e from |w| to 0 taking the SMALLEST
    * l whose piece reproduces B(e) — returns the piece array. */
  private def uniBackward(SM: Column, w: Column, best: Column): Column =
    aggregate(
      sequence(lit(1), length(w)),
      struct(length(w).as("e"), array().cast("array<string>").as("ps")),
      (st, _) => {
        val e = st.getField("e")
        val ps = st.getField("ps")
        def p(l: Int) = w.substr(e - l + 1, lit(l))
        def ok(l: Int) = (e >= l) &&
          (coalesce(element_at(SM, p(l)), lit(UniSentinel)) +
            element_at(best, e - l + 1) === element_at(best, e + 1))
        def step(l: Int) =
          struct((e - l).as("e"), concat(ps, array(p(l))).as("ps"))
        when(e <= 0, st)
          .when(ok(1), step(1))
          .when(ok(2), step(2))
          .when(ok(3), step(3))
          .otherwise(step(4))
      },
      st => st.getField("ps"))

  private def unigramModel(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val words = Dedup.rebalance(Tables.documents(s, d))
      .select(col("doc_id"), explode(TextOps.tokens(lower(col("text")))).as("w"))
    val tf = words.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val wc = tf.groupBy(col("w")).agg(sum(col("tf")).as("wn"))
      .localCheckpoint(true)
    // Seed counting: corpus-weighted substrings, lengths 1..4 (the
    // wordpiece derivation widened to include the alphabet).
    val subs = wc.select(col("wn"), explode(flatten(
        transform(sequence(lit(1), lit(4)), l =>
          when(length(col("w")) >= l,
            transform(sequence(lit(1), length(col("w")) - l + 1),
              i => col("w").substr(i, l)))
            .otherwise(array().cast("array<string>")))))
        .as("piece"))
      .groupBy(col("piece")).agg(sum(col("wn")).as("cnt"))
      .localCheckpoint(true)
    // Round 21 (guide §1.2/§5): everything below the two corpus-scale
    // frames (tf, wc) and the distributed E-steps is MODEL-sized —
    // the vocab never exceeds |alphabet| + UniSeedK entries, and every
    // piece an E-step emits is IN the score map (the backward walk
    // takes the smallest l reproducing B(e), and the all-singles
    // alphabet kept through every prune guarantees a non-sentinel
    // char path, so a piece outside SM can never reproduce B(e)).
    // The M-step/prune/score algebra therefore runs on the DRIVER
    // over collected model-sized rows — the same class of collect the
    // chain already did (mstep collected every score map) — instead
    // of 3 crossJoin+checkpoint+collect round trips and 2 prune
    // joins; each E-step collects its (piece, usage) rollup directly.
    // Exact-integer semantics preserved: lnCell1e6 is floor(
    // StrictMath.log(x)·1e6 + 0.5) in both engines (Spark's LOG/FLOOR
    // are StrictMath.log/Math.floor), and the (usage DESC, piece)
    // prune order compares pieces as UTF-8 BYTES, Spark's string
    // order. Oracle-gated at both SFs; plan: 2 corpus aggregates
    // (tf, wc) + 1 subs aggregate + 2 wc-sized E-step aggregates —
    // nothing model-sized ever shuffles.
    def utf8Lt(a: String, b: String): Boolean = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      while (i < x.length && i < y.length) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      x.length < y.length
    }
    val pieceOrd: Ordering[(String, Long)] = new Ordering[(String, Long)] {
      def compare(a: (String, Long), b: (String, Long)): Int =
        if (a._2 != b._2) java.lang.Long.compare(b._2, a._2)
        else if (a._1 == b._1) 0
        else if (utf8Lt(a._1, b._1)) -1 else 1
    }
    def lnCellD(c: Long): Long =
      math.floor(StrictMath.log(c.toDouble) * 1000000.0 + 0.5).toLong
    def nChars(p: String): Int = p.codePointCount(0, p.length)
    // alphabet (all corpus single chars) + top-K multi seeds, with
    // their corpus-weighted counts — both model-sized collects
    val singles: Seq[(String, Long)] = subs
      .filter(length(col("piece")) === 1)
      .select(col("piece"), col("cnt")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    val singleSet = singles.map(_._1).toSet
    val multis0: Seq[(String, Long)] = subs
      .filter(length(col("piece")) >= 2)
      .orderBy(col("cnt").desc, col("piece")).limit(UniSeedK)
      .select(col("piece"), col("cnt")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    def mstep(usage: Seq[(String, Long)]): Map[String, Long] = {
      val t = usage.map(_._2).sum
      val v = usage.size.toLong
      usage.map { case (p, c) =>
        p -> (lnCellD(c + 1) - lnCellD(t + v)) }.toMap
    }
    // E-step: Viterbi-segment the distinct vocab, usage-weighted
    // count, collected as the model-sized (piece, usage) rollup.
    def estep(scores: Map[String, Long]): Seq[(String, Long)] = {
      val SM = typedlit(scores)
      wc.withColumn("best", uniForward(SM, col("w")))
        .select(col("wn"),
          explode(uniBackward(SM, col("w"), col("best"))).as("piece"))
        .groupBy(col("piece")).agg(sum(col("wn")).as("usage"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    }
    def vocabAfter(usage: Seq[(String, Long)], keep: Int)
        : Seq[(String, Long)] = {
      val um = usage.toMap
      val multis = usage.filter { case (p, _) => nChars(p) >= 2 }
        .sorted(pieceOrd).take(keep)
      singles.map { case (p, _) => p -> um.getOrElse(p, 0L) } ++ multis
    }
    val seed = singles ++ multis0
    val sc0 = mstep(seed)
    val usage1 = estep(sc0)
    val vocab1 = vocabAfter(usage1, UniPrune(0))
    val sc1 = mstep(vocab1)
    val usage2 = estep(sc1)
    val vocab2 = vocabAfter(usage2, UniPrune(1))
    val sc2 = mstep(vocab2)
    val SM2 = typedlit(sc2)
    val enc = wc
      .withColumn("best", uniForward(SM2, col("w")))
      .select(col("w"),
        size(uniBackward(SM2, col("w"), col("best"))).cast("long")
          .as("n_pieces"))
    val vocabRows = vocab2.map { case (p, u) =>
      (p, nChars(p).toLong, u, sc2(p)) }
    val vocabDf = s.createDataFrame(vocabRows)
      .toDF("piece", "piece_len", "usage", "logp_x1e6")
    (tf, vocabDf, enc)
  }

  /** The NB quality classifier's full train→score chain (the
    * quality_classifier construction), shared with `classifier_auc`:
    * one row per doc with (is_train, actual_keep, score) where score
    * is the exact-integer 1e6-scaled NB log-odds. */
  private[graft] def nbScores(s: SparkSession, d: String): DataFrame = {
      val K = 300
      // one corpus materialization; labels, split, and token arrays
      // derive map-side and feed every downstream consumer
      val aug = Dedup.rebalance(perturbedCorpus(s, d))
        .select(col("doc_id"),
          QualityFilter.keep(col("text")).as("actual_keep"),
          (pmod(Dedup.md5Hash60(col("doc_id").cast("string")), lit(2L)) === 0L)
            .as("is_train"),
          TextOps.tokens(lower(col("text"))).as("toks"))
        .localCheckpoint(true)
      // Round-20 shape: no per-(doc, term) tf materialization. The old
      // form aggregated token rows into a checkpointed (doc, keep,
      // train, term, tf) frame — nearly token-instance cardinality (a
      // corpus-sized eager cache) and an extra exchange — only to
      // re-aggregate it twice. Both consumers now ride the cached
      // token arrays directly: vocab counts train token instances in
      // ONE term-keyed partial+final agg (Σ tf over docs ≡ counting
      // instances), and the doc score broadcast-joins the 300-term
      // weight table BEFORE its doc-keyed agg, so only matched token
      // rows ever shuffle. Same exact integers; oracle unchanged.
      val words = aug.select(col("doc_id"), col("actual_keep"),
        col("is_train"), explode(col("toks")).as("term"))
      val vocab = words.filter(col("is_train"))
        .groupBy(col("term"))
        .agg(count(lit(1)).as("cc"),
          sum(when(col("actual_keep"), 1L).otherwise(0L)).as("pos_c"))
        .orderBy(col("cc").desc, col("term")).limit(K)
        .withColumn("neg_c", col("cc") - col("pos_c"))
        .localCheckpoint(true)
      val totals = vocab.agg(sum("pos_c").as("pos_tot"),
        sum("neg_c").as("neg_tot"), count(lit(1)).as("v"))
      val classes = aug.agg(
        sum(when(col("is_train") && col("actual_keep"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("is_train") && !col("actual_keep"), 1L).otherwise(0L)).as("n_neg"))
      val w = vocab.crossJoin(broadcast(totals))
        .select(col("term"),
          (floor(log((col("pos_c") + 1).cast("double") /
              (col("pos_tot") + col("v")).cast("double")) * 1e6 + 0.5).cast("long") -
           floor(log((col("neg_c") + 1).cast("double") /
              (col("neg_tot") + col("v")).cast("double")) * 1e6 + 0.5).cast("long"))
            .as("w_x1e6"))
      val docScore = words.select(col("doc_id"), col("term"))
        .join(broadcast(w), Seq("term"))
        .groupBy(col("doc_id"))
        .agg(sum(col("w_x1e6")).as("sum_w"))
      aug.select(col("doc_id"), col("actual_keep"), col("is_train"))
        .join(docScore, Seq("doc_id"), "left")
        .crossJoin(broadcast(classes))
        .select(col("doc_id"), col("is_train"), col("actual_keep"),
          (coalesce(col("sum_w"), lit(0L)) +
            floor(log((col("n_pos") + 1).cast("double") /
                (col("n_neg") + 1).cast("double")) * 1e6 + 0.5).cast("long"))
            .as("score"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- text analysis -------------------------------------------------
    "token_count" -> { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"),
        size(TextOps.bpeishTokens(col("text"))).cast("long").as("n_bpe_tokens"),
        col("n_chars"),
        round(col("n_chars").cast("double") /
          size(TextOps.tokens(col("text"))), 4).as("chars_per_token"))
    },

    "text_quality" -> { (s, d) =>
      val toks = size(TextOps.tokens(col("text"))).cast("long")
      val len = length(col("text")).cast("long")
      val punct = TextOps.punctCount(col("text"))
      val stop = TextOps.langScore(col("text"), "en")
      Tables.documents(s, d).select(
        col("doc_id"),
        len.as("text_len"),
        toks.as("n_words"),
        punct.as("n_punct"),
        stop.as("n_stopwords"),
        round(punct.cast("double") / len, 4).as("punct_ratio"),
        round(stop.cast("double") / toks, 4).as("stopword_ratio"),
        round(least(toks.cast("double") / 100.0, lit(1.0)) *
          (lit(1.0) - punct.cast("double") / len), 4).as("quality"))
    },

    "lang_id" -> { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"), col("lang"),
        TextOps.langId(col("text")).as("lang_pred"))
    },

    // Readability scoring (round 12) — Flesch–Kincaid grade level
    // (Kincaid et al. 1975), the document-difficulty signal curation
    // recipes bin on next to text_quality's ratio features. The three
    // counts are regex-exact in both engines (words = whitespace
    // tokens; sentences = [.!?]+ runs, floored at 1; syllables =
    // vowel-group runs, +1 for each vowel-less word — the standard
    // heuristic), and the grade is the FK formula with exact-integer
    // coefficients (0.39 = 390000/1e6, 11.8 = 11800000/1e6) and
    // truncating divs on non-negative operands, so the per-doc score
    // and the band cut are bit-identical cross-engine. Output is the
    // per-band rollup (count + exact score sum). 100 TB shape:
    // entirely map-side per doc; one 3-row partial+final agg.
    "readability_score" -> { (s, d) =>
      val toks = TextOps.tokens(col("text"))
      Dedup.rebalance(Tables.documents(s, d))
        .select(
          size(toks).cast("long").as("w"),
          greatest(lit(1L),
            regexp_count(col("text"), lit("[.!?]+")).cast("long")).as("sct"),
          (regexp_count(col("text"), lit("[aeiouyAEIOUY]+")).cast("long") +
            (size(toks) - size(filter(toks,
              t => t.rlike("[aeiouyAEIOUY]")))).cast("long")).as("sy"))
        .filter(col("w") >= 1L)
        .withColumn("fk_x1e6", expr(
          "(390000 * w) div sct + (11800000 * sy) div w - 15590000"))
        .withColumn("band",
          when(col("fk_x1e6") <= 6000000L, "easy")
            .when(col("fk_x1e6") <= 10000000L, "standard")
            .otherwise("difficult"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("fk_x1e6")).as("sum_fk_x1e6"))
    },

    "doc_fingerprint" -> { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        TextOps.contentFingerprint(col("text")).as("content_md5"),
        TextOps.minShingleFingerprint(col("text")).as("min_shingle_md5"))
    },

    // Corpus vocabulary: top-100 tokens by frequency (the first thing a
    // training-data pipeline inspects — tokenizer coverage, boilerplate
    // detection). explode → partial+final count agg → TakeOrdered; ties
    // at the cutoff break on the token itself, so the LIMIT is
    // deterministic cross-engine.
    "vocab_topk" -> { (s, d) =>
      Dedup.rebalance(Tables.documents(s, d))
        .select(explode(TextOps.tokens(lower(col("text")))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(100)
    },

    // Zipf's-law fit (round 15) — the rank-frequency diagnostic beside
    // vocab_topk's raw list (Zipf 1949; a natural corpus's top-vocab
    // log-log slope sits near −1, and a synthetic/boilerplate corpus
    // shows up as a flagrantly non-Zipfian slope): OLS of ln f on ln r
    // over the SAME deterministic top-100 cut. Exactness: both lns are
    // floored 1e6-scaled cells of exact integers (the unigram_logprob
    // convention), the five OLS sums are DECIMAL(38,0)-routed integer
    // algebra, slope_x1e6 a sign-split HALF_UP cell, and r² uses
    // div-1000-scaled factors — a DELIBERATE precision trade that
    // keeps 2e6·num² inside DECIMAL(38,0)/HUGEINT at any corpus size
    // while both engines replay the identical formula. 100 TB shape:
    // one explode → partial+final count agg → TakeOrdered(100);
    // the rank window and OLS ride the 100-row frame.
    "zipf_fit" -> { (s, d) =>
      val top = Dedup.rebalance(Tables.documents(s, d))
        .select(explode(TextOps.tokens(lower(col("text")))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token")).limit(100)
      val xy = top
        .withColumn("r", row_number()
          .over(Window.orderBy(col("n").desc, col("token"))).cast("long"))
        .selectExpr(
          "CAST(floor(log(CAST(r AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS x",
          "CAST(floor(log(CAST(n AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS y")
      xy.agg(count(lit(1)).as("k"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
          sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
        .selectExpr("k",
          "CAST(k AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS num",
          "CAST(k AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS den",
          "CAST(k AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy AS deny")
        .selectExpr("k",
          "CASE WHEN num >= 0 THEN " +
            "CAST((2 * 1000000 * num + den) div (2 * den) AS BIGINT) " +
            "ELSE -CAST((2 * 1000000 * (-num) + den) div (2 * den)" +
            " AS BIGINT) END AS slope_x1e6",
          // Spark's `div` yields BIGINT — every scaled factor goes back
          // through DECIMAL(38,0) before multiplying or the r² products
          // overflow int64.
          "CAST((2 * 1000000 * CAST((CASE WHEN num >= 0 THEN num" +
            " ELSE -num END) div 1000 AS DECIMAL(38,0))" +
            " * CAST((CASE WHEN num >= 0 THEN num ELSE -num END)" +
            " div 1000 AS DECIMAL(38,0))" +
            " + CAST(den div 1000 AS DECIMAL(38,0))" +
            " * CAST(deny div 1000 AS DECIMAL(38,0)))" +
            " div (2 * CAST(den div 1000 AS DECIMAL(38,0))" +
            " * CAST(deny div 1000 AS DECIMAL(38,0))) AS BIGINT)" +
            " AS r2_x1e6")
        .withColumn("zipfian",
          col("slope_x1e6") < -500000L && col("slope_x1e6") > -2000000L)
    },

    // Deterministic train/eval sharding: every row keyed to a shard of
    // [0,100) by the md5 hash of its own id (Sampling.shard) and the
    // 10% split kept — reproducible in any engine, idempotent under
    // task retries, membership independent of corpus growth. Map-side
    // only; the filter sits on the scan.
    "sample_shard" -> { (s, d) =>
      Sampling.sampleShards(
        Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
        col("doc_id"), nShards = 100, keep = 10)
    },

    // Stratified deterministic sample (round 5) — k docs per stratum
    // (language), selected by md5-hash rank inside each stratum: the
    // balanced-subset primitive for training mixes. Same portability
    // contract as sample_shard (membership depends only on the row's
    // own key), plus per-stratum exactness. TopKPerKey bounded heaps:
    // ≤ k rows per stratum per partition reach the exchange — no
    // Window, no per-stratum sort of the full corpus.
    "stratified_sample" -> { (s, d) =>
      val h = Dedup.md5Hash60(col("doc_id").cast("string"))
      graft.plans.TopKPerKey.perKey(
        Tables.documents(s, d).select(col("doc_id"), col("lang"), h.as("h")),
        keys = Seq(col("lang")),
        order = Seq(col("h"), col("doc_id")), k = 20)
    },

    // PII scrub. The corpus itself is PII-free word salad, so the query
    // APPENDS an email + phone derived from doc_id before scrubbing —
    // the oracle replicates both the synthesis and the scrub, so the
    // gate verifies genuine rewrites, not a no-op pass-through.
    "pii_scrub" -> { (s, d) =>
      // Mixed-case email + two phone shapes ((555) NNN-NNNN and bare
      // 555-NNNN). Phone digits come from doc_id % 1000/10000 so the
      // spans stay inside PhoneRe's bounded repetitions at EVERY scale
      // factor — a raw doc_id (offset 1e9) would overflow the pattern
      // and silently stop exercising the phone branch.
      val last3 = lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0")
      val last4 = lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")
      val synth = concat(col("text"), lit(" Contact User"),
        col("doc_id").cast("string"), lit("@Example.COM or call +1 (555) "),
        last3, lit("-"), last4, lit(" or 555-"), last4)
      val scrubbed = TextOps.scrubPii(synth)
      Tables.documents(s, d).select(
        col("doc_id"),
        scrubbed.as("scrubbed"),
        (length(synth) - length(scrubbed)).cast("long").as("chars_removed"))
    },

    // ---- dedup ---------------------------------------------------------
    "dedup_exact" -> { (s, d) =>
      Dedup.exact(Tables.documents(s, d), col("text"), col("doc_id"))
    },

    "ngram_jaccard" -> { (s, d) =>
      val sh = TextOps.shingles(TextOps.tokens(col("text")), 3)
      val a = Tables.documents(s, d).select(col("doc_id").as("doc_a"), sh.as("sh_a"))
      val b = Tables.documents(s, d).select(col("doc_id").as("doc_b"), sh.as("sh_b"))
      a.join(b, col("doc_b") === col("doc_a") + 1)
        .select(col("doc_a"), col("doc_b"),
          Dedup.ngramJaccard(col("sh_a"), col("sh_b")).as("jaccard"))
    },

    "dedup_minhash" -> { (s, d) =>
      Dedup.minhashPairs(withNearDups(Tables.documents(s, d)),
        col("doc_id"), col("text"), threshold = 0.5)
    },

    // Corpus-level BLEU components (round 14) — Papineni et al. 2002
    // beside rouge_n's per-doc recall view: clipped n-gram PRECISION
    // for n = 1..4 summed over the corpus (BLEU's counting rule:
    // Σ_docs Σ_grams min(count_cand, count_ref) over Σ candidate
    // grams), plus the brevity inputs (candidate/reference lengths,
    // their HALF_UP 1e6 ratio, and whether the penalty regime
    // applies). The geometric mean and exp(1−r/c) stay OUT of the
    // contract — transcendentals would gamble on cross-engine libm;
    // the emitted components reconstruct the score in one line
    // downstream. Same tagged-gram plan as rouge_n, four orders in
    // ONE (doc, n, g) exchange per side. */
    "bleu_corpus" -> { (s, d) =>
      // Round-20 kernel form: ref and cand share a row, so all four
      // orders' clipped counts derive map-side (ClippedOverlap) and
      // the whole query is ONE partial+final aggregate — the exploded
      // form paid two (doc, n, g) count exchanges + the clipped join
      // for statistics every row can compute locally. Values are the
      // same exact integers; the unchanged DuckDB oracle re-proves it.
      val ov = refCandTokens(s, d)
        .select(graft.ext.expr.ClippedOverlap.of(col("tk"), col("ck"), 4)
          .as("ov"))
      val aggs = (1 to 4).flatMap(n => Seq(
        sum(element_at(col("ov"), 3 * (n - 1) + 1)).as(s"m_$n"),
        sum(element_at(col("ov"), 3 * (n - 1) + 3)).as(s"tot_$n"))) :+
        sum(element_at(col("ov"), 2)).as("r_len")
      ov.agg(aggs.head, aggs.tail: _*)
        .selectExpr(Seq("r_len", "tot_1 AS c_len",
          "CASE WHEN r_len > 0 THEN " +
            "(2 * 1000000 * tot_1 + r_len) div (2 * r_len) " +
            "ELSE 0L END AS len_ratio_x1e6",
          "tot_1 < r_len AS brevity_applied") ++
          (1 to 4).flatMap(n => Seq(s"m_$n", s"tot_$n",
            s"CASE WHEN tot_$n > 0 THEN " +
              s"(2 * 1000000 * m_$n + tot_$n) div (2 * tot_$n) " +
              s"ELSE 0L END AS p${n}_x1e6")): _*)
    },

    // ROUGE-1/2 F1 (round 14) — the summarization-eval metric as a
    // corpus operator (Lin 2004): per document, candidate = the
    // near-dup perturbation (last 3 tokens dropped — the withNearDups
    // construction as a token slice) scored against the original as
    // reference. CLIPPED multiset overlap (Σ min(count_ref,
    // count_cand) per gram — the ROUGE/BLEU counting rule, unlike
    // ngram_jaccard's set semantics), and F1 collapses to the exact
    // rational 2m/(n_ref + n_cand), emitted as a HALF_UP 1e6 cell —
    // no floats anywhere. Bigram arrays guard the size<2 case
    // (sequence(1,0) would DESCEND in Spark). 100 TB shape: two
    // (doc, gram)-keyed count aggs + one equi-join on that key per n
    // — the doc_repetition exchange pattern; per-doc outputs. */
    "rouge_n" -> { (s, d) =>
      // Round-20 kernel form: the candidate is a token slice of the
      // reference ON THE SAME ROW, so both orders' clipped counts
      // derive map-side (ClippedOverlap) and the query plans ZERO
      // exchanges — the exploded form paid two (doc, n, g) count
      // exchanges + a clipped join + a doc-keyed pivot for per-row
      // statistics. The empty-token filter reproduces the exploded
      // form's row set exactly (explode dropped gram-less docs); all
      // counts are the same exact integers under the unchanged oracle.
      refCandTokens(s, d).filter(size(col("tk")) >= 1)
        .select(col("doc_id"),
          graft.ext.expr.ClippedOverlap.of(col("tk"), col("ck"), 2)
            .as("ov"))
        .selectExpr("doc_id",
          "element_at(ov, 2) AS nref_1", "element_at(ov, 3) AS ncand_1",
          "element_at(ov, 1) AS m_1",
          "element_at(ov, 5) AS nref_2", "element_at(ov, 6) AS ncand_2",
          "element_at(ov, 4) AS m_2")
        .selectExpr("doc_id", "nref_1", "ncand_1", "m_1",
          "CASE WHEN nref_1 + ncand_1 > 0 THEN " +
            "(2 * 1000000 * m_1 + (nref_1 + ncand_1)) div " +
            "(2 * (nref_1 + ncand_1)) ELSE 0L END AS rouge1_f_x1e6",
          "nref_2", "ncand_2", "m_2",
          "CASE WHEN nref_2 + ncand_2 > 0 THEN " +
            "(2 * 1000000 * m_2 + (nref_2 + ncand_2)) div " +
            "(2 * (nref_2 + ncand_2)) ELSE 0L END AS rouge2_f_x1e6")
    },

    // chrF (round 16) — the character-n-gram F-score (Popović 2015)
    // beside BLEU (token precision) and ROUGE (token F1), completing
    // the eval-metric family: tokenization-free, so it credits
    // morphological near-matches token metrics miss. Rides the
    // rouge_n candidate frame (reference = the document, candidate =
    // the 3-token-dropped near-dup slice), both sides
    // whitespace-stripped (the chrF convention) via array_join of the
    // shared token arrays. Orders n = 1..3 over the SAME tagged
    // (doc, n, g) count exchange + single clipped join as rouge_n;
    // per order the exact clipped m / cand-total / ref-total, HALF-UP
    // 1e6 precision+recall cells; CHRP/CHRR = HALF-UP means over the
    // 3 order cells (sacrebleu's average-then-F form) and
    // chrF(β=2) = 5·P·R/(4P+R) on those cells — exact integers end
    // to end, no libm. Zero-gram orders score 0 (the Popović
    // convention for short segments). 100 TB shape: the char-gram
    // explode is 3 streamed linear passes over cached token blocks
    // per side (fusing them was measured 2× worse — see grams());
    // everything after rides (doc, gram) keys.
    "chrf_eval" -> { (s, d) =>
      // Round-20 kernel form. History: the exploded (doc, n, g)
      // count/join shape measured 7.6 s at sf0.1, and two relational
      // "optimizations" were tried and REJECTED (fused
      // explode-of-structs 15.1 s; checkpointed char stream 7.4 s).
      // The kernel sidesteps the trade entirely: ref and cand are the
      // SAME ROW's token array (cand a slice of it), so all three
      // orders' clipped char-gram counts derive map-side
      // (ClippedOverlap, code-point windows ≡ substr semantics) and
      // the query plans ZERO gram exchanges — the char corpus never
      // shuffles at any scale. The empty-token filter reproduces the
      // exploded form's row set (explode dropped gram-less docs);
      // every count is the same exact integer under the unchanged
      // DuckDB oracle.
      refCandTokens(s, d).filter(size(col("tk")) >= 1)
        .select(col("doc_id"),
          graft.ext.expr.ClippedOverlap.of(
            array_join(col("tk"), ""), array_join(col("ck"), ""), 3)
            .as("ov"))
        .selectExpr(Seq("doc_id") ++
          (1 to 3).flatMap(n => Seq(
            s"element_at(ov, ${3 * (n - 1) + 1}) AS m_$n",
            s"element_at(ov, ${3 * (n - 1) + 3}) AS c_$n",
            s"element_at(ov, ${3 * (n - 1) + 2}) AS r_$n")): _*)
        .selectExpr(Seq("doc_id") ++
          (1 to 3).flatMap(n => Seq(s"m_$n", s"c_$n", s"r_$n",
            s"CASE WHEN c_$n > 0 THEN (2 * 1000000 * m_$n + c_$n) " +
              s"div (2 * c_$n) ELSE 0L END AS p${n}_x1e6",
            s"CASE WHEN r_$n > 0 THEN (2 * 1000000 * m_$n + r_$n) " +
              s"div (2 * r_$n) ELSE 0L END AS rc${n}_x1e6")): _*)
        .selectExpr("*",
          "(2 * (p1_x1e6 + p2_x1e6 + p3_x1e6) + 3) div 6 AS chrp_x1e6",
          "(2 * (rc1_x1e6 + rc2_x1e6 + rc3_x1e6) + 3) div 6 AS chrr_x1e6")
        .selectExpr("*",
          "CASE WHEN 4 * chrp_x1e6 + chrr_x1e6 > 0 THEN " +
            "(2 * 5 * chrp_x1e6 * chrr_x1e6 + (4 * chrp_x1e6 + chrr_x1e6))" +
            " div (2 * (4 * chrp_x1e6 + chrr_x1e6)) " +
            "ELSE 0L END AS chrf_x1e6")
    },

    // EXACT set-similarity join (round 9) — every pair at 3-gram
    // Jaccard ≥ 3/5 via prefix filtering (AllPairs/PPJoin), the
    // zero-false-negative complement to dedup_minhash's probabilistic
    // recall. The oracle is the BRUTE-FORCE exact join (all
    // co-occurring pairs, exact integer threshold cross-multiply), so
    // the gate proves the prefix filter loses nothing — candidate
    // completeness checked against ground truth at every SF, not
    // claimed from the lemma alone.
    "simjoin_ngram" -> { (s, d) =>
      Dedup.similarityJoin(withNearDups(Tables.documents(s, d)),
        col("doc_id"), col("text"), thrNum = 3, thrDen = 5)
    },

    // MinHash retrieval-quality gate (round 10) — ann_recall's
    // error-bound-boolean pattern applied to the dedup family: the
    // LSH near-dup pipeline (dedup_minhash/dedup_corpus's engine) is
    // probabilistic — banding can miss true pairs, 32-hash estimation
    // can pass false ones — and until now its quality was only
    // spec-gated at toy scale. Ground truth is the EXACT similarity
    // join at the same threshold (J ≥ 1/2 on the same hashed 3-gram
    // shingle sets — zero false negatives, brute-force-oracled), so
    // recall = |LSH ∩ exact|/|exact| and precision = |∩|/|LSH| are
    // MEASURED against truth and the bound cells are asserted literal
    // TRUE by the DuckDB gate at every SF. 100 TB shape: both sides
    // are the already-bounded join pipelines; the intersection is one
    // pair-keyed join; output is 1 row.
    "dedup_recall" -> { (s, d) =>
      val corpus = withNearDups(Tables.documents(s, d))
      val exact = Dedup.similarityJoin(corpus, col("doc_id"), col("text"),
          thrNum = 1, thrDen = 2)
        .select(col("doc_a"), col("doc_b")).localCheckpoint(true)
      val lsh = Dedup.minhashPairs(corpus, col("doc_id"), col("text"), 0.5)
        .select(col("doc_a"), col("doc_b")).localCheckpoint(true)
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(lsh.agg(count(lit(1)).as("n_lsh")))
        .crossJoin(exact.join(lsh, Seq("doc_a", "doc_b"))
          .agg(count(lit(1)).as("n_hit")))
        .selectExpr("n_exact", "n_lsh", "n_hit",
          // measured 99.1–99.7% recall / 100% precision at both SFs;
          // the asserted bound is ≥ 90% each (8-band/32-hash theory
          // puts J=0.5 pair detection ≈ 55% at the threshold edge —
          // the corpus's true pairs sit well above J=0.5, where
          // banding catches them with near-certainty)
          "10 * n_hit >= 9 * n_exact AS recall_ok",
          "10 * n_hit >= 9 * n_lsh AS precision_ok")
    },

    // Rendezvous-hash shard rebalance (round 12) — Thaler &
    // Ravishankar (IEEE ToN 1998), the consistent-placement move a
    // 100 TB lake needs when the shard count grows: each doc's shard
    // is argmax_j md5("hrw:doc:j") (highest random weight), so going
    // 16 → 17 shards relocates ONLY the docs whose new shard's hash
    // wins — an expected 1/17 of the corpus, all landing on the new
    // shard — where the naive mod-S rehash scrambles ~16/17 of it.
    // Both fractions are COMPUTED and gated (≤ 8% / ≥ 80%, the
    // split_leakage prove-the-technique convention). The Spark
    // argmax is a single map-side greatest() over 17 (hash, j)
    // structs — no explode, no shuffle before the 1-row agg; ties
    // break to the larger j, mirrored exactly in the oracle's
    // ORDER BY h DESC, j DESC. The oracle replays via unnest +
    // row_number (different plan, same answer — the point of the
    // cross-engine gate).
    "shard_rebalance" -> { (s, d) =>
      def hj(j: Int): Column = struct(
        Dedup.md5Hash60(concat(lit("hrw:"), col("doc_id"), lit(s":$j")))
          .as("h"),
        lit(j.toLong).as("j"))
      def assign(nShards: Int): Column =
        greatest((0 until nShards).map(hj): _*).getField("j")
      val flags = Tables.documents(s, d).select(
        (assign(16) =!= assign(17)).as("mh"),
        (pmod(Dedup.md5Hash60(concat(lit("sh:"), col("doc_id"))),
          lit(16L)) =!=
         pmod(Dedup.md5Hash60(concat(lit("sh:"), col("doc_id"))),
           lit(17L))).as("mn"))
      flags.agg(count(lit(1)).as("n_docs"),
          sum(when(col("mh"), 1L).otherwise(0L)).as("moved_hrw"),
          sum(when(col("mn"), 1L).otherwise(0L)).as("moved_naive"))
        .selectExpr("n_docs", "moved_hrw", "moved_naive",
          "(2 * 1000000 * moved_hrw + n_docs) div (2 * n_docs)" +
            " AS moved_hrw_x1e6",
          "(2 * 1000000 * moved_naive + n_docs) div (2 * n_docs)" +
            " AS moved_naive_x1e6")
        .selectExpr("*", "moved_hrw_x1e6 <= 80000 AS hrw_bound_ok",
          "moved_naive_x1e6 >= 800000 AS naive_excess_ok")
    },

    // LSH threshold-sweep tuning curve (round 12) — dedup_recall
    // answers "is the 0.5-designed index good enough?"; THIS answers
    // the tuning question behind it: how does the SAME banded index's
    // recall move as the true-duplicate bar rises (J ≥ 0.5 / 0.6 /
    // 0.7 / 0.8 — the curve Leskovec et al. ch.3 derive from the
    // band S-curve, measured here against the EXACT join instead of
    // the theory). One exact join at the loosest threshold keeps the
    // per-pair (ni, nu) cardinalities (similarityJoinCounts), so
    // every stricter cut is a map-side integer re-filter — the sweep
    // costs ONE join however many thresholds it reports. Recall per
    // threshold as a HALF_UP 1e6 cell. 100 TB shape: dedup_recall's
    // envelope (prefix-filtered exact join + banded LSH), plus four
    // broadcast-sized aggs off one checkpointed pair frame.
    "dedup_threshold_sweep" -> { (s, d) =>
      val corpus = withNearDups(Tables.documents(s, d))
      val exact = Dedup.similarityJoinCounts(corpus, col("doc_id"),
          col("text"), thrNum = 1, thrDen = 2)
        .localCheckpoint(true)
      val lsh = Dedup.minhashPairs(corpus, col("doc_id"), col("text"), 0.5)
        .select(col("doc_a"), col("doc_b"), lit(1L).as("hit"))
        .localCheckpoint(true)
      val marked = exact.join(lsh, Seq("doc_a", "doc_b"), "left")
        .withColumn("hit", coalesce(col("hit"), lit(0L)))
        .localCheckpoint(true)
      // Zero-pair guard (round-13 advice): a threshold level with no
      // exact pairs (a thin corpus) must surface as a VISIBLE
      // (thr, 0, 0, 0) row on both sides, not as a Spark null-recall
      // row the oracle's join silently drops (a row-count mismatch
      // that reads like an oracle bug). coalesce pins n_hit over the
      // empty agg; the recall cell is defined 0 when n_exact = 0.
      Seq((50L, 1, 2), (60L, 3, 5), (70L, 7, 10), (80L, 4, 5))
        .map { case (pct, num, den) =>
          marked.filter(col("ni") * den >= col("nu") * num)
            .agg(count(lit(1)).as("n_exact"),
              coalesce(sum(col("hit")), lit(0L)).as("n_hit"))
            .select(lit(pct).as("thr_x100"), col("n_exact"), col("n_hit"))
        }
        .reduce(_ unionByName _)
        .selectExpr("thr_x100", "n_exact", "n_hit",
          "CASE WHEN n_exact > 0 THEN " +
            "(2 * 1000000 * n_hit + n_exact) div (2 * n_exact) " +
            "ELSE 0L END AS recall_x1e6")
    },

    // Content-defined chunking (round 12) — the STORAGE-dedup
    // complement to shingle near-dup (LBFS, Muthitacharoen et al.
    // SOSP 2001; FastCDC, Xia et al. ATC 2016): a chunk boundary
    // falls AFTER char p wherever the rolling 8-char window hashes
    // to 0 mod 64 (expected ~64-char chunks), so boundaries derive
    // from CONTENT — an insertion shifts every fixed-width chunk but
    // CDC boundaries realign at the first post-edit cut. The query
    // PROVES that: every even doc gets a copy with a 22-char
    // preamble inserted, and both chunkings' shared-chunk counts are
    // computed — CDC recovers nearly all chunks, fixed-64 recovers
    // ~none (gate: cdc_shared > 10·fixed_shared). Dedup accounting
    // (distinct-hash chunk count + bytes) rides the same frame.
    // 100 TB shape (round 14): cut positions come from the CdcCuts
    // codegen kernel — the whole cut array in ONE eval per doc, so
    // cut+slice run map-side on the scan and the corpus text never
    // crosses an exchange (the earlier relational derivation exploded
    // one row PER CHARACTER through a groupBy — the DuckDB oracle
    // still replays exactly that form, and CdcCutsSpec pins kernel ≡
    // relational); chunk frames are (doc, md5, len) fixed-width rows.
    "cdc_chunks" -> { (s, d) =>
      val CopyOff = 17000000000L
      val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val copies = base.filter(pmod(col("doc_id"), lit(2L)) === 0)
        .select((col("doc_id") + CopyOff).as("doc_id"),
          concat(lit("preamble insert block "), col("text")).as("text"))
      val corpus = base.unionByName(copies)
        .withColumn("len", length(col("text")).cast("long"))
        .filter(col("len") >= 8L)
        .localCheckpoint(true)
      val cdc = corpus
        .select(col("doc_id"), col("text"),
          graft.ext.expr.CdcCuts.cdcCuts(col("text"), 8, 64L).as("cps"))
        .select(col("doc_id"), explode(expr(
          """transform(sequence(1, size(cps)), i -> substr(text,
            |  CAST((CASE WHEN i = 1 THEN 0L
            |        ELSE element_at(cps, i - 1) END) + 1 AS INT),
            |  CAST(element_at(cps, i) -
            |    (CASE WHEN i = 1 THEN 0L
            |     ELSE element_at(cps, i - 1) END) AS INT)))"""
            .stripMargin)).as("ct"))
        .select(col("doc_id"), md5(col("ct").cast("binary")).as("h"),
          length(col("ct")).cast("long").as("clen"))
        .localCheckpoint(true)
      val fixed = corpus
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0L, (len - 1) div 64), " +
            "k -> substr(text, CAST(64 * k + 1 AS INT), 64))")).as("ct"))
        .select(col("doc_id"), md5(col("ct").cast("binary")).as("h"))
      def shared(ch: DataFrame, nm: String): DataFrame = {
        val cop = ch.filter(col("doc_id") >= CopyOff)
          .select((col("doc_id") - CopyOff).as("od"), col("h")).distinct()
        val org = ch.filter(col("doc_id") < CopyOff)
          .select(col("doc_id").as("od"), col("h")).distinct()
        cop.join(org, Seq("od", "h")).agg(count(lit(1)).as(nm))
      }
      val uniq = cdc.groupBy(col("h")).agg(max(col("clen")).as("clen"))
      corpus.agg(count(lit(1)).as("n_docs"))
        .crossJoin(broadcast(cdc.agg(count(lit(1)).as("n_chunks_cdc"),
          sum(col("clen")).as("total_chars"))))
        .crossJoin(broadcast(uniq.agg(count(lit(1)).as("n_unique_cdc"),
          sum(col("clen")).as("unique_chars"))))
        .crossJoin(broadcast(shared(cdc, "cdc_shared")))
        .crossJoin(broadcast(shared(fixed, "fixed_shared")))
        .withColumn("cdc_resilient",
          col("cdc_shared") > col("fixed_shared") * 10)
    },

    // EXACT containment join (round 9) — pairs where the smaller
    // shingle set is ≥ 9/10 inside the larger: the quote/excerpt
    // detector Jaccard thresholds cannot see (a 50-shingle excerpt in
    // a 5000-shingle doc has J ≈ 0.01 but containment 1.0). Same
    // prefix-filter machinery as simjoin_ngram, lemma applied to the
    // smaller set probing the full index; brute-force oracle re-proves
    // candidate completeness at every SF.
    "containment_join" -> { (s, d) =>
      Dedup.containmentJoin(withNearDups(Tables.documents(s, d)),
        col("doc_id"), col("text"), thrNum = 9, thrDen = 10)
    },

    // Cross-document repeated-substring scoring (round 8; Lee et al.
    // 2022 motivate EXACT substring dedup as the complement to
    // fingerprint near-dup: verbatim boilerplate passages recur across
    // otherwise-distinct documents). Hash every 8-token window, count
    // occurrences corpus-wide, score each doc by its duplicated-window
    // fraction (HALF_UP at 1e6 scale, exact integers throughout). The
    // near-dup corpus guarantees true cross-doc repeats exist.
    // Shape at 100 TB: windows are (doc_id, 60-bit hash) rows — ~one
    // per token, nothing wider ever shuffles; the per-hash count agg
    // and the count join share the hash partitioning (exchange reuse);
    // the doc rollup is the only other exchange. All linear.
    "substring_dedup" -> { (s, d) =>
      val docs = Dedup.rebalance(withNearDups(Tables.documents(s, d)))
      // wins feeds two consumers (per-hash counts, the count join) —
      // materialize the exploded window frame once (the tf convention
      // in unigram_logprob/dsir_weights). Window hashing is the
      // ShingleMd5 codegen kernel: one JVM call per doc, identical
      // bits to md5Hash60 over the joined window (spec-pinned); the
      // interpreted HOF form was the whole stage cost (SCALE.md r8).
      val wins = docs.select(col("doc_id"),
          explode(graft.ext.expr.ShingleMd5.shingleMd5(
            TextOps.tokens(lower(col("text"))), 8)).as("h"))
        .localCheckpoint(true)
      val hc = wins.groupBy(col("h")).agg(count(lit(1)).as("n"))
      wins.join(hc, "h")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_windows"),
          sum(when(col("n") > 1, 1L).otherwise(0L)).as("dup_windows"))
        .selectExpr("doc_id", "n_windows", "dup_windows",
          "(2 * 1000000 * dup_windows + n_windows) div (2 * n_windows) AS dup_frac_x1e6")
    },

    // Duplicated-span REMOVAL (round 11) — substring_dedup SCORES
    // repeated 8-token windows; this is the rewrite Lee et al. 2022
    // deploy: keep each duplicated window's first occurrence (min
    // (doc_id, pos) — deterministic, hash-oracle-able), excise every
    // later one, merge overlapping excisions (gaps-and-islands), and
    // re-join the survivors into scrubbed text. The near-dup corpus
    // guarantees real cross-doc repeated passages, so whole planted
    // spans vanish from the copies while the originals keep them.
    // Shape at 100 TB: see ext.SubstringScrub — window rows are (doc,
    // pos, hash), the keep rule is one min-struct agg per hash, the
    // islands window rides only the duplicated occurrences, and
    // reconstruction is a map-side indexed filter per doc row.
    "substring_scrub" -> { (s, d) =>
      SubstringScrub.scrub(
        Dedup.rebalance(withNearDups(Tables.documents(s, d))),
        col("doc_id"), col("text"), w = 8)
    },

    // Incremental dedup (round 6) — the daily-increment shape: a new
    // batch (near-dup copies of every 5th doc that SHOULD match +
    // token-reversed copies of every 7th that should NOT — reversal
    // destroys every 3-gram shingle) probed against the corpus
    // signature table via Dedup.incrementalPairs: corpus never
    // shuffles, the batch band table broadcasts. The localCheckpoints
    // stand in for the persisted signature tables a production run
    // reads instead of recomputing.
    "dedup_incremental" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val toks = TextOps.tokens(col("text"))
      val nearD = docs.filter(col("doc_id") % 5 === 0).select(
        (col("doc_id") + NearDupOffset).as("doc_id"),
        concat_ws(" ",
          slice(toks, lit(1), greatest(size(toks) - 3, lit(1)))).as("text"))
      val novel = docs.filter(col("doc_id") % 7 === 0).select(
        (col("doc_id") + 2 * NearDupOffset).as("doc_id"),
        concat_ws(" ", reverse(toks)).as("text"))
      val cs = Dedup.minhashSignatures(docs, col("doc_id"), col("text"))
        .localCheckpoint(true)
      val bs = Dedup.minhashSignatures(nearD.unionByName(novel),
        col("doc_id"), col("text")).localCheckpoint(true)
      Dedup.incrementalPairs(cs, bs, threshold = 0.5)
    },

    // Dedup groups: MinHash candidate pairs collapsed to connected
    // components (GraphX Pregel) — each document with its canonical
    // group id and the group's size (what a pipeline keeps: one
    // representative per group).
    "dedup_groups" -> { (s, d) =>
      val pairs = Dedup.minhashPairs(withNearDups(Tables.documents(s, d)),
        col("doc_id"), col("text"), threshold = 0.5)
      val groups = Dedup.dedupGroups(pairs, col("doc_a"), col("doc_b"))
      groups.groupBy(col("group").as("group_id"))
        .agg(count(lit(1)).as("group_size"),
          min(col("node")).as("keep_doc_id"))
        .filter(col("group_size") >= 2)
    },

    // Same grouping, GraphX-free path: iterative min-label propagation
    // in pure DataFrames (for sessions without GraphX on the classpath).
    // Shares `groupsOracle` with dedup_groups — both CC implementations
    // are held to the identical DuckDB WITH RECURSIVE answer.
    "dedup_groups_df" -> { (s, d) =>
      val pairs = Dedup.minhashPairs(withNearDups(Tables.documents(s, d)),
        col("doc_id"), col("text"), threshold = 0.5)
      val groups = Dedup.dedupGroupsDF(pairs, col("doc_a"), col("doc_b"))
      groups.groupBy(col("group").as("group_id"))
        .agg(count(lit(1)).as("group_size"),
          min(col("node")).as("keep_doc_id"))
        .filter(col("group_size") >= 2)
    },

    // End-to-end near-dup removal — the dedup family's capstone: LSH
    // candidate pairs → connected components → drop every non-canonical
    // group member, emit the deduplicated corpus. The loser set is the
    // CC output (tiny relative to the corpus at any scale), so the
    // final anti-join broadcasts it against the document scan — the
    // corpus itself is never shuffled.
    "dedup_corpus" -> { (s, d) =>
      val docs = withNearDups(Tables.documents(s, d))
      val pairs = Dedup.minhashPairs(docs, col("doc_id"), col("text"),
        threshold = 0.5)
      val groups = Dedup.dedupGroups(pairs, col("doc_a"), col("doc_b"))
      val losers = groups.filter(col("node") =!= col("group"))
        .select(col("node").as("doc_id"))
      docs.join(losers, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), length(col("text")).cast("long").as("text_len"))
    },

    // Group-aware train/val/test split + leakage audit (round 12) —
    // the eval-hygiene op every training pipeline needs between dedup
    // and packing (the contamination literature's sibling problem:
    // Lee et al. 2022 §6 show near-dups straddling a split inflate
    // held-out metrics): every doc's SPLIT KEY is its near-dup group
    // canonical (itself when ungrouped), and the 8-bucket md5 split
    // (6/1/1 train/val/test) hashes the KEY — so a whole near-dup
    // group lands in one split BY CONSTRUCTION. The audit does not
    // assume it: per-split doc/group counts cross-join two COMPUTED
    // leak cells — groups straddling splits under this keyed
    // assignment (must be 0) and under the naive doc-id hash split
    // (must be > 0 on the planted near-dup corpus: a group's copy
    // and original hash independently, so ~7/8 of multi-doc groups
    // straddle — the cell proves the audit ENGAGES, the retrieval_ndcg
    // pinned-comparison convention). 100 TB shape: the CC output
    // covers only paired nodes (loser-sized), so the key join
    // broadcasts; assignment is one map-side md5; the audit rides
    // the group-keyed frame, never raw text.
    "split_leakage" -> { (s, d) =>
      val docs = withNearDups(Tables.documents(s, d))
      val pairs = Dedup.minhashPairs(docs, col("doc_id"), col("text"),
        threshold = 0.5)
      val groups = Dedup.dedupGroups(pairs, col("doc_a"), col("doc_b"))
      val keyed = docs.select(col("doc_id"))
        .join(broadcast(groups.withColumnRenamed("node", "doc_id")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("group"), col("doc_id")).as("split_key"))
        .localCheckpoint(true)
      def splitOf(bucket: Column): Column =
        when(bucket <= 5, "train").when(bucket === 6, "val")
          .otherwise("test")
      val assigned = keyed
        .withColumn("split", splitOf(pmod(Dedup.md5Hash60(
          concat(lit("split:"), col("split_key"))), lit(8L))))
        .withColumn("naive", splitOf(pmod(Dedup.md5Hash60(
          concat(lit("split:"), col("doc_id"))), lit(8L))))
      val perKey = assigned.groupBy(col("split_key"))
        .agg(countDistinct(col("split")).as("ns"),
          countDistinct(col("naive")).as("nn"))
      val leaks = perKey.agg(
        sum(when(col("ns") > 1, 1L).otherwise(0L)).as("n_leaky_grouped"),
        sum(when(col("nn") > 1, 1L).otherwise(0L)).as("n_leaky_naive"))
      assigned.groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("split_key")).as("n_groups"))
        .crossJoin(broadcast(leaks))
    },

    // End-to-end corpus-pipeline capstone (round 10) — the COMPOSITION
    // of the individually-gated stages in training-run order: quality
    // filter → URL dedup → exact-text dedup → MinHash near dedup (LSH
    // → CC) → decontamination (eval split out + ≥20%-contaminated
    // train docs out) → mixture sampling → sequence packing. Each
    // stage is separately oracled, but interface drift BETWEEN stages
    // is the bug class per-stage gates cannot catch — this gates the
    // chain: the packed table's offsets depend on the exact survivor
    // set per shard, so any stage regression hash-mismatches. Planted
    // artifacts give every stage real work (see ext.CorpusPipeline).
    "corpus_pipeline" -> { (s, d) =>
      graft.ext.CorpusPipeline.build(Tables.documents(s, d)).packed
    },

    // Incremental corpus refresh (round 12) — the production shape:
    // day N curates ONLY the increment (id tail + its plants + cross
    // re-fetch plants) against day-N−1's PERSISTED state tables (URL/
    // exact-key sets, signature table, CC labels, eval shingles,
    // survivor id-frame); the base corpus text is never rescanned and
    // never shuffled. The oracle is the FULL RECOMPUTE over base +
    // increment — bit-equality is the mv_refresh-style gate that the
    // incremental algebra (state probes, canonical-mapped cross CC,
    // eval-set extension, packing over the combined id-frame) loses
    // nothing. See CorpusPipeline.buildIncremental for the 100 TB
    // shape argument and the documented non-monotonic-cascade
    // fallback.
    "corpus_pipeline_incremental" -> { (s, d) =>
      // Day-N−1 state rides the per-JVM parquet fixture (round 14):
      // the first call builds + persists it, every later call (the
      // bench's round-robin passes, exactly like a real nightly) opens
      // the saved tables — so the recorded time measures the DAY-N
      // incremental run, not the scaffolding rebuild (VERDICT r13 #2).
      // Deterministic either way; Verify's one-shot call is identical
      // to the self-contained form.
      val docs = Tables.documents(s, d)
      graft.ext.CorpusPipeline.buildIncrementalStages(docs,
        graft.ext.CorpusPipeline.cachedPriorState(docs, d)).packed
    },

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
    "lake_time_travel" -> { (s, d) =>
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
    "lake_merge" -> { (s, d) =>
      val lake = ordersLake(s, d)
      Seq(3, 4).map { v =>
        lake.readAsOf(v)
          .agg(count(lit(1)).as("n_rows"),
            coalesce(sum(col("cents")), lit(0L)).as("sum_cents"))
          .select(lit(v.toLong).as("version"), col("n_rows"),
            col("sum_cents"))
      }.reduce(_ unionByName _)
    },

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
    "lake_cdc_feed" -> { (s, d) =>
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
    "lake_restore" -> { (s, d) =>
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
    "lake_mor_delete" -> { (s, d) =>
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
    "lake_mor_merge" -> { (s, d) =>
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
    "lake_str_prune" -> { (s, d) =>
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
    "lake_clone" -> { (s, d) =>
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
    "lake_cdf_history" -> { (s, d) =>
      val lake = ordersLake(s, d)
      lake.changesByVersion(-1, 7)
        .groupBy(col("_commit_version"), col("_change_type"))
        .agg(count(lit(1)).as("n_rows"),
          coalesce(sum(col("cents")), lit(0L)).as("sum_cents"))
    },

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
    "lake_bloom_point" -> { (s, d) =>
      val lake = ordersLake(s, d)
      Seq(1L, 7L, 42L, 999999999L).map { k =>
        lake.readWhere(7, Seq(EqualTo("o_custkey", k)))
          .agg(count(lit(1)).as("n_rows"),
            coalesce(sum(col("cents")), lit(0L)).as("sum_cents"))
          .select(lit(k).as("probe_custkey"), col("n_rows"),
            col("sum_cents"))
      }.reduce(_ unionByName _)
    },

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
    "lake_cdc_mv" -> { (s, d) =>
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
    "lake_partition_prune" -> { (s, d) =>
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
    "lake_null_prune" -> { (s, d) =>
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
    "lake_rename" -> { (s, d) =>
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
    "lake_generated" -> { (s, d) =>
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
    "lake_identity" -> { (s, d) =>
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
    "lake_sql_catalog" -> { (s, d) =>
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

    // SQL row-level DML (round 20): DELETE FROM / UPDATE / MERGE INTO
    // through the catalog (GraftDmlRule → Lake.deleteWhere/updateWhere/
    // merge — merge-on-read DV masks, zero rewrites). The final state
    // replays relationally; the MOR shape is asserted from the commit
    // log itself (a rewrite-shaped delete would flip the TRUE cells).
    "lake_sql_dml" -> { (s, d) =>
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

    // Nested additive evolution (round 20): the struct-widening tier
    // end-to-end — a metadata-only evolve commit (zero add/rm/dv lines,
    // read from the log), pre-evolution files null-filling the new
    // nested field, and the TWO read paths (DataFrame parquet clipping
    // vs the connector's recursive Group conversion) agreeing
    // row-for-row. The final aggregate replays relationally: even keys
    // predate the evolution (b NULL), odd keys carry b = cents.
    "lake_nested_evolve" -> { (s, d) =>
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

    // Keep-BEST dedup (round 5) — production near-dup removal keeps the
    // highest-quality member of each duplicate group, not the smallest
    // id: pairs → CC → join the (tiny) label set to per-doc quality →
    // one max_by per group. The corpus-sized quality frame is map-side
    // work on the scan; only the CC output (bounded by the duplicate
    // count) rides the broadcast join, so the corpus never shuffles.
    // Tie-break: equal 4-dp quality keeps the smaller doc_id, total in
    // both engines.
    "dedup_keep_best" -> { (s, d) =>
      val docs = withNearDups(Tables.documents(s, d))
      val pairs = Dedup.minhashPairs(docs, col("doc_id"), col("text"),
        threshold = 0.5)
      val groups = Dedup.dedupGroups(pairs, col("doc_a"), col("doc_b"))
      val toks = size(TextOps.tokens(col("text"))).cast("long")
      val len = length(col("text")).cast("long")
      val punct = TextOps.punctCount(col("text"))
      val quality = round(least(toks.cast("double") / 100.0, lit(1.0)) *
        (lit(1.0) - punct.cast("double") / len), 4)
      val q = docs.select(col("doc_id"), quality.as("quality"))
      q.join(broadcast(groups), q("doc_id") === groups("node"))
        .groupBy(col("group").as("group_id"))
        .agg(count(lit(1)).as("group_size"),
          max_by(col("doc_id"), struct(col("quality"), -col("doc_id")))
            .as("keep_doc_id"),
          max(col("quality")).as("best_quality"))
        .filter(col("group_size") >= 2)
    },

    "dedup_simhash" -> { (s, d) =>
      val sh = Dedup.simhash(withNearDups(Tables.documents(s, d)),
        col("doc_id"), col("text"))
      val a = sh.select(col("doc").as("doc_a"), col("simhash").as("sh_a"))
      val b = sh.select(col("doc").as("doc_b"), col("simhash").as("sh_b"))
      a.join(b, col("doc_b") === col("doc_a") + NearDupOffset)
        .select(col("doc_a"), col("doc_b"),
          Dedup.hamming(col("sh_a"), col("sh_b")).cast("long").as("hamming"))
        .filter(col("hamming") <= 16)
    },

    // Cohen's kappa (round 14) — chance-corrected agreement between
    // two deterministic quality raters (Cohen 1960; the label-quality
    // audit a multi-heuristic curation pipeline needs): rater A = the
    // C4-style QualityFilter rule chain, rater B = an independent
    // crisp integer rule (≥ 10 tokens AND punctuation ≤ 20% of
    // chars), both over the perturbed corpus so both label classes
    // and genuine disagreement exist. κ = (n·agree − Σ marginal
    // products) / (n² − Σ marginal products) — exact integers end to
    // end, sign-split HALF_UP 1e6 cell (κ < 0 = worse than chance).
    // One map-side labeling pass + a 4-cell aggregate.
    "cohens_kappa" -> { (s, d) =>
      val docs = perturbedCorpus(s, d)
      val toks = size(TextOps.tokens(col("text"))).cast("long")
      val labeled = docs.select(
        QualityFilter.keep(col("text")).as("a"),
        (toks >= 10L &&
          TextOps.punctCount(col("text")) * 5L <= length(col("text")))
          .as("b"))
      labeled.agg(count(lit(1)).as("n"),
          sum(when(col("a"), 1L).otherwise(0L)).as("a1"),
          sum(when(col("b"), 1L).otherwise(0L)).as("b1"),
          sum(when(col("a") === col("b"), 1L).otherwise(0L)).as("agree"))
        .selectExpr("n", "a1", "b1", "agree",
          "CAST(a1 AS DECIMAL(38,0)) * b1 + " +
            "CAST(n - a1 AS DECIMAL(38,0)) * (n - b1) AS pe2")
        .selectExpr("n", "a1", "b1", "agree",
          "CAST(CASE WHEN CAST(n AS DECIMAL(38,0)) * n - pe2 = 0 THEN 0" +
            " WHEN CAST(n AS DECIMAL(38,0)) * agree - pe2 >= 0 THEN" +
            " (2 * 1000000 * (CAST(n AS DECIMAL(38,0)) * agree - pe2)" +
            " + (CAST(n AS DECIMAL(38,0)) * n - pe2)) div" +
            " (2 * (CAST(n AS DECIMAL(38,0)) * n - pe2))" +
            " ELSE -((2 * 1000000 * (pe2 - CAST(n AS DECIMAL(38,0)) * agree)" +
            " + (CAST(n AS DECIMAL(38,0)) * n - pe2)) div" +
            " (2 * (CAST(n AS DECIMAL(38,0)) * n - pe2)))" +
            " END AS BIGINT) AS kappa_x1e6")
    },

    // MMR diversified re-ranking (round 14) — Carbonell & Goldstein
    // 1998, the retrieval-diversification operator the rerank family
    // lacked (rag_rerank re-scores, THIS trades relevance against
    // redundancy): greedily pick k = 10 of the top-30 relevance
    // candidates maximizing 7·rel − 3·maxsim (λ = 0.7 at denominator
    // 10, dropped — integer compares), where maxsim is the picked
    // set's best dot to the candidate. All similarity is the exact
    // milli-quantized integer dot (LongDot kernel on the scan); the
    // greedy runs DRIVER-SIDE on the 30-candidate model frame (the
    // kmeans/colbert collect discipline — selection state is 30×64
    // longs, never data), and the oracle replays it as TEN unrolled
    // argmax CTEs over the 30×30 dot matrix (the link_rank unrolled-
    // rounds convention — no recursion, both engines exact). Ties:
    // higher score then smaller vec_id, total. 100 TB shape: one scan
    // + TakeOrdered(30) is the only distributed work; MMR cost is
    // O(k·C) on the driver at any corpus size.
    "mmr_rerank" -> { (s, d) =>
      import s.implicits._
      val q = Tables.embeddings(s, d)
        .select(col("vec_id"),
          VectorOps.quantize1000(col("embedding").cast("array<double>"))
            .as("qv"))
        .localCheckpoint(true)
      val qvec = q.filter(col("vec_id") === 0)
        .select(col("qv")).head.getSeq[Long](0).toArray
      val cands = q.filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          graft.ext.expr.LongDot.longDot(col("qv"),
            typedLit(qvec.toSeq)).as("rel"), col("qv"))
        .orderBy(col("rel").desc, col("vec_id"))
        .limit(30)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1),
          r.getSeq[Long](2).toArray))
      def dot(a: Array[Long], b: Array[Long]): Long = {
        var i = 0; var acc = 0L
        while (i < a.length) { acc += a(i) * b(i); i += 1 }
        acc
      }
      val picked = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long, Long, Long)] // rank, id, rel, ms, score
      val remaining = scala.collection.mutable.ArrayBuffer(cands: _*)
      (1 to 10).foreach { rank =>
        val scored = remaining.map { case (id, rel, v) =>
          val ms = if (picked.isEmpty) 0L
            else picked.map(p => dot(v,
              cands.find(_._1 == p._2).get._3)).max
          (id, rel, ms, 7L * rel - 3L * ms)
        }
        val best = scored.minBy { case (id, _, _, sc) => (-sc, id) }
        picked += ((rank.toLong, best._1, best._2, best._3, best._4))
        remaining.remove(remaining.indexWhere(_._1 == best._1))
      }
      picked.toSeq
        .toDF("rank", "vec_id", "rel_dot", "maxsim_dot", "mmr_score")
    },

    // ---- similarity search --------------------------------------------
    "cosine_topk" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      VectorOps.bruteForceTopK(
        emb, col("vec_id"), col("embedding"),
        emb.filter(col("vec_id") === 0), col("embedding"), k = 10)
    },

    // Binary-quantization ANN (round 14) — the 1-bit-per-dim
    // compression production vector stores serve from (32× smaller
    // than int8; Hamming distance on packed words): each vector packs
    // to two 32-bit halves (bit d set iff the milli-quantized
    // coordinate is > 0), candidates shortlist by EXACT integer
    // Hamming distance (bit_count over XOR — two codegen'd words per
    // comparison), and the top-64 shortlist reranks with exact cosine.
    // The retrieve-then-rerank discipline of rag_rerank applied to the
    // vector index itself. Codes cover the first 64 dims — exactly the
    // corpus's embedding width; a wider model would raise the word
    // count (not a silent cap: coalesce only pads SHORTER vectors).
    // 100 TB shape: the scan ships 16 bytes per vector (not 256), the
    // shortlist is a TakeOrdered heap cut, and only 64 candidates ever
    // touch full-precision vectors.
    "ann_binary" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      def half(off: Int) = (0 until 32).map { j =>
        when(coalesce(element_at(col("q"), off + j + 1), lit(0L)) > 0,
          lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
      val codes = emb
        .select(col("vec_id"), col("embedding").as("v"),
          VectorOps.quantize1000(col("embedding")).as("q"))
        .select(col("vec_id"), col("v"), half(0).as("lo"), half(32).as("hi"))
        .localCheckpoint(true)
      val qc = codes.filter(col("vec_id") === 0)
        .select(col("v").as("qv"), col("lo").as("qlo"), col("hi").as("qhi"))
      val short = codes.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(qc))
        .select(col("vec_id"), col("v"), col("qv"),
          (bit_count(expr("lo ^ qlo")) + bit_count(expr("hi ^ qhi")))
            .cast("long").as("hamming"))
        .orderBy(col("hamming"), col("vec_id")).limit(64)
      short.select(col("vec_id"), col("hamming"),
          round(VectorOps.cosineFast(col("v"), col("qv")), 4).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id")).limit(10)
    },

    "embed_neardup" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val a = emb.select(col("vec_id").as("vec_a"), col("embedding").as("va"))
      val b = emb.select(col("vec_id").as("vec_b"), col("embedding").as("vb"))
      a.join(b, col("vec_b") === col("vec_a") + 1)
        .select(col("vec_a"), col("vec_b"),
          round(VectorOps.cosine(col("va"), col("vb")), 4).as("cos_sim"))
    },

    // SemDeDup-style semantic dedup (round 6; Abbas et al. 2023
    // motivate cluster-then-prune): embeddings → coarse clusters →
    // within-cluster near-dup pairs → drop all but the lowest id. Made
    // hash-oracle-able by keeping every decision in EXACT INTEGERS:
    // components quantize to milli-units, cluster assignment is argmin
    // integer squared-euclidean to 8 deterministically-chosen anchors
    // (lowest md5 hash — k-means centroids aren't cross-engine-
    // reproducible, hash-sampled anchors are), and the cos ≥ 0.9 test
    // runs as 100·dot² ≥ 81·‖a‖²·‖b‖² with dot > 0 — no float compares
    // anywhere. The corpus is near-orthogonal by construction, so the
    // query unions perturbed copies (+0.001 per component — the corpus
    // is unit-norm, so cos(v, v') ≈ 0.99997 — ids +100000)
    // of every 10th vector — the gate verifies true drops. 100 TB
    // shape: see Dedup.semanticDrops — anchors broadcast, cluster
    // sizes broadcast, oversized clusters re-anchor-split at
    // MaxSemCluster rows before the pair join (the semantic analog of
    // the LSH MaxBandBucket cap), mirrored in the oracle SQL.
    "semdedup" -> { (s, d) =>
      val base = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      val synth = base.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 100000L).as("vec_id"),
          transform(col("e"), x => x + lit(0.001)).as("e"))
      val corpus = base.unionByName(synth)
        .select(col("vec_id"), VectorOps.quantize1000(col("e")).as("q"))
      Dedup.semanticDrops(corpus)
    },

    "ann_lsh" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      VectorOps.lshTopK(
        emb, col("vec_id"), col("embedding"),
        emb.filter(col("vec_id") === 0), col("embedding"), k = 10)
    },

    // IVF-Flat ANN with a deterministic sampled coarse quantizer —
    // the hard-oracled IVF path (KMeans-trained ivfTopK keeps its
    // recall-bounded spec gate; trained centroids aren't
    // cross-engine-reproducible, sampled ones are).
    "ivf_topk" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      VectorOps.ivfFlatTopK(
        emb, col("vec_id"), col("embedding"),
        emb.filter(col("vec_id") === 0), col("embedding"), k = 10)
    },

    // Incremental ANN serving (round 12) — the index-side counterpart
    // of corpus_pipeline_incremental: day N's new vectors (the id
    // tail) are assigned to the day-N−1 PERSISTED routing table
    // (IVF-Flat centroids sampled from the BASE corpus only — frozen,
    // never retrained), and queries serve over base ∪ increment
    // through that same table. This is how a production vector index
    // absorbs a daily embedding drop: assignment is one map-side
    // expression per new vector (at 100 TB the increment writes into
    // the same bucket partitioning the base uses — no rebuild, no
    // base rescan); the probe path is unchanged. The oracle replays
    // the whole construction — base-only centroid sample, full-corpus
    // assignment against the frozen centroids, per-query 4-probe
    // routing, bucket-pruned cosine rerank.
    "ann_ivf_incremental" -> { (s, d) =>
      val k = 10; val nQ = 3
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").as("v"))
      val cut = emb.agg((max(col("vec_id")) * 4L).as("m"))
        .head().getLong(0) / 5L
      val base = emb.filter(col("vec_id") <= cut).localCheckpoint(true)
      val inc = emb.filter(col("vec_id") > cut).localCheckpoint(true)
      // day-N−1 state: the routing table, built from base only
      val cents = VectorOps.ivfFlatRouting(base)
      val full = base.unionByName(inc)
      (0 until nQ).map { qid =>
        val qv = base.filter(col("vec_id") === qid)
          .select(col("v").cast("array<double>"))
          .head().getSeq[Double](0).toArray
        VectorOps.ivfFlatTopKRouted(full, cents, qv, k)
          .select(lit(qid.toLong).as("query_id"), col("vec_id"),
            col("cos_sim"))
      }.reduce(_ unionByName _)
    },

    // ANN retrieval-quality gate (round 10) — recall@k of BOTH
    // approximate search paths (IVF-Flat sampled-centroid, IVF-PQ ADC
    // + exact rerank) against the exact CosineSim top-k, as an
    // error-bound-boolean oracle (the approx_distinct / hll pattern):
    // per-query hit counts reduce to TRUE-asserted bound cells
    // (recall ≥ 0.7 at k=10). The corpus PLANTS true neighbors — 10
    // perturbed copies (+0.0001·j) of each query vector, the semdedup
    // synth convention — because the raw synthetic embeddings are
    // near-orthogonal random vectors whose top-10 is barely
    // distinguishable from rank 11+ (measured: IVF 3-8/10, PQ 4-8/10
    // hits — bucket pruning cannot beat chance on structureless
    // data, and no real retrieval corpus is structureless). With
    // planted structure the gate measures the RETRIEVAL MACHINERY:
    // broken routing, a wrong codebook, or a collapsed rerank loses
    // the planted neighbors and drives hits below 7. Until now recall
    // was gated only by VectorOpsSpec at toy scale; this puts it
    // under the driver's hash gate at sf0.01 AND sf0.1. Shape: the
    // indexes build ONCE (routing table collected once — model-sized;
    // PQ codebook+codes derived once, checkpointed) and all nQ
    // queries probe them — the 100 TB serving shape, where per-query
    // cost is bucket-pruned scans and a 128-int LUT agg, never an
    // index rebuild.
    "ann_recall" -> { (s, d) =>
      val k = 10; val nQ = 5
      val raw = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
      val plant = raw.filter(col("vec_id") < nQ)
        .select(col("vec_id"), col("embedding"),
          explode(sequence(lit(1), lit(k))).as("j"))
        .select((lit(9000000L) + col("vec_id") * 100 + col("j")).as("vec_id"),
          transform(col("embedding"),
            x => (x + col("j") * lit(0.0001)).cast("float")).as("embedding"))
      val emb = raw.unionByName(plant).localCheckpoint(true)
      val base = emb.select(col("vec_id"), col("embedding").as("v"))
      val cents = VectorOps.ivfFlatRouting(base)
      val qcorpus = emb.select(col("vec_id"), VectorOps.quantize1000(
          col("embedding").cast("array<double>")).as("q"))
        .localCheckpoint(true)
      val (cb0, codes0) = VectorOps.pqIndex(qcorpus)
      val cb = cb0.localCheckpoint(true)
      val codes = codes0.localCheckpoint(true)
      val qvecs = emb.filter(col("vec_id") < nQ)
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1)
      val marked = qvecs.map { case (qid, qv) =>
        def mark(df: org.apache.spark.sql.DataFrame, m: String) =
          df.select(lit(qid).as("query_id"), col("vec_id"),
            lit(if (m == "ex") 1 else 0).as("ex"),
            lit(if (m == "iv") 1 else 0).as("iv"),
            lit(if (m == "pq") 1 else 0).as("pq"))
        mark(VectorOps.bruteForceTopK(emb, col("vec_id"), col("embedding"),
          emb.filter(col("vec_id") === qid), col("embedding"), k), "ex")
          .unionByName(mark(
            VectorOps.ivfFlatTopKRouted(base, cents, qv, k), "iv"))
          .unionByName(mark(VectorOps.pqAdcTopK(qcorpus, cb, codes,
            qcorpus.filter(col("vec_id") === qid), k), "pq"))
      }.reduce(_ unionByName _)
      marked
        .groupBy(col("query_id"), col("vec_id"))
        .agg(max(col("ex")).as("ex"), max(col("iv")).as("iv"),
          max(col("pq")).as("pq"))
        .groupBy(col("query_id"))
        .agg(sum(col("ex")).as("n_exact"),
          sum(col("ex") * col("iv")).as("ivf_hits"),
          sum(col("ex") * col("pq")).as("pq_hits"))
        .select(col("query_id"), col("n_exact"),
          (col("ivf_hits") >= lit(7L)).as("ivf_recall_ok"),
          (col("pq_hits") >= lit(7L)).as("pq_recall_ok"))
    },

    // Hybrid retrieval fusion (round 11) — lexical (tf-idf) and dense
    // (integer-L2 over milli-quantized embeddings) top-10 retrieval
    // fused by exact-integer reciprocal-rank fusion (ext.Retrieval;
    // Cormack et al. 2009). Plants make the recall bound REAL and the
    // cells pinnable at any SF: per query (5 synthetic query docs with
    // UNIQUE vocabulary, embeddings = corpus vec + 0.01), 3 LEX-ONLY
    // relevants (query text + extra tokens; negated embedding — dense
    // can never see them), 3 DENSE-ONLY (disjoint text; embedding
    // within 3 milli-units — lexical can never see them), 3 BOTH.
    // Unique query vocabulary means exactly 7 docs lexically match
    // (no corpus interference possible), and corpus embeddings are
    // near-orthogonal (closest corpus vector sits ~1e6 milli² away vs
    // the plants' ≤ ~2.5e3), so lex_hits = 6, dense_hits = 6 — and
    // the fused top-10 provably contains ALL NINE relevants (the 4
    // two-path docs outscore every single-path score ≥ S(7)+S(7) >
    // S(2); the 6 single-path plants hold ranks 2..7 of their lists,
    // beating the rank-8+ noise) — fused recall strictly ABOVE both
    // single paths, the ann_recall-style bound cell asserted TRUE.
    // 100 TB shape: lexical rides the (doc,term) tf frame with the
    // 100-term query set broadcast; dense is the brute-force kernel
    // over quantized vectors (swap in the IVF path at scale — fusion
    // only sees per-query top-k frames either way); fusion itself is
    // output-sized (see ext.Retrieval).
    "hybrid_rrf" -> { (s, d) =>
      val (lexRank, denseRank, fused) = hybridRankings(s, d)
      val isRel = col("doc_id") >= 9100000L && col("doc_id") < 9400000L
      def hits(r: DataFrame) = r.groupBy(col("query_id"))
        .agg(sum(when(isRel, 1L).otherwise(0L)))
      val lexH = hits(lexRank).toDF("query_id", "lex_hits")
      val denseH = hits(denseRank).toDF("query_id", "dense_hits")
      val fusedH = hits(fused).toDF("query_id", "fused_hits")
      lexH.join(denseH, "query_id").join(fusedH, "query_id")
        .select(col("query_id"), lit(9L).as("n_rel"), col("lex_hits"),
          col("dense_hits"), col("fused_hits"),
          (col("fused_hits") >= greatest(col("lex_hits"), col("dense_hits")))
            .as("fused_ok"))
    },

    // Retrieval-quality metric (round 11) — nDCG@10 over the three
    // hybrid paths: the standard graded-ranking metric (Järvelin &
    // Kekäläinen 2002) the recall cells of hybrid_rrf can't express
    // (nDCG rewards putting relevants EARLY, not just in the cutoff).
    // Binary gains over the planted relevant set; discount weights
    // floor(1e9·ln2/ln(r+1) + 0.5) — ten constants both engines
    // derive identically — summed per query and HALF_UP-normalized by
    // the ideal DCG of 9 relevants. The plant construction pins every
    // value (relevants hold ranks 2-7 of each single path, 2-10 of
    // the fused list — see hybrid_rrf), so the oracle asserts the
    // exact nDCG cells; fused strictly beats both single paths.
    // MRR + precision@5 (round 15) — the rank-position retrieval
    // metrics beside retrieval_ndcg's graded gain (MRR = where does
    // the FIRST relevant hit land; P@5 = how much of the early window
    // is relevant): over the same three per-query rankings (lexical,
    // dense, RRF-fused) and the same planted relevance set, so every
    // cell is pinned at any SF by the hybridRankings construction.
    // RR = HALF_UP(1e6 / first_relevant_rank) exact (0 when no
    // relevant doc ranks), P@5 an exact count. 100 TB shape: rides
    // hybridRankings' existing top-10 frames — three ≤50-row model
    // frames, map-side metric algebra.
    "mrr_prec_at_k" -> { (s, d) =>
      val (lexRank, denseRank, fused) = hybridRankings(s, d)
      val isRel = col("doc_id") >= 9100000L && col("doc_id") < 9400000L
      def stats(r: DataFrame, p: String) = r.groupBy(col("query_id"))
        .agg(min(when(isRel, col("rank"))).as("fr"),
          sum(when(isRel && col("rank") <= 5, 1L).otherwise(0L))
            .as(s"${p}_p5"))
        .selectExpr("query_id",
          s"CAST(coalesce((2 * 1000000 + fr) div (2 * fr), 0) AS BIGINT)" +
            s" AS ${p}_rr_x1e6", s"${p}_p5")
      stats(lexRank, "lex").join(stats(denseRank, "dense"), "query_id")
        .join(stats(fused, "fused"), "query_id")
    },

    "retrieval_ndcg" -> { (s, d) =>
      val (lexRank, denseRank, fused) = hybridRankings(s, d)
      val isRel = col("doc_id") >= 9100000L && col("doc_id") < 9400000L
      val w = floor(lit(1e9) * log(lit(2.0)) / log(col("rank") + lit(1.0))
        + lit(0.5)).cast("long")
      def dcg(r: DataFrame) = r.groupBy(col("query_id"))
        .agg(sum(when(isRel, w).otherwise(0L)))
      val idcg = (1 to 9)
        .map(r => math.floor(1e9 * math.log(2) / math.log(r + 1.0) + 0.5)
          .toLong).sum
      val l = dcg(lexRank).toDF("query_id", "lex_dcg")
      val dn = dcg(denseRank).toDF("query_id", "dense_dcg")
      val f = dcg(fused).toDF("query_id", "fused_dcg")
      l.join(dn, "query_id").join(f, "query_id")
        .selectExpr("query_id",
          s"(2 * 1000000 * lex_dcg + $idcg) div (2 * $idcg) AS lex_ndcg_x1e6",
          s"(2 * 1000000 * dense_dcg + $idcg) div (2 * $idcg) AS dense_ndcg_x1e6",
          s"(2 * 1000000 * fused_dcg + $idcg) div (2 * $idcg) AS fused_ndcg_x1e6")
        .withColumn("fused_best",
          col("fused_ndcg_x1e6") >
            greatest(col("lex_ndcg_x1e6"), col("dense_ndcg_x1e6")))
    },

    // RAG serving capstone (round 12) — the retrieval family chained
    // end-to-end the way corpus_pipeline chains curation: chunking
    // (chunk_docs' 64/48 token windows) → per-chunk vectors (parent
    // embedding quantized, chunk_idx offset IN INTEGER SPACE — no
    // cross-engine float arithmetic anywhere past the shared
    // quantize1000) → lexical tf-idf retrieval over chunk text (idf
    // weight the exact-integer (1e6·n_chunks) div df — the log-free
    // form, so the whole chain stays bit-exact) → dense exact
    // integer-L2 retrieval over chunk vectors → RRF fusion
    // (Retrieval.rrfFuse) → binary-gain nDCG@10 gate over the planted
    // relevant set. Any interface drift between two stages (a stride
    // change, a quantization change, a rank column off by one)
    // shifts retrieved chunk keys or metric cells and hash-fails the
    // full-recompute oracle. Plants per query (qid < 5, j 1..3):
    // lexical-only docs (146 tokens → 3 chunks, the 20 query terms
    // occupying exactly positions 97-116 so chunking placement is
    // load-bearing; vector -qq), dense-only docs (junk text; vector
    // qq + j), both (query terms + junk; vector qq + 2j). Relevance =
    // parent doc in a plant id range — chunk-level retrieval scored
    // doc-level, the standard RAG judgment. 100 TB shape: chunking
    // and chunk vectors ride the corpus scan (one checkpointed seam);
    // lexical is the (chunk, term) tf exchange with the 100-term
    // query set broadcast; dense is one broadcast-query map-side pass
    // (swap in the IVF probe at scale — fusion only sees per-query
    // top-10 frames); TopKPerKey bounded heaps everywhere; the
    // metric rides 10 rows per (query, path).
    "rag_pipeline" -> { (s, d) =>
      val nQ = 5; val k = 10
      val emb = Tables.embeddings(s, d)
      val qvec = VectorOps.quantize1000(col("embedding").cast("array<double>"))
      val qbase = emb.filter(col("vec_id") < nQ)
        .select(col("vec_id").as("qid"),
          transform(qvec, x => x + lit(10L)).as("qq"))
        .localCheckpoint(true)
      val qt = concat_ws(" ", transform(sequence(lit(1), lit(20)),
        i => concat(lit("hq"), col("qid"), lit("t"), i)))
      def junk(pfx: String, n: Int) = concat_ws(" ",
        transform(sequence(lit(1), lit(n)),
          kk => concat(lit(pfx), col("did"), lit("x"), kk)))
      val withJ = qbase.select(col("qid"), col("qq"),
        explode(sequence(lit(1), lit(3))).as("j"))
      // --- planted docs (text side) ---
      val lexD = withJ
        .select(col("qid"), (lit(9100000L) + col("qid") * 10 + col("j")).as("did"))
        .select(col("did").as("doc_id"),
          concat(junk("zj", 96), lit(" "), qt, lit(" "), junk("zk", 30)).as("text"))
      val denseD = withJ
        .select(col("qid"), (lit(9200000L) + col("qid") * 10 + col("j")).as("did"))
        .select(col("did").as("doc_id"), junk("zd", 10).as("text"))
      val bothD = withJ
        .select(col("qid"), (lit(9300000L) + col("qid") * 10 + col("j")).as("did"))
        .select(col("did").as("doc_id"),
          concat(qt, lit(" "), junk("zb", 5)).as("text"))
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        .unionByName(lexD).unionByName(denseD).unionByName(bothD)
      // --- parent vectors (integer space) ---
      val lexV = withJ.select(
        (lit(9100000L) + col("qid") * 10 + col("j")).as("doc_id"),
        transform(col("qq"), x => -x).as("q"))
      val denseV = withJ.select(
        (lit(9200000L) + col("qid") * 10 + col("j")).as("doc_id"),
        transform(col("qq"), x => x + col("j")).as("q"))
      val bothV = withJ.select(
        (lit(9300000L) + col("qid") * 10 + col("j")).as("doc_id"),
        transform(col("qq"), x => x + col("j") * 2).as("q"))
      val pvecs = emb.select(col("vec_id").as("doc_id"), qvec.as("q"))
        .unionByName(lexV).unionByName(denseV).unionByName(bothV)
      // --- stage 1: chunking (the chunk_docs operator), ONE seam ---
      val chunks = Packing.chunkTokens(docs, col("doc_id"),
          TextOps.tokens(lower(col("text"))), chunkLen = 64, stride = 48)
        .select(col("doc_id"), col("chunk_idx"), col("chunk_text"))
        .localCheckpoint(true)
      val ckey = (col("doc_id") * 1000 + col("chunk_idx")).as("ckey")
      // --- stage 2: per-chunk vectors (parent q + chunk_idx) ---
      val cvecs = chunks.join(pvecs, "doc_id")
        .select(ckey, transform(col("q"), x => x + col("chunk_idx")).as("q"))
      // --- stage 3a: lexical tf-idf over chunk text ---
      // Round-20 shape: the scored rows only involve the query's ≤ 100
      // terms, so the broadcast probe moves BEFORE the (chunk, term)
      // exchange (guide §2.3) — no chunk-corpus-scale tf checkpoint.
      // df per query term re-derives exactly off the probed rows
      // (query vocabulary is qid-unique by construction), and Σ tf·w ≡
      // summing w per matched token instance.
      val ctoks = chunks
        .select(ckey, explode(TextOps.tokens(col("chunk_text"))).as("term"))
      val qterms = qbase.select(col("qid"),
        explode(split(qt, " ")).as("term"))
      val qtf = ctoks.join(broadcast(qterms), "term")
        .groupBy(col("qid"), col("ckey"), col("term"))
        .agg(count(lit(1)).as("tf"))
        .localCheckpoint(true)
      // df as distinct chunks per term — see hybridRankings' dfreq
      // note (ADVICE r20): row count ≡ chunk frequency only while
      // query vocabularies are qid-unique.
      val dfreq = qtf.groupBy(col("term"))
        .agg(countDistinct(col("ckey")).as("df"))
      val totals = chunks.agg(count(lit(1)).as("n_chunks"))
      val lexScored = qtf
        .join(broadcast(dfreq), "term")
        .crossJoin(broadcast(totals))
        .groupBy(col("qid").as("query_id"), col("ckey"))
        .agg(sum(col("tf") *
          expr("(1000000 * n_chunks) div df")).as("score"))
      val wq = Window.partitionBy("query_id")
      val lexRank = graft.plans.TopKPerKey.perKey(lexScored,
          keys = Seq(col("query_id")),
          order = Seq(col("score").desc, col("ckey")), k = k)
        .select(col("query_id"), col("ckey").as("doc_id"),
          row_number().over(wq.orderBy(col("score").desc, col("ckey")))
            .as("rank"))
      // --- stage 3b: dense exact integer-L2 over chunk vectors ---
      val denseScored = cvecs.crossJoin(
          broadcast(qbase.select(col("qid"), col("qq"))))
        .select(col("qid").as("query_id"), col("ckey").as("doc_id"),
          VectorOps.idist2(col("q"), col("qq")).as("d2"))
      val denseRank = graft.plans.TopKPerKey.perKey(denseScored,
          keys = Seq(col("query_id")),
          order = Seq(col("d2"), col("doc_id")), k = k)
        .select(col("query_id"), col("doc_id"),
          row_number().over(wq.orderBy(col("d2"), col("doc_id"))).as("rank"))
      // --- stage 4: RRF fusion; stage 5: nDCG@10 gate ---
      val fused = Retrieval.rrfFuse(Seq(lexRank, denseRank), k = k)
        .withColumn("rank", row_number().over(
          wq.orderBy(col("rrf_x1e12").desc, col("doc_id"))))
        .localCheckpoint(true)
      val isRel = col("doc_id") >= 9100000L * 1000 &&
        col("doc_id") < 9400000L * 1000
      // Discount weights floor(1e9·ln2/ln(r+1)+0.5) precomputed as ten
      // literals (injected into BOTH engines from this one list — the
      // oracle is a full recompute here, so runtime ln() on each side
      // would gamble on cross-engine libm rounding).
      val wArr = RagNdcgWeights
      val w = element_at(typedLit(wArr), col("rank").cast("int"))
      val idcg = wArr.sum
      def ndcg(r: DataFrame, nm: String) = r.groupBy(col("query_id"))
        .agg(sum(when(isRel, w).otherwise(0L)).as("dcg"))
        .selectExpr("query_id",
          s"(2 * 1000000 * dcg + $idcg) div (2 * $idcg) AS $nm")
      val cells = ndcg(lexRank, "lex_ndcg_x1e6")
        .join(ndcg(denseRank, "dense_ndcg_x1e6"), "query_id")
        .join(ndcg(fused, "fused_ndcg_x1e6"), "query_id")
      // split ckey back into (parent doc, chunk) BEFORE the renaming
      // select — a one-step select would resolve the later col
      // references to the fresh "doc_id" alias (the quote-plant
      // lateral-alias lesson).
      fused.join(broadcast(cells), "query_id")
        .withColumn("parent_doc", expr("doc_id div 1000"))
        .withColumn("cidx", pmod(col("doc_id"), lit(1000L)))
        .withColumn("rel", isRel)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("parent_doc").as("doc_id"), col("cidx").as("chunk_idx"),
          col("rrf_x1e12"), col("n_paths"), col("rel").as("is_rel"),
          col("lex_ndcg_x1e6"), col("dense_ndcg_x1e6"),
          col("fused_ndcg_x1e6"),
          (col("fused_ndcg_x1e6") >= greatest(col("lex_ndcg_x1e6"),
            col("dense_ndcg_x1e6"))).as("fused_ok"))
    },

    // Late-interaction retrieval (round 12) — ColBERT's MaxSim
    // scoring (Khattab & Zaharia, SIGIR 2020): instead of one vector
    // per document, every TOKEN carries a vector, and
    // score(q, d) = Σ_{qt ∈ q} max_{dt ∈ d} ⟨v(qt), v(dt)⟩ — each
    // query token finds its best-matching document token. The missing
    // retrieval family between pure-lexical (term equality) and
    // pure-dense (one doc vector): soft term matching with per-token
    // granularity. Token vectors here are md5-derived 8-dim integers
    // (dim k of token t = md5Hash60(t':'k) % 201 − 100), so every dot
    // product and the whole ranking is exact-integer and the oracle
    // replays it fully. Plants per query (3 queries × j 1..3): docs
    // carrying the query's 4 tokens verbatim, whose per-token best is
    // ≥ the self-dot |v(qt)|² by construction — a deterministic FLOOR
    // anchoring the score scale (with unnormalized random vectors a
    // large vocabulary's best soft match can legitimately exceed the
    // self-dot — real ColBERT normalizes; the ranking either way is
    // exact and fully oracled, and is_planted records the outcome
    // rather than assuming it). 100 TB shape:
    // the expensive pass (token-vector dot products) rides the
    // DISTINCT vocabulary with the 12-token query set broadcast —
    // O(vocab · |q|) — never the corpus; the (doc, term) incidence
    // frame joins the scored vocab and two hash aggs (max per
    // (query, doc, qt), sum per (query, doc)) feed TopKPerKey bounded
    // heaps. A real deployment swaps the md5 vectors for learned ones
    // stored by token id — the plan shape is identical.
    "colbert_maxsim" -> { (s, d) =>
      val nQ = 3; val k = 5
      def tokVec(t: Column): Column = transform(sequence(lit(0), lit(7)),
        kk => pmod(Dedup.md5Hash60(concat(t, lit(":"), kk)), lit(201L))
          - 100L)
      // planted docs: the query's 4 tokens + 6 junk tokens
      val qids = Tables.embeddings(s, d).filter(col("vec_id") < nQ)
        .select(col("vec_id").as("qid"))
      val qt = transform(sequence(lit(1), lit(4)),
        i => concat(lit("cq"), col("qid"), lit("t"), i))
      val withJ = qids.select(col("qid"),
        explode(sequence(lit(1), lit(3))).as("j"))
      val plantD = withJ
        .select(col("qid"), (lit(9500000L) + col("qid") * 10 + col("j"))
          .as("did"))
        .select(col("did").as("doc_id"),
          concat(concat_ws(" ", qt), lit(" "),
            concat_ws(" ", transform(sequence(lit(1), lit(6)),
              kk => concat(lit("cx"), col("did"), lit("x"), kk))))
            .as("text"))
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        .unionByName(plantD)
      // (doc, term) token stream — NOT distinct'd (round 20): MaxSim's
      // per-(doc, qterm) max is idempotent over duplicate tokens, so
      // the old corpus-token-scale distinct exchange + eager cache
      // bought nothing the partial max aggregate doesn't already do
      // map-side. Tokenization recomputes once per consumer off the
      // scan (map-side, cheap); the only token-scale exchange left is
      // the partial-agged per-(qid, doc, qterm) max.
      val toks = docs.select(col("doc_id"),
        explode(TextOps.tokens(lower(col("text")))).as("term"))
      // score the DISTINCT vocabulary against the 12 query tokens
      val vocab = toks.select(col("term")).distinct()
        .withColumn("tv", tokVec(col("term")))
      val qterms = qids
        .select(col("qid"), explode(qt).as("qterm"))
        .withColumn("qv", tokVec(col("qterm")))
      val dots = vocab.join(broadcast(qterms))
        .select(col("qid"), col("qterm"), col("term"),
          VectorOps.idot(col("tv"), col("qv")).as("dot"))
      // max over the doc's tokens per query token, then sum over qts
      val perQt = toks.join(dots, "term")
        .groupBy(col("qid"), col("doc_id"), col("qterm"))
        .agg(max(col("dot")).as("best"))
      val scored = perQt.groupBy(col("qid").as("query_id"), col("doc_id"))
        .agg(sum(col("best")).as("maxsim"))
      graft.plans.TopKPerKey.perKey(scored, Seq(col("query_id")),
          Seq(col("maxsim").desc, col("doc_id")), k)
        .select(col("query_id"), col("doc_id"), col("maxsim"),
          (col("doc_id") >= 9500000L && col("doc_id") < 9600000L)
            .as("is_planted"))
    },

    // Retrieve-then-rerank (round 12) — the two-stage serving shape
    // every production retrieval stack converges on (Nogueira & Cho
    // 2019; ColBERT §1): a CHEAP recall stage (raw tf overlap with
    // the query terms, top-20) feeds an EXPENSIVE precision stage
    // (colbert_maxsim's late-interaction MaxSim) that rescores ONLY
    // the candidates — the rerank cost is O(k·|q|·vocab_cand), never
    // corpus-sized. The plants make the improvement COMPUTABLE, not
    // assumed: tf-inflated decoys (one query token repeated 12×)
    // out-score the true relevants (all 4 query tokens once) in
    // stage 1, and MaxSim — which maxes per DISTINCT query token —
    // demotes them, so rerank nDCG@5 > stage-1 nDCG@5 on the same
    // relevant set (rerank_ok records it, the retrieval_ndcg
    // convention). The candidate pool is graded three ways per
    // query: full-match relevants (all 4 query tokens once + junk,
    // tf 4), partial-match competitors (2 of 4 tokens ×3, tf 6) and
    // tf-inflated decoys (one token ×12) — stage 1 ranks them
    // decoys > partials > relevants, the reranker exactly inverts
    // that, and the margins are construction-deterministic (the
    // corpus vocabulary is deliberately disjoint from the synthetic
    // query tokens, so real docs flow through the same frames
    // without perturbing the graded cells — this corpus's tiny
    // shared vocabulary makes any corpus-anchored query degenerate).
    // Fully exact-integer; full-recompute oracle.
    "rag_rerank" -> { (s, d) =>
      val k = 5; val kCand = 20
      def tokVec(t: Column): Column = transform(sequence(lit(0), lit(7)),
        kk => pmod(Dedup.md5Hash60(concat(t, lit(":"), kk)), lit(201L))
          - 100L)
      val docsBase = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val qids = Tables.embeddings(s, d).filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"))
      val qterms = qids
        .select(col("qid"), explode(sequence(lit(1), lit(4))).as("i"))
        .select(col("qid"),
          concat(lit("rq"), col("qid"), lit("t"), col("i")).as("term"))
        .localCheckpoint(true)
      val qtext = qterms.groupBy(col("qid"))
        .agg(concat_ws(" ", sort_array(collect_list(col("term"))))
          .as("qtext"))
        .localCheckpoint(true)
      val plants = qtext
        .select(col("qid"), col("qtext"),
          explode(sequence(lit(1), lit(3))).as("j"))
        .select(col("qtext"),
          (lit(9700000L) + col("qid") * 10 + col("j")).as("did"))
        .select(col("did").as("doc_id"),
          concat(col("qtext"), lit(" "), concat_ws(" ",
            transform(sequence(lit(1), lit(6)),
              kk => concat(lit("rx"), col("did"), lit("x"), kk))))
            .as("text"))
      val partials = qtext
        .select(col("qid"), explode(sequence(lit(1), lit(2))).as("j"))
        .select((lit(9750000L) + col("qid") * 10 + col("j")).as("doc_id"),
          concat_ws(" ", concat(
            array_repeat(concat(lit("rq"), col("qid"), lit("t1")), 3),
            array_repeat(concat(lit("rq"), col("qid"), lit("t2")), 3)))
            .as("text"))
      val decoys = qtext
        .select(col("qid"), explode(sequence(lit(1), lit(2))).as("j"))
        .select((lit(9800000L) + col("qid") * 10 + col("j")).as("doc_id"),
          concat_ws(" ", array_repeat(
            concat(lit("rq"), col("qid"), lit("t1")), 12)).as("text"))
      val docs = docsBase.unionByName(plants).unionByName(partials)
        .unionByName(decoys)
      // Round-20 shape: no corpus-scale (doc, term) tf checkpoint.
      // Stage 1 only reads query-term-matched token rows (broadcast
      // probe before the exchange, guide §2.3 — Σ tf ≡ counting
      // matched instances); the rerank vocabulary only needs the ≤ 60
      // candidate docs' terms, re-derived by a broadcast id probe on
      // the token stream instead of a semi-join against cached
      // corpus-wide tf.
      val toks = Dedup.rebalance(docs).select(col("doc_id"),
        explode(TextOps.tokens(lower(col("text")))).as("term"))
      val s1 = toks.join(broadcast(qterms), "term")
        .groupBy(col("qid").as("query_id"), col("doc_id"))
        .agg(count(lit(1)).as("score1"))
      val wq = Window.partitionBy(col("query_id"))
      val cand = graft.plans.TopKPerKey.perKey(s1, Seq(col("query_id")),
          Seq(col("score1").desc, col("doc_id")), kCand)
        .withColumn("rank1", row_number().over(
          wq.orderBy(col("score1").desc, col("doc_id"))))
        .localCheckpoint(true)
      // ≤ kCand × nQ candidate ids by the TopK cut — bounded, broadcast
      val candInc = toks
        .join(broadcast(cand.select(col("doc_id")).distinct()), "doc_id")
        .select(col("doc_id"), col("term")).distinct()
        .localCheckpoint(true)
      val vocab = candInc.select(col("term")).distinct()
        .withColumn("tv", tokVec(col("term")))
      val qtv = qterms.select(col("qid"), col("term").as("qterm"))
        .withColumn("qv", tokVec(col("qterm")))
      // Normalization surrogate: real ColBERT scores cosine, where a
      // term's self-similarity is the attainable MAXIMUM; with
      // unnormalized md5 vectors a big candidate vocabulary's best
      // cross-dot can legitimately beat a self-dot (colbert_maxsim
      // records exactly that), which would let broad real docs bury
      // the true matches. So an EXACT term match pins to 8·100² =
      // 80000, the max any integer dot can reach — the cosine
      // self-max emulated in exact integers.
      val dots = vocab.join(broadcast(qtv))
        .select(col("qid"), col("qterm"), col("term"),
          when(col("term") === col("qterm"), lit(80000L))
            .otherwise(VectorOps.idot(col("tv"), col("qv"))).as("dot"))
      val perQt = candInc.join(dots, "term")
        .groupBy(col("qid"), col("doc_id"), col("qterm"))
        .agg(max(col("dot")).as("best"))
      val rr = perQt.groupBy(col("qid").as("query_id"), col("doc_id"))
        .agg(sum(col("best")).as("maxsim"))
        .join(cand.select(col("query_id"), col("doc_id")),
          Seq("query_id", "doc_id"))
      val rerank = rr.withColumn("rank", row_number().over(
          wq.orderBy(col("maxsim").desc, col("doc_id"))))
        .filter(col("rank") <= k).localCheckpoint(true)
      val isRel = col("doc_id") >= 9700000L && col("doc_id") < 9750000L
      val wArr = RagNdcgWeights.take(k)
      val idcg = wArr.sum
      def ndcg(r: DataFrame, rankCol: String, nm: String) =
        r.filter(col(rankCol) <= k).groupBy(col("query_id"))
          .agg(sum(when(isRel,
            element_at(typedLit(wArr), col(rankCol).cast("int")))
            .otherwise(0L)).as("dcg"))
          .selectExpr("query_id",
            s"(2 * 1000000 * dcg + $idcg) div (2 * $idcg) AS $nm")
      val cells = ndcg(cand, "rank1", "stage1_ndcg_x1e6")
        .join(ndcg(rerank, "rank", "rerank_ndcg_x1e6"), "query_id")
      rerank.join(broadcast(cells), "query_id")
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("doc_id"), col("maxsim"), isRel.as("is_rel"),
          col("stage1_ndcg_x1e6"), col("rerank_ndcg_x1e6"),
          (col("rerank_ndcg_x1e6") >= col("stage1_ndcg_x1e6"))
            .as("rerank_ok"))
    },

    // Pseudo-relevance-feedback query expansion (round 12) — RM3
    // (Lavrenko & Croft 2001; Abdul-Jaleel et al. 2004), the classic
    // fix for VOCABULARY MISMATCH: documents relevant to a query may
    // share none of its words. Stage 1 retrieves top-10 by tf
    // overlap; the top-3 feedback docs' highest-mass non-query terms
    // (top-2 by summed tf, term tiebreak) expand the query; stage 2
    // re-retrieves with the expanded term set. The plant construction
    // makes the recall gain computable: per query, 3 BRIDGE docs
    // carry the query terms plus two expansion terms, and 3 HIDDEN
    // relevants carry ONLY the expansion terms — stage 1 cannot reach
    // them (recall 3/6), stage 2 retrieves all six (recall 6/6), and
    // expansion_ok records recall2 > recall1. Synthetic tokens keep
    // the construction corpus-independent (rag_rerank's lesson);
    // corpus docs flow through every frame. 100 TB shape: both
    // retrieval passes are the (doc, term) tf exchange with ≤ 5
    // query terms broadcast + TopKPerKey; the feedback term-mass agg
    // rides 3 docs' terms.
    "query_expansion" -> { (s, d) =>
      val k = 10
      val qids = Tables.embeddings(s, d).filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"))
      val qterms = qids
        .select(col("qid"), explode(sequence(lit(1), lit(3))).as("i"))
        .select(col("qid"),
          concat(lit("pe"), col("qid"), lit("t"), col("i")).as("term"))
        .localCheckpoint(true)
      val qtoks = transform(sequence(lit(1), lit(3)),
        i => concat(lit("pe"), col("qid"), lit("t"), i))
      val etoks2 = flatten(transform(sequence(lit(1), lit(2)),
        e => array_repeat(concat(lit("pe"), col("qid"), lit("e"), e), 2)))
      val bridge = qids
        .select(col("qid"), explode(sequence(lit(1), lit(3))).as("j"))
        .select((lit(9850000L) + col("qid") * 10 + col("j")).as("doc_id"),
          concat_ws(" ", concat(qtoks, etoks2)).as("text"))
      val hidden = qids
        .select(col("qid"), explode(sequence(lit(1), lit(3))).as("j"))
        .select(col("qid"),
          (lit(9860000L) + col("qid") * 10 + col("j")).as("did"))
        .select(col("did").as("doc_id"),
          concat_ws(" ", concat(
            flatten(transform(sequence(lit(1), lit(2)),
              e => array_repeat(concat(lit("pe"),
                expr("(did - 9860000) div 10"), lit("e"), e), 2))),
            transform(sequence(lit(1), lit(4)),
              kk => concat(lit("px"), col("did"), lit("x"), kk))))
            .as("text"))
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        .unionByName(bridge).unionByName(hidden)
      // Round-20 shape: no corpus-scale (doc, term) tf checkpoint. Both
      // retrieval passes and the feedback-mass agg only ever read
      // query-term-matched or feedback-doc-bounded token rows, so the
      // broadcast filters move BEFORE any exchange (guide §2.3) and the
      // token stream re-derives map-side per consumer — Σ tf over
      // matched (doc, term) ≡ counting matched instances, exact.
      val toks = Dedup.rebalance(docs).select(col("doc_id"),
        explode(TextOps.tokens(lower(col("text")))).as("term"))
      val wq = Window.partitionBy(col("query_id"))
      def retrieve(terms: DataFrame): DataFrame =
        graft.plans.TopKPerKey.perKey(
          toks.join(broadcast(terms), "term")
            .groupBy(col("qid").as("query_id"), col("doc_id"))
            .agg(count(lit(1)).as("score")),
          Seq(col("query_id")), Seq(col("score").desc, col("doc_id")), k)
          .withColumn("rank", row_number().over(
            wq.orderBy(col("score").desc, col("doc_id"))))
      val cand1 = retrieve(qterms).localCheckpoint(true)
      // ≤ 3 feedback docs per query by the rank cut — bounded, broadcast
      val fb = cand1.filter(col("rank") <= 3)
        .select(col("query_id").as("qid"), col("doc_id"))
      val eterms = toks.join(broadcast(fb), "doc_id")
        .join(broadcast(qterms.select(col("term")).distinct()),
          Seq("term"), "left_anti")
        .groupBy(col("qid"), col("term")).agg(count(lit(1)).as("mass"))
        .withColumn("rn", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("mass").desc, col("term"))))
        .filter(col("rn") <= 2)
        .select(col("qid"), col("term"))
      val cand2 = retrieve(qterms.unionByName(eterms)).localCheckpoint(true)
      val rel = bridge.unionByName(hidden)
        .select(col("doc_id"),
          expr("""CASE WHEN doc_id >= 9860000 THEN (doc_id - 9860000) div 10
                |     ELSE (doc_id - 9850000) div 10 END""".stripMargin)
            .as("query_id"))
        .localCheckpoint(true)
      val nRel = rel.groupBy(col("query_id")).agg(count(lit(1)).as("n_rel"))
      def recall(cand: DataFrame, nm: String): DataFrame =
        cand.join(rel, Seq("query_id", "doc_id"), "left_semi")
          .groupBy(col("query_id")).agg(count(lit(1)).as("hit"))
          .join(nRel, "query_id")
          .selectExpr("query_id",
            s"(2 * 1000000 * hit + n_rel) div (2 * n_rel) AS $nm")
      recall(cand1, "recall1_x1e6")
        .join(recall(cand2, "recall2_x1e6"), "query_id")
        .join(nRel, "query_id")
        .join(eterms.groupBy(col("qid").as("query_id"))
          .agg(count(lit(1)).as("n_expansion")), "query_id")
        .select(col("query_id"), col("n_rel"), col("n_expansion"),
          col("recall1_x1e6"), col("recall2_x1e6"),
          (col("recall2_x1e6") > col("recall1_x1e6")).as("expansion_ok"))
    },

    // Percolation / reverse search (round 11) — the alerting
    // primitive (Elastic's percolator): STORED queries match against
    // the document stream instead of documents against a query. Ten
    // stored conjunctive queries derive deterministically from the
    // corpus (query q = the first 3 distinct tokens of doc 37·q); a
    // doc matches iff it contains ALL the query's terms. Shape: the
    // stored-query term table is tiny and BROADCAST into the one
    // (doc, term) distinct frame; the match test is a count-equals
    // rollup — the inverted-index-free form that rides any scan (at
    // alert-rule scale you'd flip to InvertedIndex postings).
    "percolate" -> { (s, d) =>
      // Round-20 shape: the stored-query definitions derive from 10
      // known doc ids (the filter pushes into the scan), and the match
      // test only needs the (doc, term) incidence of the ~30 stored
      // terms — so the broadcast probe moves BEFORE any exchange
      // (guide §2.3) and the old corpus-token-scale distinct + eager
      // cache disappears. The distinct runs on the probe-filtered
      // stream (stored-term rows only), so per-(query, doc) hits count
      // each term once exactly as before.
      val docs = Tables.documents(s, d)
      def toks(df: DataFrame) = df.select(col("doc_id"),
        explode(TextOps.tokens(lower(col("text")))).as("term"))
      val qdefs = toks(docs
          .filter(pmod(col("doc_id"), lit(37L)) === 0 && col("doc_id") < 370L))
        .distinct()
        .withColumn("rn", row_number().over(
          Window.partitionBy("doc_id").orderBy("term")))
        .filter(col("rn") <= 3)
        .select((col("doc_id") / 37L).cast("long").as("query_id"),
          col("term"))
        .localCheckpoint(true)
      val qsizes = qdefs.groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_terms"))
      toks(Dedup.rebalance(docs)).join(broadcast(qdefs), "term")
        .select(col("query_id"), col("doc_id"), col("term")).distinct()
        .groupBy(col("query_id"), col("doc_id"))
        .agg(count(lit(1)).as("hit"))
        .join(broadcast(qsizes), "query_id")
        .filter(col("hit") === col("n_terms"))
        .groupBy(col("query_id"), col("n_terms"))
        .agg(count(lit(1)).as("n_matching_docs"),
          min(col("doc_id")).as("first_match"))
    },

    // Entity-resolution clusters (round 11) — the composition
    // fuzzy_match stops short of: blocked-Levenshtein candidate pairs
    // → connected components → ONE canonical record per entity with
    // its variant count (the master-data-management "golden record"
    // rollup; Fellegi–Sunter lineage). Reuses fuzzy_match's synth
    // corpus (typo copies at lev 1) so clusters really form. Shape:
    // Fuzzy.blockedMatch is block-bounded (cap² per block); CC output
    // is pair-member-sized (coordinator/Pregel two-regime); the name
    // rollup joins the pool by id — nothing quadratic outside blocks.
    "fuzzy_clusters" -> { (s, d) =>
      val base = Tables.customer(s, d)
        .select(col("c_custkey").as("id"), col("c_name").as("name"))
      val synth = base.select((col("id") + 1000000L).as("id"),
        concat(substring(col("name"), 1, 10), lit("X"),
          expr("substring(name, 12)")).as("name"))
      val pool = base.unionByName(synth)
        .withColumn("blk", expr("substring(name, length(name) - 3, 4)"))
        .localCheckpoint(true)
      val pairs = Fuzzy.blockedMatch(pool, maxLev = 2)
      val groups = Dedup.dedupGroups(pairs, col("id_a"), col("id_b"))
      groups.join(pool.select(col("id").as("node"), col("name")), "node")
        .groupBy(col("group").as("entity_id"))
        .agg(count(lit(1)).as("cluster_size"),
          min_by(col("name"), col("node")).as("canonical_name"),
          countDistinct(col("name")).as("n_variants"))
        .filter(col("cluster_size") >= 2)
    },

    // Per-source corpus report (round 11) — the dataset-card rollup
    // (Gebru et al. datasheets; every serious corpus release ships
    // one): per source, volume (docs/tokens/mean chars), language
    // spread, exact-duplicate exposure (docs whose normalized text
    // recurs CORPUS-wide — cross-source copies count for both
    // sides), and the sub-5-token junk fraction, with HALF_UP
    // basis-point rates. One corpus scan into a checkpointed frame;
    // the only other exchange is the text-key dup count it shares
    // with the dedup family's shape.
    "corpus_report" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
          lower(trim(col("text"))).as("key"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_toks"))
        .localCheckpoint(true)
      val keyCounts = docs.groupBy(col("key")).agg(count(lit(1)).as("kc"))
      docs.join(keyCounts, "key")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("n_tokens"),
          sum(col("n_chars")).as("sum_chars"),
          countDistinct(col("lang")).as("n_langs"),
          sum(when(col("kc") > 1, 1L).otherwise(0L)).as("n_exact_dups"),
          sum(when(col("n_toks") < 5, 1L).otherwise(0L)).as("n_short"))
        .selectExpr("source", "n_docs", "n_tokens", "n_langs",
          "(2 * sum_chars + n_docs) div (2 * n_docs) AS avg_chars",
          "n_exact_dups", "n_short",
          "(2 * 10000 * n_exact_dups + n_docs) div (2 * n_docs) AS dup_x1e4",
          "(2 * 10000 * n_short + n_docs) div (2 * n_docs) AS short_x1e4")
    },

    // License-compliance filter (round 11) — the legal-curation stage
    // real corpus pipelines run before training (The Stack / StarCoder
    // keep permissive-licensed files only): classify each doc by
    // license markers in its text, report the per-source license mix,
    // and count the training-eligible survivors (permissive or
    // unmarked; restrictive drops). The corpus carries no license
    // text, so the plants synthesize the real-world mix from the
    // read-only corpus (the withNearDups convention): every 5th doc
    // gains a CC-BY marker, every 7th an all-rights-reserved marker
    // (doc_id % 35 docs get BOTH — restrictive wins, the standard
    // conservative rule). Pure map-side classification + one rollup.
    "license_filter" -> { (s, d) =>
      val marked = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          concat(col("text"),
            when(col("doc_id") % 5 === 0,
              lit(" licensed under creative commons attribution 4.0"))
              .otherwise(lit("")),
            when(col("doc_id") % 7 === 0,
              lit(" all rights reserved unauthorized copying prohibited"))
              .otherwise(lit(""))).as("text"))
      val lic = when(lower(col("text")).contains("all rights reserved"),
          lit("restrictive"))
        .when(lower(col("text")).contains("creative commons"),
          lit("permissive"))
        .otherwise(lit("unmarked"))
      marked.withColumn("license", lic)
        .groupBy(col("source"), col("license"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("license") =!= "restrictive", 1L).otherwise(0L))
            .as("n_trainable"))
    },

    // Image near-dup dedup (round 11) — the MULTIMODAL counterpart of
    // the text MinHash family, on REALLY-decoded pixels: every doc
    // gets a deterministic synthetic 16×16 BMP (Multimodal.synthBmp —
    // byte-identical anywhere), every 3rd doc additionally a ONE-PIXEL
    // -changed copy (a true perceptual near-dup: different bytes, same
    // image to the eye; ≤ 1 dHash bit can differ). javax.imageio
    // decodes for real, the 64-bit dHash collapses pixels to a 9×8
    // exact-integer luminance grid, and pairs come from the
    // pigeonhole-banded Hamming join (4 × 16-bit quarters — recall
    // GUARANTEED to Hamming 3, never all-pairs). Output: one audit
    // row; the plant construction pins it (every planted pair found,
    // nothing else within Hamming 3 — random 64-bit hashes collide at
    // ~C(64,3)/2⁶⁴). Decode isn't SQL-expressible, so the oracle pins
    // the EXPRESSION-derived cells (counts from the documents table),
    // the pinned-cell convention of ann_recall. 100 TB shape: decode +
    // hash ride the mapPartitions batch seam (pixels never leave the
    // task); the join shuffles (id, 64-bit hash) quarters only.
    "image_neardup" -> { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val basePay = docs.as[Long].mapPartitions(_.map(id =>
        (id, Multimodal.synthBmp(id)))).toDF("doc_id", "payload")
      val nearPay = docs.filter(col("doc_id") % 3 === 0).as[Long]
        .mapPartitions(_.map(id =>
          (id + 30000000L, Multimodal.synthBmp(id, tweakBlue = true))))
        .toDF("doc_id", "payload")
      val hashes = Multimodal.imageDHashes(s,
        basePay.unionByName(nearPay)).toDF().localCheckpoint(true)
      val pairs = Multimodal.dhashNearDups(hashes, maxHamming = 3)
        .localCheckpoint(true)
      val planted = pairs
        .filter(col("doc_b") === col("doc_a") + 30000000L &&
          pmod(col("doc_a"), lit(3L)) === 0)
      hashes.agg(count(lit(1)).as("n_images"),
          sum(when(col("decoded"), 0L).otherwise(1L)).as("n_undecoded"))
        .crossJoin(broadcast(docs.filter(col("doc_id") % 3 === 0)
          .agg(count(lit(1)).as("n_expected"))))
        .crossJoin(broadcast(pairs.agg(count(lit(1)).as("n_pairs"))))
        .crossJoin(broadcast(planted.agg(count(lit(1)).as("n_planted"))))
        .select(col("n_images"), col("n_expected"), col("n_pairs"),
          (col("n_undecoded") === 0L && col("n_pairs") === col("n_expected")
            && col("n_planted") === col("n_expected")).as("only_planted"))
    },

    // Audio multimodal column (round 12) — the WAV leg of SURVEY §7.5
    // next to the image leg: per-doc deterministic 16-bit PCM WAVs
    // (synthWav — samples derive from md5Hash60("doc:i"), varied
    // channel counts / sample rates / an odd-sized junk chunk forcing
    // the RIFF walker's skip+pad path), every 7th doc carrying
    // UNDECODABLE text bytes (the corrupt-blob path), parsed by the
    // codec-free parseWav through the mapPartitions batch seam into
    // exact-integer PCM stats: peak, BIGINT energy, full-scale clip
    // count, HALF_UP clip fraction. Unlike image_neardup's pinned
    // cells, the WHOLE row hash-oracles: DuckDB re-derives the exact
    // sample stream with generate_series + md5 and must match every
    // doc's peak/sum_sq/n_clipped bit-for-bit. 100 TB shape: payloads
    // ride their own parquet column (pruned unless selected), sample
    // arrays never leave the task — only fixed-width integers cross
    // the exchange, and there is no shuffle at all before the sink.
    "audio_stats" -> { (s, d) =>
      import s.implicits._
      val pay = Tables.documents(s, d).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val bytes =
            if (id % 7 == 0) text.getBytes("UTF-8")
            else Multimodal.synthWav(id,
              nSamples = 300 + 2 * (id % 50).toInt,
              channels = 1 + (id % 2).toInt,
              sampleRate = 8000 + (id % 8).toInt * 1000,
              junkChunk = id % 5 == 0)
          (id, bytes)
        }).toDF("doc_id", "payload")
      Multimodal.audioStats(s, pay).toDF()
        .select(col("doc_id"), col("decoded"),
          col("channels").cast("long").as("channels"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("n_samples"), col("peak"), col("sum_sq"), col("n_clipped"),
          when(col("n_samples") === 0L, 0L)
            .otherwise(expr(
              "(2 * 1000000 * n_clipped + n_samples) div (2 * n_samples)"))
            .as("clip_x1e6"))
    },

    // Audio near-dup / trimmed-re-upload detection (round 12) — the
    // missing cell of the modality matrix (image_neardup ↔
    // video_neardup ↔ THIS): every even non-%7 doc gets a re-upload
    // with the first two 64-sample windows trimmed (same PCM content
    // at a window-aligned offset, new container, new id), and
    // matching runs on acoustic-fingerprint keys computed from the
    // DECODED sample stream (Multimodal.audioFingerprints — the
    // Chromaprint idea in exact integers): an equality join on the
    // window key, ≥ 3 shared windows ⇒ a pair. %7 docs carry
    // undecodable text bytes and flow through as decoded=false rows
    // the join never sees (the sweep survives corrupt blobs). 100 TB
    // shape: decode + fingerprint ride the mapPartitions batch seam
    // (samples never leave the task); the join is a hash shuffle on
    // fixed-width (doc, long-key) rows — the inverted-index shape.
    // Full hash oracle: DuckDB re-derives the exact sample stream
    // (generate_series + md5) and replays the same keys and join.
    "audio_neardup" -> { (s, d) =>
      import s.implicits._
      val W = 64
      val pay = Tables.documents(s, d).select(col("doc_id"), col("text"))
        .filter(pmod(col("doc_id"), lit(13L)) === 0)
        .as[(Long, String)]
        .mapPartitions(_.flatMap { case (id, text) =>
          if (id % 7 == 0) Iterator((id, text.getBytes("UTF-8")))
          else {
            val k = 6 + (id % 4).toInt
            val orig = (id, Multimodal.synthWav(id, nSamples = W * k))
            if (id % 2 == 0)
              Iterator(orig, (id + 15000000000L,
                Multimodal.synthWav(id, nSamples = W * (k - 2),
                  sampleOffset = 2 * W)))
            else Iterator(orig)
          }
        }).toDF("doc_id", "payload")
      val fps = Multimodal.audioFingerprints(s, pay, window = W).toDF()
        .filter(col("decoded"))
        .select(col("doc_id"), col("win_key"))
        .localCheckpoint(true)
      val copies = fps.filter(col("doc_id") >= 15000000000L)
        .withColumnRenamed("doc_id", "copy_doc")
      val origs = fps.filter(col("doc_id") < 15000000000L)
        .withColumnRenamed("doc_id", "orig_doc")
      copies.join(origs, "win_key")
        .groupBy(col("copy_doc"), col("orig_doc"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 3)
    },

    // Video multimodal column (round 12) — the third modality: a REAL
    // RIFF AVI container walk (LIST hdrl → avih dims, LIST movi →
    // uncompressed 00db frames — Multimodal.parseAvi, the parseWav
    // twin) over deterministic synthetic clips whose 16×16 grayscale
    // frames derive from md5Long60 in 7-byte groups, so the oracle
    // regenerates every sampled frame's exact stats (the audio_stats
    // convention — full hash oracle on really-decoded bytes). Every
    // stride=2-th frame is sampled (the serving pattern); docs % 3
    // carry text bytes and surface as decoded=false rows (the sweep
    // must not die on a compressed clip). 100 TB shape: decode +
    // stats ride the mapPartitions batch seam — pixels never leave
    // the task; output is fixed-width integers per sampled frame.
    "video_framestats" -> { (s, d) =>
      import s.implicits._
      val pay = Tables.documents(s, d).select(col("doc_id"), col("text"))
        .filter(pmod(col("doc_id"), lit(11L)) === 0)
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val bytes =
            if (id % 3 == 0) text.getBytes("UTF-8")
            else Multimodal.synthAvi(id, nFrames = 6 + (id % 5).toInt,
              junkList = id % 4 == 0)
          (id, bytes)
        }).toDF("doc_id", "payload")
      Multimodal.videoFrameStats(s, pay, stride = 2).toDF()
        .select(col("doc_id"), col("decoded"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_frames"), col("frame_idx"), col("lum_sum"),
          col("lum_peak"), col("frame_key"))
    },

    // Video near-dup / trimmed-re-upload detection (round 12) — the
    // image_neardup counterpart one modality up: half the clips get a
    // re-upload with the first two frames trimmed (same pixel
    // content, new container, new id), and matching runs on CONTENT
    // keys computed from the decoded bytes of the sampled frames —
    // an equality join on the frame key (the inverted-index shape:
    // at scale the key join is a hash shuffle on fixed-width longs,
    // never pixels), ≥ 2 shared sampled frames ⇒ a pair. The oracle
    // regenerates both sides' frame keys and replays the same join.
    "video_neardup" -> { (s, d) =>
      import s.implicits._
      val pay = Tables.documents(s, d).select(col("doc_id"))
        .filter(pmod(col("doc_id"), lit(11L)) === 0 &&
          pmod(col("doc_id"), lit(3L)) =!= 0)
        .as[Long]
        .mapPartitions(_.flatMap { id =>
          val n = 6 + (id % 5).toInt
          val orig = (id, Multimodal.synthAvi(id, n))
          if (id % 2 == 0)
            Iterator(orig,
              (id + 14000000000L,
                Multimodal.synthAvi(id, n - 2, frameOffset = 2)))
          else Iterator(orig)
        }).toDF("doc_id", "payload")
      val fs = Multimodal.videoFrameStats(s, pay, stride = 2).toDF()
        .filter(col("decoded"))
        .select(col("doc_id"), col("frame_key"))
        .localCheckpoint(true)
      val copies = fs.filter(col("doc_id") >= 14000000000L)
        .withColumnRenamed("doc_id", "copy_doc")
      val origs = fs.filter(col("doc_id") < 14000000000L)
        .withColumnRenamed("doc_id", "orig_doc")
      copies.join(origs, "frame_key")
        .groupBy(col("copy_doc"), col("orig_doc"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2)
    },

    // Multimodal curation capstone (round 12) — the corpus_pipeline
    // shape for the OTHER modalities: ONE manifest (every %9 doc
    // carries an image + an audio clip + a video clip; planted
    // corrupt blobs per modality, planted trimmed audio re-uploads)
    // flows through sequential gates exactly the way a multimodal
    // training-data pipeline curates: (s1) image decode, (s2) audio
    // decode + clip-fraction quality (< 7% full-scale samples),
    // (s3) video decode + ≥ 2 sampled frames + a DECODED-pixel
    // content gate (some clip must hit peak luminance 255 — ~13.5%
    // of md5-random clips genuinely fail, so the gate engages),
    // (s4) audio near-dup removal against the s3-surviving pool
    // (win_key join, ≥ 3 shared windows). Interface drift between
    // any two stages shifts the reconciliation counts or the
    // survivor checksum and hash-fails. Oracle honesty: audio, video
    // and dedup gates are FULL decode replays (DuckDB regenerates
    // the exact sample/pixel streams); the image gate alone mirrors
    // the plant construction (dHash decode isn't SQL-expressible —
    // the image_neardup pinned convention). 100 TB shape: payloads
    // ride ONE checkpointed manifest (documents scanned once);
    // every stage output is an id-frame; the dedup join shuffles
    // (id, long) rows only; the report is seven broadcast aggs.
    "multimodal_pipeline" -> { (s, d) =>
      import s.implicits._
      val W = 64
      val CopyOff = 16000000000L
      val manifest = Tables.documents(s, d).select(col("doc_id"), col("text"))
        .filter(pmod(col("doc_id"), lit(9L)) === 0)
        .as[(Long, String)]
        .mapPartitions(_.flatMap { case (m, text) =>
          val corrupt = text.getBytes("UTF-8")
          val base = (m,
            if (m % 6 == 0) corrupt else Multimodal.synthBmp(m),
            if (m % 5 == 0) corrupt
            else Multimodal.synthWav(m, nSamples = W * (6 + (m % 4).toInt)),
            if (m % 4 == 0) corrupt
            else Multimodal.synthAvi(m, nFrames = 2 + (m % 7).toInt))
          if (m % 3 == 0 && m % 5 != 0) {
            val c = m + CopyOff
            Iterator(base, (c, Multimodal.synthBmp(c),
              Multimodal.synthWav(m, nSamples = W * (4 + (m % 4).toInt),
                sampleOffset = 2 * W),
              Multimodal.synthAvi(c, nFrames = 4)))
          } else Iterator(base)
        }).toDF("doc_id", "img", "aud", "vid")
        .localCheckpoint(true)
      val s1 = Multimodal.imageDHashes(s,
          manifest.select(col("doc_id"), col("img").as("payload")))
        .toDF().filter(col("decoded")).select("doc_id")
        .localCheckpoint(true)
      val audOk = Multimodal.audioStats(s,
          manifest.select(col("doc_id"), col("aud").as("payload")))
        .toDF().filter(col("decoded") && expr(
          "(2 * 1000000 * n_clipped + n_samples) div (2 * n_samples) < 70000"))
        .select("doc_id")
      val s2 = s1.join(audOk, "doc_id").localCheckpoint(true)
      val vidOk = Multimodal.videoFrameStats(s,
          manifest.select(col("doc_id"), col("vid").as("payload")), stride = 2)
        .toDF().filter(col("decoded"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_sampled"), max(col("lum_peak")).as("mp"))
        .filter(col("n_sampled") >= 2L && col("mp") === 255L)
        .select("doc_id")
      val s3 = s2.join(vidOk, "doc_id").localCheckpoint(true)
      val fps = Multimodal.audioFingerprints(s,
          manifest.join(s3, "doc_id")
            .select(col("doc_id"), col("aud").as("payload")), window = W)
        .toDF().filter(col("decoded"))
        .localCheckpoint(true)
      val dupCopies = fps.filter(col("doc_id") >= CopyOff)
          .select(col("doc_id").as("copy_doc"), col("win_key"))
        .join(fps.filter(col("doc_id") < CopyOff)
          .select(col("doc_id").as("orig_doc"), col("win_key")), "win_key")
        .groupBy(col("copy_doc"), col("orig_doc"))
        .agg(count(lit(1)).as("nsh"))
        .filter(col("nsh") >= 3L)
        .select(col("copy_doc").as("doc_id")).distinct()
        .localCheckpoint(true)
      val survivors = s3.join(dupCopies, Seq("doc_id"), "left_anti")
      manifest.agg(count(lit(1)).as("n_manifest"))
        .crossJoin(broadcast(s1.agg(count(lit(1)).as("n_img_ok"))))
        .crossJoin(broadcast(s2.agg(count(lit(1)).as("n_aud_ok"))))
        .crossJoin(broadcast(s3.agg(count(lit(1)).as("n_vid_ok"))))
        .crossJoin(broadcast(
          dupCopies.agg(count(lit(1)).as("n_dedup_removed"))))
        .crossJoin(broadcast(survivors.agg(
          count(lit(1)).as("n_survivors"),
          sum(col("doc_id")).as("sum_survivor_ids"))))
    },

    // Embedding outlier detection (round 12) — the vector-space
    // data-quality gate before ANN index build (corrupt encoders,
    // wrong-modality rows and scale bugs all land FAR from the
    // centroid): exact integer distance²-to-centroid with a
    // Chebyshev-style cleared-denominator flag n·d² > 4·Σd² (no
    // percentile sort — one broadcast agg decides). The centroid is
    // the per-dim floored mean on the milli-quantized grid, shifted
    // (+2000·n) so the div never sees a negative operand (the
    // embed_pca_power sign discipline). Five planted ×3-scaled
    // copies (d² ≈ 9×mean) prove engagement — a healthy Gaussian
    // cloud's own d² concentrates too tightly to trip 4×mean, which
    // is the point: flags mean BUGS, not tail luck. 100 TB shape:
    // centroid is one dim-keyed agg (64 rows) broadcast back as an
    // array; scoring is one map-side idist2 kernel pass; the flag
    // needs one more 1-row agg.
    "embed_outliers" -> { (s, d) =>
      val vecs = Tables.embeddings(s, d)
        .select(col("vec_id"), VectorOps.quantize1000(
          col("embedding").cast("array<double>")).as("q"))
      val planted = vecs.filter(col("vec_id") < 5)
        .select((col("vec_id") + 8000000L).as("vec_id"),
          transform(col("q"), x => x * 3L).as("q"))
      val all = vecs.unionByName(planted).localCheckpoint(true)
      val n = all.agg(count(lit(1)).as("n"))
      val cent = all.select(posexplode(col("q")).as(Seq("dim", "v")))
        .groupBy(col("dim")).agg(sum(col("v")).as("sv"))
        .crossJoin(broadcast(n))
        .select(col("dim"),
          (expr("(sv + 2000 * n) div n") - 2000L).as("c"))
      val carr = cent
        .agg(sort_array(collect_list(struct(col("dim"), col("c"))))
          .as("scs"))
        .select(transform(col("scs"), x => x.getField("c")).as("carr"))
      val scored = all.crossJoin(broadcast(carr))
        .select(col("vec_id"),
          VectorOps.idist2(col("q"), col("carr")).as("d2"))
        .localCheckpoint(true)
      val tot = scored.agg(count(lit(1)).as("nv"), sum(col("d2")).as("sd"))
      scored.crossJoin(broadcast(tot))
        .filter(col("nv") * col("d2") > lit(4L) * col("sd"))
        .select(col("vec_id"), col("d2"),
          (col("vec_id") >= 8000000L).as("is_planted"))
    },

    // Truncated-dimension retrieval (round 11) — the Matryoshka
    // serving question (Kusupati et al. 2022: MRL embeddings let you
    // serve a PREFIX of the vector): how much recall does top-10
    // retrieval keep when distances use only the first 16 / 32 of the
    // 64 dims? Ground truth = the exact full-width integer-L2 top-10;
    // candidates = the same ranking under prefix distances — all
    // exact integers over milli-quantized vectors, so the whole
    // comparison hash-oracles with no pinning. 100 TB shape: the
    // three rankings share ONE map-side scoring pass (three idist2
    // kernels per row) ending in bounded TopKPerKey heaps; at scale
    // the prefix ranking is the cheap first pass and full-width the
    // rerank — exactly the MRL serving layout.
    "matryoshka_recall" -> { (s, d) =>
      val nQ = 3; val k = 10
      val vecs = Tables.embeddings(s, d)
        .select(col("vec_id"), VectorOps.quantize1000(
          col("embedding").cast("array<double>")).as("q"))
        .localCheckpoint(true)
      val qs = vecs.filter(col("vec_id") < nQ)
        .select(col("vec_id").as("query_id"), col("q").as("qq"))
      val scored = vecs.crossJoin(broadcast(qs))
        .select(col("query_id"), col("vec_id").as("doc_id"),
          VectorOps.idist2(col("q"), col("qq")).as("d64"),
          VectorOps.idist2(slice(col("q"), 1, 32), slice(col("qq"), 1, 32))
            .as("d32"),
          VectorOps.idist2(slice(col("q"), 1, 16), slice(col("qq"), 1, 16))
            .as("d16"))
        .localCheckpoint(true)
      def top(dc: String) = graft.plans.TopKPerKey.perKey(scored,
          Seq(col("query_id")), Seq(col(dc), col("doc_id")), k)
        .select(col("query_id"), col("doc_id"))
      val exact = top("d64")
      def hits(t: DataFrame, name: String) =
        exact.join(t, Seq("query_id", "doc_id"), "left_semi")
          .groupBy(col("query_id")).agg(count(lit(1)).as(name))
      hits(top("d32"), "hits32").join(hits(top("d16"), "hits16"), "query_id")
        .select(col("query_id"), lit(k.toLong).as("n_exact"),
          col("hits32"), col("hits16"))
    },

    // Hard-negative mining (round 11) — the contrastive-retriever
    // training primitive (DPR, Karpukhin et al. 2020): for each query,
    // the nearest NON-positive corpus vectors make the hardest
    // negatives. Positives here are the dense top-3 (the
    // self-supervised nearest-neighbor convention); negatives are
    // ranks 4..13 of the exact integer-L2 ranking over milli-quantized
    // vectors — every distance and tie-break integer, so the mined
    // pairs hash-oracle. 100 TB shape: queries broadcast against one
    // map-side scoring pass over the quantized corpus, ending in
    // TopKPerKey bounded heaps (swap the scan for the IVF bucket probe
    // at scale — the mining logic only sees per-query top-k frames).
    "hard_negatives" -> { (s, d) =>
      val nQ = 3; val nPos = 3; val k = 13
      val vecs = Tables.embeddings(s, d)
        .select(col("vec_id"), VectorOps.quantize1000(
          col("embedding").cast("array<double>")).as("q"))
        .localCheckpoint(true)
      val qs = vecs.filter(col("vec_id") < nQ)
        .select(col("vec_id").as("query_id"), col("q").as("qq"))
      val scored = vecs.crossJoin(broadcast(qs))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("doc_id"),
          VectorOps.idist2(col("q"), col("qq")).as("d2"))
      graft.plans.TopKPerKey.perKey(scored, Seq(col("query_id")),
          Seq(col("d2"), col("doc_id")), k)
        .select(col("query_id"),
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy("query_id").orderBy("d2", "doc_id"))
            .cast("long").as("rank"),
          col("doc_id"), col("d2"))
        .filter(col("rank") > nPos)
    },

    // Fuzzy entity resolution (round 6; capped round 9) — blocked
    // Levenshtein match, the record-linkage / entity-dedup primitive
    // (names, titles, addresses) that exact and shingle dedup both
    // miss. The classic scale shape: a BLOCKING KEY (here the last 4
    // name chars, which the synthesized typo preserves) bounds the
    // candidate set, the O(len²) edit-distance verify runs only within
    // blocks — never all-pairs — and both engines compute the same
    // integer distance. The 4-digit key space is FIXED (10⁴ blocks),
    // so per-block occupancy grows with the corpus: Fuzzy.MaxBlock
    // re-splits oversized blocks (the MaxBandBucket / MaxSemCluster
    // pattern), mirrored in the oracle SQL, so the verify join is
    // bounded at cap²/2 pairs per block at any SF. Synth: one mid-name
    // char substitution (position 11 → 'X', ids +1000000) — lev 1 from
    // its original, block key intact; cross-original near-ids (same
    // digit tail) surface too, which is the point of fuzzy matching.
    "fuzzy_match" -> { (s, d) =>
      val base = Tables.customer(s, d)
        .select(col("c_custkey").as("id"), col("c_name").as("name"))
      val synth = base.select((col("id") + 1000000L).as("id"),
        concat(substring(col("name"), 1, 10), lit("X"),
          expr("substring(name, 12)")).as("name"))
      val pool = base.unionByName(synth)
        .withColumn("blk", expr("substring(name, length(name) - 3, 4)"))
      Fuzzy.blockedMatch(pool, maxLev = 2)
    },

    // Product quantization codes (round 6) — the IVF-PQ compression
    // step: 64 dims → 8 subspaces × 8 dims, each encoded as the argmin
    // of 16 codewords → 8 nibbles (4 bits) per vector, a 128x
    // compression of the float payload. Codebooks are deterministic
    // hash-sampled sub-vectors (the 16 md5-lowest vec_ids — the
    // semdedup-anchor convention: trained k-means codebooks aren't
    // cross-engine-reproducible, hash-sampled ones are), and every
    // assignment is EXACT INTEGER squared distance over milli-unit
    // quantized components (LongDist2 codegen kernel), tie-broken by
    // codeword id — so the full encoding hash-oracles. Output long
    // format: (vec_id, subspace, code, d2) with d2 the per-subspace
    // quantization error. 100 TB shape: the codebook is 16 rows
    // BROADCAST; encoding rides the scan (one crossJoin + explode,
    // map-side); output is 8 small ints per vector — nothing wide ever
    // shuffles (the one exchange is the final per-(vec,subspace)
    // argmin agg, 8 rows/vector).
    "pq_codes" -> { (s, d) =>
      VectorOps.pqEncode(Tables.embeddings(s, d)
        .select(col("vec_id"), VectorOps.quantize1000(
          col("embedding").cast("array<double>")).as("q")))
    },

    // IVF-PQ ADC search (round 8) — the query path over the pq_codes
    // compressed index: broadcast 128-entry LUT, per-vector approx
    // distance as 8 lookups + adds over the codes table, exact
    // integer rerank of the 40 ADC survivors. Completes the PQ story:
    // pq_codes builds the index, pq_topk searches it.
    "pq_topk" -> { (s, d) =>
      // The quantized corpus feeds three consumers (codebook sample,
      // encode, exact rerank) — materialize it once (top_supplier
      // convention; at 100 TB the codes/codebook are the PRE-BUILT
      // stored index and only the rerank touches vectors).
      val corpus = Tables.embeddings(s, d)
        .select(col("vec_id"), VectorOps.quantize1000(
          col("embedding").cast("array<double>")).as("q"))
        .localCheckpoint(true)
      VectorOps.pqSearchTopK(corpus, corpus.filter(col("vec_id") === 0),
        k = 10)
    },

    // Trained-PQ serving (round 11) — closes the train→serve loop for
    // the PQ codebooks the way kmeans_train/ivf_trained_topk closed it
    // for the IVF coarse quantizer: pq_topk serves md5-SAMPLED
    // codewords; here each of the 8 subspaces runs 2 exactly-oracled
    // Lloyd rounds (VectorOps.pqTrainCodebook — assignment by integer
    // idist2 with (dist, code) tie-break, per-(subspace, code, dim)
    // signed HALF_UP integer means, empty codes keep their centroid,
    // init = the SAME sampled codebook), then ADC top-k serves the
    // refined codebooks. Every step engine-replicable, so the full
    // train→index→search chain hash-oracles. 100 TB shape: training
    // broadcasts the nSub×nCode codebook and aggregates (subspace,
    // code, dim) cells; serving is pq_topk's envelope (codes table +
    // broadcast LUT + bounded rerank).
    "pq_trained_topk" -> { (s, d) =>
      val corpus = Tables.embeddings(s, d)
        .select(col("vec_id"), VectorOps.quantize1000(
          col("embedding").cast("array<double>")).as("q"))
        .localCheckpoint(true)
      val cb = VectorOps.pqTrainCodebook(corpus).localCheckpoint(true)
      val codes = VectorOps.pqCodesWith(corpus, cb)
      VectorOps.pqAdcTopK(corpus, cb, codes,
        corpus.filter(col("vec_id") === 0), k = 10)
    },

    // int8 embedding quantization (the 4x-smaller storage form for
    // 100 TB embedding tables) — scale + quantized vector per row.
    // The quantized vector is csv-encoded to a scalar string: the
    // driver's oracle harness hash-sorts result cells with pandas,
    // which cannot hash an array column (round-2 gate failure), and
    // a delimiter-joined string carries the exact same information.
    "embed_quantize" -> { (s, d) =>
      val (scale, q) = VectorOps.quantize8(col("embedding"))
      Tables.embeddings(s, d).select(
        col("vec_id"), round(scale, 6).as("q_scale"),
        array_join(q, ",").as("qvec_csv"))
    },

    // ---- multimodal ----------------------------------------------------
    "multimodal_meta" -> { (s, d) =>
      Multimodal.withPayload(Tables.documents(s, d)).select(
        col("doc_id"),
        col("media_meta.n_bytes").as("n_bytes"),
        (col("media_meta.n_bytes") % 64 + 1).as("fake_width"),
        (col("media_meta.n_bytes") % 48 + 1).as("fake_height"))
    },

    // TF-IDF top-3 terms per document (round 5) — keyword extraction /
    // boilerplate detection for training corpora. The score is
    // integer-scaled (floor(tf·ln(N/df)·1e6 + 0.5)) so BOTH engines
    // rank on the same BIGINT — a last-ulp ln() difference cannot flip
    // an ordering the way raw-double ranks could. Shape: explode →
    // (doc,term) count → term-df agg → join back → TopKPerKey bounded
    // heaps (map-side prune; ships ≤3 rows/doc/partition, no Window,
    // no sort). N rides in via a broadcast 1-row frame.
    "tfidf_topk" -> { (s, d) =>
      val docs = Dedup.rebalance(Tables.documents(s, d))
      // tf feeds two plan consumers (df agg + join back); eager
      // localCheckpoint explodes the corpus once — the Dedup.scala
      // signature-table convention (~45% off bm25_topk, same shape).
      val tf = docs
        .select(col("doc_id"), explode(TextOps.tokens(lower(col("text")))).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        .localCheckpoint(true)
      val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(dfreq, "term")
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          floor(col("tf") * log(col("n_docs").cast("double") / col("df")) * 1e6
            + 0.5).cast("long").as("score_x1e6"))
      graft.plans.TopKPerKey.perKey(scored,
        keys = Seq(col("doc_id")),
        order = Seq(col("score_x1e6").desc, col("term")), k = 3)
    },

    // Per-label embedding centroid (round 5) — the reduce step of
    // k-means-style corpus bucketing / class prototypes. Components are
    // integer-quantized BEFORE aggregation (floor(x·1000 + 0.5)), so the
    // sum is exact integer math in any engine and in any partial-
    // aggregation order — float sums are order-dependent and would break
    // the hash gate AND differ run-to-run on a real cluster. Shape:
    // posexplode → one hash agg on (label, dim); 640 output rows.
    "embed_centroid" -> { (s, d) =>
      Tables.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")))
        .select(col("label"), (col("pos") + 1).cast("long").as("dim"),
          floor(col("col").cast("double") * 1000.0 + 0.5).cast("long").as("q"))
        .groupBy(col("label"), col("dim"))
        .agg(sum(col("q")).as("sum_q"), count(lit(1)).as("n"))
        // centroid at 6 dp via EXACT integer HALF_UP — round(double)
        // straddles engines on half-points (the mv_refresh convention).
        // sum_q can be negative, so half-away-from-zero on |num| where
        // Spark's truncating `div` and DuckDB's floor `//` coincide.
        .withColumn("num", col("sum_q") * lit(1000L))
        .selectExpr("label", "dim", "sum_q", "n",
          """CAST(CASE WHEN num >= 0 THEN (2 * num + n) div (2 * n)
            |     ELSE -((2 * -num + n) div (2 * n)) END AS DOUBLE)
            |  / 1000000.0 AS centroid_q""".stripMargin)
    },

    // Embedding drift (round 15) — the ML-ops "did the embedding
    // distribution move" check the vector family lacked (embed_
    // outliers finds points, THIS compares POPULATIONS — the monitor
    // a retrained encoder or upstream corpus shift trips): exact KS
    // between the two vec_id-parity halves (an A/A split, so D ≈ 0 —
    // the calibration read; production splits by time/model-version)
    // over each vector's PROJECTION ONTO THE MEAN DIRECTION — the
    // one-dimensional witness classic drift monitors use. Exactness:
    // milli-quantized components, the mean at exact HALF_UP micro
    // scale (embed_centroid's algebra, label-free, ≤64 rows
    // broadcast), dot = Σ q·c6 an exact BIGINT BOUNDED BY THE
    // GEOMETRY (≤ dims·1e3·1e6 regardless of corpus size), and the KS
    // value axis is the dot div-1e6 bucket — value-DOMAIN-bounded
    // (≤ ~1.3e5 distinct at ANY SF), so Drift.ks' cumulative window
    // rides a bounded histogram (the ks_drift centi-value argument).
    // 100 TB shape: one explode feeds both the 64-row mean agg and
    // the map-side projection; everything after rides the histogram.
    "embed_drift" -> { (s, d) =>
      val q = Tables.embeddings(s, d)
        .select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), (col("pos") + 1).cast("long").as("dim"),
          floor(col("col").cast("double") * 1000.0 + 0.5).cast("long")
            .as("q"))
        .localCheckpoint(true)
      val c6 = q.groupBy(col("dim"))
        .agg(sum(col("q")).as("sum_q"), count(lit(1)).as("n"))
        .selectExpr("dim",
          "CASE WHEN sum_q >= 0 THEN (2 * sum_q * 1000 + n) div (2 * n) " +
            "ELSE -((2 * -sum_q * 1000 + n) div (2 * n)) END AS c6")
      val proj = q.join(broadcast(c6), "dim")
        .groupBy(col("vec_id")).agg(sum(col("q") * col("c6")).as("dot"))
        .selectExpr("vec_id",
          "CASE WHEN dot >= 0 THEN dot div 1000000 " +
            "ELSE -((-dot) div 1000000) END AS v")
      graft.ops.Drift.ks(proj.select(lit("embedding").as("space"),
          (pmod(col("vec_id"), lit(2L)) === 0L).as("in_a"), col("v")),
        col("space"), col("in_a"), col("v"))
        .withColumnRenamed("k", "space")
    },

    // Top principal direction by power iteration (round 12) — the
    // embedding-space diagnostic before ANN/whitening: three unrolled
    // rounds of x ← C·x over the mean-centered quantized vectors,
    // WITHOUT materializing the 64×64 covariance — each round is one
    // distributed pass computing y_d = Σ_i c_i[d]·(c_i·x) (the
    // matrix-free form; at 100 TB one map-side dot per row + one
    // (dim)-keyed partial+final agg, the only state a 64-long model
    // vector). Everything is exact-integer: vectors milli-quantized,
    // the mean centered on the HALF_UP integer grid, and each round
    // renormalizes x to scale 1000 by signed HALF_UP division by
    // max|y| — so all three rounds and the output are bit-identical
    // in any engine (the kmeans_train discipline: per-round model
    // collect is 64 longs, never data). Output: (dim, comp_x1000)
    // after round 3 — the dominant eigenvector of the centered
    // second-moment matrix at fixed point.
    "embed_pca_power" -> { (s, d) =>
      val (_, x) = pcaPower(s, d)
      import s.implicits._
      x.zipWithIndex.map { case (v, i) => ((i + 1).toLong, v) }
        .toDF("dim", "comp_x1000")
    },

    // All-but-the-top postprocessing (round 12) — Mu & Viswanath
    // (ICLR 2018): embedding spaces share a large common direction
    // that hurts retrieval; remove the top principal component and
    // serve the residual. Composes embed_pca_power's direction x:
    // per vector the projection coefficient and the residual energy,
    // all exact-integer — N_d = c_d·S − x_d·D (with S = x·x, D = c·x)
    // is the residual numerator at scale S, squared into
    // DECIMAL(38,0)/HUGEINT (the ks_drift overflow discipline) for
    // the energy sum. One map-side pass over the corpus with x
    // broadcast as a 64-long literal; output one row per vector.
    "embed_detop" -> { (s, d) =>
      val (c, x) = pcaPower(s, d)
      val xLit = typedLit(x)
      val sNorm = x.map(v => v * v).sum // x·x ≤ 64e6
      val withD = c.select(col("vec_id"), col("c"),
        VectorOps.idot(col("c"), xLit).as("dd"))
      withD
        .select(col("vec_id"), col("dd"),
          posexplode(col("c")).as(Seq("d", "cd")))
        .withColumn("nd",
          col("cd") * lit(sNorm) - element_at(xLit, col("d") + 1) * col("dd"))
        .groupBy(col("vec_id"), col("dd"))
        .agg(sum(col("nd").cast("decimal(38,0)") * col("nd")).as("nd2"))
        .selectExpr("vec_id",
          // proj_x1e6 = signed HALF_UP(1e6·D / S)
          s"""CAST(CASE WHEN dd >= 0
             |  THEN (2 * 1000000 * dd + $sNorm) div (2 * $sNorm)
             |  ELSE -((2 * 1000000 * -dd + $sNorm) div (2 * $sNorm))
             |  END AS BIGINT) AS proj_x1e6""".stripMargin,
          // resid2_x1e6 = HALF_UP(1e6·Σnd² / S²), decimal-routed
          s"""CAST((2 * CAST(1000000 AS DECIMAL(38,0)) * nd2
             |  + CAST($sNorm AS DECIMAL(38,0)) * $sNorm)
             |  div (2 * CAST($sNorm AS DECIMAL(38,0)) * $sNorm)
             |  AS BIGINT) AS resid2_x1e6""".stripMargin)
    },

    // Sequence packing (round 5) — every doc's shard / token offset /
    // fixed-length-sequence index in the deterministic concatenation
    // order a training loader consumes (ext.Packing: per-shard running
    // sums — one exchange + one sort per shard, never a global sort).
    "pack_sequences" -> { (s, d) =>
      Packing.packOffsets(Tables.documents(s, d), col("doc_id"),
        size(TextOps.tokens(col("text"))), nShards = 8, seqLen = 256)
    },

    // Sliding-window chunking (round 6) — overlapping 64-token windows
    // every 48 tokens (16-token overlap): the context-bounded
    // preparation stage for embedding/RAG corpora. Map-side row
    // explosion riding the scan (ext.Packing.chunkTokens) — no
    // shuffle; the oracle reproduces the windows with generate_series
    // + list_slice.
    "chunk_docs" -> { (s, d) =>
      Packing.chunkTokens(Tables.documents(s, d), col("doc_id"),
        TextOps.tokens(col("text")), chunkLen = 64, stride = 48)
    },

    // Within-doc repetition quality signals (round 5) — Gopher-style
    // token-diversity / top-token-mass / duplicate-bigram filters
    // (ext.Repetition: array stats ride the scan; one explode-agg tree
    // for the top-token count — text scanned once).
    "doc_repetition" -> { (s, d) =>
      Repetition.stats(Tables.documents(s, d), col("doc_id"), col("text"))
    },

    // URL-level dedup (round 8, ext.UrlOps) — the CommonCrawl curation
    // step BEFORE content dedup: canonicalize (scheme/case/port/www/
    // query/fragment/trailing-slash) and collapse exact URL dups. The
    // corpus has no URL column, so the query synthesizes three messy
    // spellings of each logical page from doc_id — the operator's
    // input is adversarial on purpose. Map-side string ops; one
    // hash-shuffle on the canonical URL.
    "url_dedup" -> { (s, d) =>
      messyUrls(Tables.documents(s, d))
        .select(col("doc_id"), graft.ext.UrlOps.normalize(col("url")).as("canon_url"))
        .groupBy(col("canon_url"))
        .agg(min(col("doc_id")).as("keep_doc_id"),
          count(lit(1)).as("n_copies"))
    },

    // Per-domain document cap (round 8, ext.UrlOps) — keep at most 10
    // docs per REGISTERED domain (sub.site3.co.uk and www.site3.co.uk
    // both charge site3.co.uk), lowest doc_id first. Runs on
    // TopKPerKey's bounded heaps: O(domains × k) state however many
    // pages a boilerplate farm contributes.
    "domain_cap" -> { (s, d) =>
      val withDomain = messyUrls(Tables.documents(s, d))
        .select(col("doc_id"),
          graft.ext.UrlOps.registeredDomain(
            graft.ext.UrlOps.hostOf(
              graft.ext.UrlOps.normalize(col("url")))).as("domain"))
      graft.ext.UrlOps.perDomainCap(withDomain, Seq(col("doc_id")), k = 10)
    },

    // PageRank over a deterministic link graph (round 8; Brin & Page
    // 1998 — link authority is the CommonCrawl-style curation signal
    // alongside per-domain caps). The corpus has no link column, so
    // each doc links to 3 md5-derived targets (every byte derives from
    // the read-only corpus — the messyUrls convention). Exact-integer
    // fixed point: ranks at 1e6 scale, every division a truncating
    // BIGINT div on non-negative operands (Spark `div` ≡ DuckDB `//`),
    // damping 85/100, 5 unrolled iterations → bit-identical engines.
    // Shape at 100 TB: the edge table builds once map-side and is the
    // persisted graph; each iteration is ONE join+agg exchange pair
    // over (id, long) rows — rank state is never wide; iterations are
    // driver-synchronized like hierarchy_flatten's pointer doubling.
    "link_rank" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val n = Tables.documents(s, d).agg(count(lit(1)).cast("long").as("n"))
      val edges = docs.crossJoin(broadcast(n))
        .select(col("doc_id").as("src"),
          explode(array((1 to 3).map(k =>
            Dedup.md5Hash60(concat(col("doc_id").cast("string"), lit(s":$k")))
              % col("n")): _*)).as("dst"))
        .localCheckpoint(true)
      // Five rounds as ONE nested plan — at this unroll depth Catalyst
      // handles the tree easily and a single job beats 5 sequential
      // checkpoint-materialized jobs 3× (SCALE.md probe). Past ~10s of
      // iterations the per-round localCheckpoint form becomes the
      // right trade (plan growth), as hierarchy_flatten does.
      var ranks = docs.crossJoin(broadcast(n))
        .selectExpr("doc_id", "1000000 div n AS r")
      for (_ <- 1 to 5) {
        val contrib = edges.join(ranks, edges("src") === ranks("doc_id"))
          .groupBy(col("dst")).agg(sum(expr("r div 3")).as("cs"))
        ranks = docs.crossJoin(broadcast(n))
          .join(contrib, col("doc_id") === col("dst"), "left")
          .selectExpr("doc_id", "n",
            "150000 div n + (85 * coalesce(cs, 0)) div 100 AS r")
          .select(col("doc_id"), col("r"))
      }
      ranks.select(col("doc_id"), col("r").as("rank_x1e6"))
    },

    // Seeded trust propagation (round 10) — TrustRank (Gyöngyi,
    // Garcia-Molina & Pedersen, VLDB 2004): link_rank with the uniform
    // restart vector replaced by a TRUSTED SEED distribution, the
    // quality-propagation move behind domain-trust curation (content
    // linked from vetted sources inherits trust; spam islands
    // unreachable from seeds decay to 0 — the uniform-restart
    // PageRank would still give them the damping floor). Seeds are
    // the md5-selected ~10% ("trust:"+id % 10 == 0 — the
    // hand-vetted-list stand-in, oracle-portable like every split in
    // this file); same deterministic 3-out-edge graph, same
    // exact-integer damping (r div 3 contributions, 85/100 damping,
    // 15% restart mass split over the SEEDS only). 100 TB shape
    // identical to link_rank: the rank frame is (id, long), each
    // round is one edge⋈rank join + agg, seed membership is a
    // map-side hash predicate — no extra state.
    "trust_rank" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val n = Tables.documents(s, d).agg(count(lit(1)).cast("long").as("n"))
      val isSeed = pmod(Dedup.md5Hash60(
        concat(lit("trust:"), col("doc_id").cast("string"))), lit(10L)) === 0L
      val ns = docs.filter(isSeed).agg(count(lit(1)).cast("long").as("ns"))
      val edges = docs.crossJoin(broadcast(n))
        .select(col("doc_id").as("src"),
          explode(array((1 to 3).map(k =>
            Dedup.md5Hash60(concat(col("doc_id").cast("string"), lit(s":$k")))
              % col("n")): _*)).as("dst"))
        .localCheckpoint(true)
      var ranks = docs.crossJoin(broadcast(ns))
        .select(col("doc_id"),
          when(isSeed, expr("1000000 div ns")).otherwise(lit(0L)).as("r"))
      for (_ <- 1 to 5) {
        val contrib = edges.join(ranks, edges("src") === ranks("doc_id"))
          .groupBy(col("dst")).agg(sum(expr("r div 3")).as("cs"))
        ranks = docs.crossJoin(broadcast(ns))
          .join(contrib, col("doc_id") === col("dst"), "left")
          .select(col("doc_id"),
            (when(isSeed, expr("150000 div ns")).otherwise(lit(0L)) +
              expr("(85 * coalesce(cs, 0)) div 100")).as("r"))
      }
      ranks.select(col("doc_id"), col("r").as("trust_x1e6"))
    },

    // Triangle counting over link_rank's deterministic graph (round
    // 8) — the graph-structure curation signal (clustering/community
    // density) next to link authority. Degree-ordered orientation
    // (Cohen 2009 / Schank-Wagner "forward"): every undirected edge
    // points from its lower-(degree, id) endpoint to the higher, so
    // each triangle is counted EXACTLY once at its lowest vertex and —
    // the 100 TB point — wedge fan-out is bounded by oriented
    // out-degree, O(√m) worst case for any graph, instead of the
    // unoriented max degree (a celebrity node makes the naive wedge
    // join quadratic). Plan: one distinct exchange builds the edge
    // set (checkpointed for its three consumers), one co-partitioned
    // self-join on the wedge apex, one LEFT SEMI probe closes it.
    "graph_triangles" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val n = Tables.documents(s, d).agg(count(lit(1)).cast("long").as("n"))
      val raw = docs.crossJoin(broadcast(n))
        .select(col("doc_id").as("u"),
          explode(array((1 to 3).map(k =>
            Dedup.md5Hash60(concat(col("doc_id").cast("string"), lit(s":$k")))
              % col("n")): _*)).as("v"))
      val und = raw.filter(col("u") =!= col("v"))
        .select(least(col("u"), col("v")).as("a"),
          greatest(col("u"), col("v")).as("b"))
        .distinct()
        .localCheckpoint(true)
      val deg = und.select(explode(array(col("a"), col("b"))).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("deg"))
      // a < b by construction, so the (deg, id) tie-break is a < b.
      val aFirst = col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b"))
      val o = und
        .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
        .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
        .select(
          when(aFirst, col("a")).otherwise(col("b")).as("src"),
          when(aFirst, col("b")).otherwise(col("a")).as("dst"),
          when(aFirst, col("db")).otherwise(col("da")).as("ddeg"))
        .localCheckpoint(true)
      val tri = o.as("o1").join(o.as("o2"),
          col("o1.src") === col("o2.src") &&
            (col("o1.ddeg") < col("o2.ddeg") ||
              (col("o1.ddeg") === col("o2.ddeg") &&
                col("o1.dst") < col("o2.dst"))))
        .select(col("o1.dst").as("w_src"), col("o2.dst").as("w_dst"))
        .join(o.select(col("src").as("w_src"), col("dst").as("w_dst")),
          Seq("w_src", "w_dst"), "left_semi")
      docs.agg(count(lit(1)).as("n_vertices"))
        .crossJoin(broadcast(und.agg(count(lit(1)).as("n_edges"))))
        .crossJoin(broadcast(tri.agg(count(lit(1)).as("n_triangles"))))
    },

    // Benchmark-contamination check (round 5) — per-train-doc distinct
    // 3-gram overlap with the deterministic eval shards
    // (ext.Contamination: broadcast eval hash set, train side never
    // shuffles text).
    "contam_check" -> { (s, d) =>
      Contamination.check(Tables.documents(s, d), col("doc_id"), col("text"))
    },

    // Transitive decontamination (round 10) — the expansion pass real
    // pipelines run AFTER n-gram decontamination (Llama/GPT-family
    // decontamination drops near-duplicates of contaminated docs too:
    // a paraphrase that no longer shares the eval n-grams still leaks
    // the benchmark): BFS from the directly-contaminated seeds over
    // the MinHash near-dup graph, 2 unrolled hops with min-hop
    // semantics. Seeds = train docs with ≥ 20% distinct-shingle eval
    // overlap (corpus_pipeline's exact-integer 5·n_c ≥ n_sh rule);
    // edges = Dedup.minhashPairs over the train docs. The corpus
    // plants per-eval-doc 3-chains to make both hops REAL: a base
    // sequence B = 8 eval tokens + 38 tokens of a paired train doc,
    // and windows W0=B[1..30] (21% eval shingles → seed),
    // W1=B[9..38] (0 eval shingles, J(W0,W1)≈0.56 → hop 1),
    // W2=B[17..46] (J(W1,W2)≈0.56, J(W0,W2)≈0.27 → hop 2). The
    // eval↔train zip-pairing is plant scaffolding, not pipeline
    // shape — but it still must not funnel the corpus through one
    // partition, so docs pair by md5-hash RANK WITHIN 8 BOUNDED
    // STRATA (the Sampling.shard convention; the rank window
    // partitions by stratum) rather than one global row_number.
    // 100 TB shape: contamination is the broadcast-eval probe
    // (contam_check); the edge set is dedup OUTPUT (coordinator-
    // sized); each BFS round is one hash join on the frontier — the
    // standard unrolled-BFS shape (full closure = the CC machinery).
    "contam_expand" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val shardOf = (c: org.apache.spark.sql.Column) =>
        pmod(Dedup.md5Hash60(c.cast("string")), lit(20L))
      val base = docs
        .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
        .withColumn("shard", shardOf(col("doc_id")))
      val pairKeyed = base
        .withColumn("ph",
          Dedup.md5Hash60(concat(lit("pair:"), col("doc_id").cast("string"))))
        .withColumn("ps", pmod(col("ph"), lit(8L)))
      val byStratum = Window.partitionBy("ps").orderBy("ph", "doc_id")
      val ev = pairKeyed.filter(col("shard") < 2 && size(col("t")) >= 8)
        .select(col("ps"), row_number().over(byStratum).as("rn"),
          col("t").as("et"))
      val tr = pairKeyed.filter(col("shard") >= 2 && size(col("t")) >= 38)
        .select(col("ps"), row_number().over(byStratum).as("rn"),
          col("t").as("tt"))
      val b = ev.join(tr, Seq("ps", "rn"))
        .select((col("ps") * 100000000L + col("rn")).as("pid"),
          concat(slice(col("et"), 1, 8), slice(col("tt"), 1, 38)).as("bt"))
      val plants = b.select((col("pid") + 7000000000L).as("doc_id"),
          concat_ws(" ", slice(col("bt"), 1, 30)).as("text"))
        .unionByName(b.select((col("pid") + 8000000000L).as("doc_id"),
          concat_ws(" ", slice(col("bt"), 9, 30)).as("text")))
        .unionByName(b.select((col("pid") + 9000000000L).as("doc_id"),
          concat_ws(" ", slice(col("bt"), 17, 30)).as("text")))
        // plant-count-sized fixture, consumed by BOTH the seed chain
        // and the signature chain — materialize the two stratum
        // windows + pair join once (round 21)
        .localCheckpoint(true)
      val full = docs.unionByName(plants)
      // eval membership: ORIGINAL docs in shards {0,1} (plants are
      // train by definition — they model the training corpus)
      val isEval = col("doc") < 7000000000L && shardOf(col("doc")) < 2
      // ShingleMd5 kernel (round 21): same rows as shingleRows +
      // md5Hash60 — one JVM call per doc instead of a per-window
      // string build + md5-hex + conv chain (bit-identical by the
      // kernel's contract).
      val rows = Dedup.rebalance(full)
        .select(col("doc_id").as("doc"), explode(
          graft.ext.expr.ShingleMd5.shingleMd5(
            TextOps.tokens(col("text")), 3)).as("sh"))
      val evalSh = rows.filter(isEval).select(col("sh")).distinct()
      val trainSh = rows.filter(!isEval).distinct()
      val seeds = trainSh
        .join(broadcast(evalSh.withColumn("hit", lit(1L))), Seq("sh"), "left")
        .groupBy(col("doc"))
        .agg(count(lit(1)).as("ns"), sum(coalesce(col("hit"), lit(0L))).as("nc"))
        .filter(lit(5L) * col("nc") >= col("ns"))
        .select(col("doc").as("doc_id"))
        .localCheckpoint(true)
      val trainDocs = full.filter(!(col("doc_id") < 7000000000L &&
        shardOf(col("doc_id")) < 2))
      // Round 21 NOTE: a frontier-probed BFS (edges via broadcast
      // seed/hop-1 band probes against Dedup.okBandRows instead of
      // the full minhashPairs materialization) was built, oracled
      // green at both SFs, and MEASURED SLOWER same-session (probe
      // chain 4.81 s vs 4.10 s for the pair materialization at
      // sf0.1): on this corpus the seed set is ~ALL train docs
      // (generator-level sentence reuse trips the 20% line corpus-
      // wide), so the "bounded frontier" premise does not hold and
      // the probe pays two extra materializations for nothing. Kept
      // the old shape; the measured fix is below — the PLANT fixture
      // (two stratum windows + a join) was re-derived by both the
      // seed chain and the signature chain, so it checkpoints once
      // (plant-count-sized, ~27% of corpus rows here, increment-like
      // at any scale).
      val pairs = Dedup.minhashPairs(trainDocs, col("doc_id"), col("text"), 0.5)
        .localCheckpoint(true)
      val und = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      val hop1 = und.join(seeds.withColumnRenamed("doc_id", "src"), "src")
        .select(col("dst").as("doc_id")).distinct()
        .join(seeds, Seq("doc_id"), "left_anti")
        .localCheckpoint(true)
      val hop2 = und.join(hop1.withColumnRenamed("doc_id", "src"), "src")
        .select(col("dst").as("doc_id")).distinct()
        .join(seeds, Seq("doc_id"), "left_anti")
        .join(hop1, Seq("doc_id"), "left_anti")
      seeds.withColumn("hop", lit(0L))
        .unionByName(hop1.withColumn("hop", lit(1L)))
        .unionByName(hop2.withColumn("hop", lit(2L)))
    },

    // Bloom-filter pre-probe (round 8) — contam_check's documented
    // beyond-broadcast fallback made real: the eval shingle set folds
    // into a 2^20-bit mergeable bitset (ext.Bloom, md5-derived double
    // hashing so the oracle replays the exact bit positions
    // relationally) and the train side probes it map-side alongside
    // the exact join; n_bloom_hits ≥ n_contam quantifies the FP
    // overcount the pre-probe admits.
    "bloom_contam" -> { (s, d) =>
      Bloom.contamPreProbe(Tables.documents(s, d), col("doc_id"), col("text"))
    },

    // Temperature-scaled mixture rebalancing (round 8) — the
    // multilingual data-mixing move (α = 0.5; mBERT/XLM-R/PaLM
    // rebalance language shares toward p^α): head languages
    // downsample at √(n_min/n_l), the smallest keeps everything.
    // Rates are CORPUS-DERIVED (the tiny per-lang count frame
    // broadcasts back), not config. w_l = ⌊10⁶·√n_l⌋ is the only
    // float op — sqrt is correctly-rounded IEEE in both engines,
    // floored at fixed scale — and the keep test is the exact-integer
    // cross-multiply h·w_l < w_min·2⁶⁰ on the row's own md5 hash
    // (mixture_sample's discipline): deterministic membership,
    // idempotent retries, every boundary bit-identical.
    "temp_mixture" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
      val c = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      val w = c.withColumn("wl",
        floor(lit(1000000.0) * sqrt(col("n_docs").cast("double"))).cast("long"))
      val wmin = w.agg(min(col("wl")).as("wmin"))
      docs.join(broadcast(w), Seq("lang")).crossJoin(broadcast(wmin))
        .withColumn("h", Dedup.md5Hash60(col("doc_id").cast("string")))
        .groupBy(col("lang"))
        .agg(max(col("n_docs")).as("n_docs"),
          sum(when(col("h").cast("decimal(38,0)") * col("wl") <
              col("wmin").cast("decimal(38,0)") * lit(1152921504606846976L), 1L)
            .otherwise(0L)).as("kept"))
    },

    // BPE merge-candidate counting (round 8) — the first step of
    // tokenizer TRAINING (Sennrich et al. 2016): corpus-wide counts of
    // adjacent character pairs, weighted by word frequency, top-50
    // merge candidates. The scale shape is the point: the only
    // corpus-sized pass is the word-count explode+agg; the pair
    // derivation (charPairs) runs over the DISTINCT vocabulary with
    // counts already attached — O(vocab × word length), however many
    // tokens the corpus holds. The top cut is a bounded TakeOrdered.
    "bpe_pairs" -> { (s, d) =>
      val words = Dedup.rebalance(Tables.documents(s, d))
        .select(explode(TextOps.tokens(lower(col("text")))).as("w"))
      val wc = words.groupBy(col("w")).agg(count(lit(1)).as("wn"))
      wc.select(col("wn"), explode(TextOps.charPairs(col("w"))).as("pair"))
        .groupBy(col("pair")).agg(sum(col("wn")).as("pair_count"))
        .orderBy(col("pair_count").desc, col("pair")).limit(50)
    },

    // Iterated BPE merge TRAINING (round 10) — bpe_pairs computes one
    // round of merge candidates; this unrolls N=4 full trainer rounds
    // (Sennrich et al. 2016): count adjacent symbol pairs weighted by
    // word frequency → apply the top merge to every word → re-count.
    // Output: the merge table (round, p1, p2, merged, pair_count) — a
    // real tokenizer's training artifact. Symbol sequences live as
    // DOUBLE-separator strings (␁␁sym␁␁sym␁␁): the merge is then a
    // literal replace of ␁p1␁␁p2␁ → ␁p1p2␁, and both engines' replace
    // scans left-to-right non-overlapping — exactly greedy BPE. The
    // double boundary is load-bearing: with single separators the
    // pattern consumes the next match's leading boundary ("a a a a"
    // merges once instead of twice); with doubled ones each match
    // consumes only the inner halves, so runs merge greedily —
    // and a pattern can never match inside a symbol (every ␁ belongs
    // to a boundary; a match's edges must land on boundary halves,
    // forcing p1/p2 to be complete symbols). 100 TB shape: the ONLY
    // corpus-sized pass is the initial word-count agg; every round
    // runs over the DISTINCT VOCAB (split + pair explode + one tiny
    // agg + map-side replace), checkpointed per round so the merge
    // table's branches share work — per-round cost rides vocab size,
    // however many tokens the corpus holds.
    "bpe_train" -> { (s, d) =>
      val N = 4
      val wc = Dedup.rebalance(Tables.documents(s, d))
        .select(explode(TextOps.tokens(lower(col("text")))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("wn"))
      var rep = wc.select(col("wn"), TextOps.bpeInitRep(col("w")).as("rep"))
        .localCheckpoint(true)
      val merges = (1 to N).map { i =>
        val top1 = rep.select(col("wn"), TextOps.bpeSymbols(col("rep")).as("sy"))
          .select(col("wn"), explode(when(size(col("sy")) >= 2,
              transform(sequence(lit(1), size(col("sy")) - 1),
                k => struct(element_at(col("sy"), k).as("p1"),
                  element_at(col("sy"), k + 1).as("p2"))))
            .otherwise(array().cast("array<struct<p1:string,p2:string>>")))
            .as("pr"))
          .select(col("wn"), col("pr.p1").as("p1"), col("pr.p2").as("p2"))
          .groupBy(col("p1"), col("p2")).agg(sum(col("wn")).as("cnt"))
          .orderBy(col("cnt").desc, col("p1"), col("p2")).limit(1)
          .localCheckpoint(true)
        rep = rep.crossJoin(broadcast(top1))
          .select(col("wn"),
            TextOps.bpeMerge(col("rep"), col("p1"), col("p2")).as("rep"))
          .localCheckpoint(true)
        top1.select(lit(i).as("round"), col("p1"), col("p2"),
          concat(col("p1"), col("p2")).as("merged"),
          col("cnt").as("pair_count"))
      }
      merges.reduce(_ unionByName _)
    },

    // BPE ENCODING (round 10) — bpe_train learns the merge table; this
    // is the other half a tokenizer needs: APPLY those merges to every
    // document and report its token counts (the number a training-data
    // pipeline actually budgets by — packed-sequence length, mixture
    // token shares, cost estimates all ride the TOKENIZER's count, not
    // the whitespace word count). Re-runs the same 4 training rounds
    // but keeps the word key alongside each representation, so the
    // final round yields a word → symbol-count encoder table; per-doc
    // totals are then exact BIGINT sums over the (doc, word) tf frame.
    // 100 TB shape: the corpus is touched exactly twice (the word
    // tokenize→count agg; the final tf⋈encoder join, with the encoder
    // VOCAB-sized and broadcastable) — every merge round rides the
    // DISTINCT vocab, so training cost is independent of corpus size,
    // and encoding adds one map-side join. tpw_x100 (tokens per 100
    // words) is the compression diagnostic, HALF_UP exact-integer.
    "bpe_encode" -> { (s, d) =>
      val (tf, enc) = bpeTfEnc(s, d)
      tf.join(enc, "w")
        .groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("n_words"),
          sum(col("tf") * col("n_sym")).as("n_tokens"))
        // tokens per 100 words, HALF_UP exact-integer (both counts > 0
        // whenever the doc has any word — n_sym >= 1 always)
        .selectExpr("doc_id", "n_words", "n_tokens",
          "(200 * n_tokens + n_words) div (2 * n_words) AS tpw_x100")
    },

    // WORDPIECE ENCODING (round 14) — the tokenizer family's other
    // canonical algorithm (Schuster & Nakajima 2012; Wu et al. 2016):
    // greedy longest-match-first segmentation of each word against a
    // learned piece vocabulary, vs BPE's merge replay. Vocab = the
    // top-256 length-2..4 substrings of the distinct-word table by
    // corpus-weighted frequency under the (cnt DESC, piece) TOTAL
    // order (deterministic at the cut, the bpe top1 convention);
    // single chars are implicit fallback pieces. Segmentation is ONE
    // `aggregate` fold per DISTINCT WORD over its positions — try 4,
    // then 3, then 2, else 1 char, vocab membership via a broadcast
    // ≤256-entry map literal (`map_contains_key`) — so the corpus is
    // touched exactly twice (tokenize→tf agg; tf⋈encoder join) and
    // the greedy loop rides the DISTINCT vocab, corpus-independent.
    // A truncated end-of-word probe (substr(pos, 4) with < 4 chars
    // left) may match a shorter piece and overshoot pos — harmless
    // (the word is finished either way) and replayed bit-for-bit by
    // the oracle's identical CASE ladder. The DuckDB oracle segments
    // by recursive CTE over the same vocab.
    "wordpiece_encode" -> { (s, d) =>
      val K = 256
      val words = Dedup.rebalance(Tables.documents(s, d))
        .select(col("doc_id"),
          explode(TextOps.tokens(lower(col("text")))).as("w"))
      val tf = words.groupBy(col("doc_id"), col("w"))
        .agg(count(lit(1)).as("tf")).localCheckpoint(true)
      val wc = tf.groupBy(col("w")).agg(sum(col("tf")).as("wn"))
        .localCheckpoint(true)
      val pieces = wc.select(col("wn"), explode(flatten(
          transform(sequence(lit(2), lit(4)), l =>
            when(length(col("w")) >= l,
              transform(sequence(lit(1), length(col("w")) - l + 1),
                i => col("w").substr(i, l)))
              .otherwise(array().cast("array<string>")))))
          .as("piece"))
        .groupBy(col("piece")).agg(sum(col("wn")).as("cnt"))
        .orderBy(col("cnt").desc, col("piece")).limit(K)
      // model-sized collect (≤ K pieces) → broadcast map literal
      val vocab = pieces.collect().map(_.getString(0)).toSet
      val V = typedlit(vocab.map(p => p -> true).toMap)
      def hit(pos: org.apache.spark.sql.Column, l: Int) =
        map_contains_key(V, col("w").substr(pos, lit(l)))
      val nPieces = aggregate(
        sequence(lit(1), length(col("w"))),
        struct(lit(1).as("pos"), lit(0).as("n")),
        (st, i) => {
          val pos = st.getField("pos")
          val n = st.getField("n")
          def nxt(adv: Int) =
            struct((pos + adv).as("pos"), (n + 1).as("n"))
          when(i < pos, st)
            .when(hit(pos, 4), nxt(4))
            .when(hit(pos, 3), nxt(3))
            .when(hit(pos, 2), nxt(2))
            .otherwise(nxt(1))
        },
        st => st.getField("n").cast("long"))
      val enc = wc.select(col("w"), nPieces.as("n_pieces"))
      tf.join(enc, "w")
        .groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("n_words"),
          sum(col("tf") * col("n_pieces")).as("n_tokens"))
        .selectExpr("doc_id", "n_words", "n_tokens",
          "(200 * n_tokens + n_words) div (2 * n_words) AS tpw_x100")
    },

    // UNIGRAM-LM TOKENIZER TRAINING (round 16) — the third production
    // tokenizer beside BPE and WordPiece: Kudo 2018's unigram model
    // with EM pruning, deterministic exact-integer form (see
    // unigramModel's scaladoc for the full contract). Output: the
    // final vocabulary — piece, length, Viterbi usage count, add-1
    // 1e6-scaled log-probability cell. The oracle replays the seed
    // derivation, both EM rounds' forward/backward Viterbi recursions
    // (shift-state + smallest-l CTEs), the prunes and the ln cells.
    "unigram_train" -> { (s, d) =>
      val (_, vocab, _) = unigramModel(s, d)
      vocab
    },

    // UNIGRAM-LM ENCODING (round 16) — apply the trained unigram model
    // to every document: per-word Viterbi piece counts under the final
    // scores, rolled up per doc exactly like bpe_encode /
    // wordpiece_encode (n_words, n_tokens, HALF-UP tokens-per-100-
    // words). The tokenizer-family comparison is now three-way on
    // identical output shapes.
    "unigram_encode" -> { (s, d) =>
      val (tf, _, enc) = unigramModel(s, d)
      tf.join(enc, "w")
        .groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("n_words"),
          sum(col("tf") * col("n_pieces")).as("n_tokens"))
        .selectExpr("doc_id", "n_words", "n_tokens",
          "(200 * n_tokens + n_words) div (2 * n_words) AS tpw_x100")
    },

    // Tokenizer fertility per language (round 11) — the multilingual-
    // tokenizer-bias metric (fertility = subword tokens per word;
    // Ács 2019, XLM-R analyses): languages the tokenizer serves badly
    // pay more tokens per word and fewer chars per token, which
    // directly inflates their training/serving cost. Computed under
    // the SAME 4-merge BPE encoder as bpe_encode (shared helper), per
    // lang: words, tokens, chars, HALF_UP fertility ×100 and
    // chars-per-token ×100. Shape: bpe_encode's envelope (rounds ride
    // the DISTINCT vocab) + one lang join on the doc-keyed tf frame.
    "tokenizer_fertility" -> { (s, d) =>
      val (tf, enc) = bpeTfEnc(s, d)
      val langs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
      tf.join(enc, "w").join(langs, "doc_id")
        .groupBy(col("lang"))
        .agg(sum(col("tf")).as("n_words"),
          sum(col("tf") * col("n_sym")).as("n_tokens"),
          sum(col("tf") * length(col("w"))).as("n_chars"))
        .selectExpr("lang", "n_words", "n_tokens", "n_chars",
          "(200 * n_tokens + n_words) div (2 * n_words) AS fertility_x100",
          "(200 * n_chars + n_tokens) div (2 * n_tokens) AS chars_per_tok_x100")
    },

    // N-gram novelty scoring (round 10) — per doc, the fraction of its
    // distinct 3-gram shingles whose FIRST corpus occurrence (min
    // doc_id — the crawl-order stand-in) is this doc. The incremental-
    // curation diagnostic behind "is this batch adding content or
    // re-crawling?": near-dups and boilerplate-heavy docs score near 0,
    // genuinely new text near 100. Shingles are ShingleMd5 60-bit
    // hashes (the codegen kernel), so rows crossing the exchanges are
    // (long, long) — never text. Docs with < 3 tokens carry no
    // shingles and are absent (no 0/0 cell). 100 TB shape: one explode
    // → per-doc distinct → min-agg on the hash → hash-join back on the
    // same key → doc agg; everything is (doc,hash)-sized, the verify
    // math is exact-integer HALF_UP.
    "ngram_novelty" -> { (s, d) =>
      val sh = Dedup.rebalance(Tables.documents(s, d))
        .select(col("doc_id"), explode(graft.ext.expr.ShingleMd5.shingleMd5(
          TextOps.tokens(lower(col("text"))), 3)).as("h"))
        .distinct()
        .localCheckpoint(true)
      val first = sh.groupBy(col("h")).agg(min(col("doc_id")).as("first_doc"))
      sh.join(first, "h")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .selectExpr("doc_id", "n_shingles", "n_novel",
          "(200 * n_novel + n_shingles) div (2 * n_shingles) AS novelty_x100")
    },

    // Character-entropy scoring (round 10) — Shannon entropy of each
    // doc's character distribution, the Gopher-family gibberish
    // detector (random keyboard mash ≈ uniform → high; "aaaa…" /
    // single-char padding → near 0; natural text sits in a stable
    // band). H = Σ c·(ln n − ln c)/n in nats, computed under the
    // unigram_logprob discipline: both ln's are floored to 1e6-scaled
    // BIGINTs per (doc,char) AFTER exact-integer counts, the numerator
    // is an exact BIGINT sum, and the mean is HALF_UP integer division
    // (ent_num ≥ 0 always since n ≥ c). Char explode is the explicit
    // substr sequence — identical semantics both engines (split-by-
    // empty-regex differs). Empty docs carry no rows. 100 TB shape:
    // one linear char explode (the same class as the token explodes)
    // → (doc,char) agg → doc agg; nothing wider than the corpus.
    "char_entropy" -> { (s, d) =>
      val cc = Dedup.rebalance(Tables.documents(s, d))
        .select(col("doc_id"),
          explode(when(length(col("text")) >= 1,
            transform(sequence(lit(1), length(col("text"))),
              i => col("text").substr(i, lit(1))))
            .otherwise(array().cast("array<string>"))).as("c"))
        .groupBy(col("doc_id"), col("c")).agg(count(lit(1)).as("cc"))
      val n = cc.groupBy(col("doc_id")).agg(sum(col("cc")).as("n_chars"),
        count(lit(1)).as("n_distinct"))
      cc.join(n, "doc_id")
        .groupBy(col("doc_id"), col("n_chars"), col("n_distinct"))
        .agg(sum(col("cc") *
          (floor(log(col("n_chars").cast("double")) * 1e6 + 0.5).cast("long") -
           floor(log(col("cc").cast("double")) * 1e6 + 0.5).cast("long")))
          .as("ent_num"))
        .selectExpr("doc_id", "n_chars", "n_distinct",
          "(2 * ent_num + n_chars) div (2 * n_chars) AS entropy_x1e6")
    },

    // PPS Poisson sampling + Horvitz–Thompson estimation (round 10) —
    // probability-proportional-to-size sampling per lang stratum
    // (Ohlsson 1998's Poisson πps family): doc i is kept with
    // p_i = min(1, k·w_i/W) where w_i = n_chars, so a size-k expected
    // sample over-represents the big docs that dominate token budgets
    // — the right way to draw eval/inspection subsets when docs vary
    // 1000× in length (uniform sampling would be dominated by tiny
    // docs by count and miss the mass). The keep test is EXACT
    // integer: md5Hash60("pps:"+id)·W < k·w_i·2^60 in DECIMAL(38,0)
    // (HUGEINT in the oracle) — no float probability ever exists —
    // and certainty items (k·w_i ≥ W) are kept outright. The HT
    // estimator is where PPS shines: every probabilistic keep
    // contributes w_i/p_i = W/k to the stratum-total estimate, so
    // est = certain_sum + HALF_UP(n_prob·W/k), again exact-integer.
    // 100 TB shape: the keep test is map-side (stratum totals
    // broadcast); output is strata-sized.
    "pps_sample" -> { (s, d) =>
      Sampling.ppsSummary(
        Tables.documents(s, d).select(col("lang"), col("doc_id"), col("n_chars")),
        "lang", "doc_id", "n_chars", k = 100L)
    },

    // Count-Min frequency estimates (round 8) — the first EXACTLY
    // oracled sketch: CMS cells are pure sums (partition-invariant,
    // unlike MG/HLL), so the 4×2048 sketch built over every 3-gram
    // occurrence replays relationally in DuckDB. Output: the 50 most
    // frequent shingles with exact count, sketch estimate, and the
    // overcount (≥ 0 always — CMS never undercounts). At 100 TB only
    // the sketch survives; the exact side here is the demonstration
    // harness the oracle checks the estimate arithmetic against.
    "cms_freq" -> { (s, d) =>
      val occ = Dedup.rebalance(Tables.documents(s, d))
        .select(explode(graft.ext.expr.ShingleMd5.shingleMd5(
          TextOps.tokens(lower(col("text"))), 3)).as("h"))
        .localCheckpoint(true)
      val sketch = occ.agg(CountMin.agg()(col("h")).as("cms"))
      val exact = occ.groupBy(col("h")).agg(count(lit(1)).as("exact_count"))
      exact.orderBy(col("exact_count").desc, col("h")).limit(50)
        .crossJoin(broadcast(sketch))
        .select(col("h").as("shingle_hash"), col("exact_count"),
          CountMin.estimate(col("cms"), col("h")).as("cms_est"))
        .withColumn("overcount", col("cms_est") - col("exact_count"))
    },

    // Z-order (Morton) clustering key (round 5) — multi-dimensional
    // data-skipping layout (see ext.ZOrder). The key itself is oracled
    // here (the SQL is machine-generated from the same bit loop); the
    // write path + file-statistics pruning effect is spec-gated
    // (ZOrderSpec) since filesystems aren't SQL-expressible.
    "zorder_cluster" -> { (s, d) =>
      val x = pmod(col("l_partkey"), lit(65536L))
      val y = pmod(col("l_suppkey"), lit(65536L))
      Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        x.as("zx"), y.as("zy"),
        ZOrder.interleave16(x, y).as("zkey"))
    },

    // BM25 top-3 terms per document (round 6) — tfidf_topk's keyword
    // extraction upgraded with document-length normalization (Robertson
    // k1=1.2, b=0.75; Lucene-style idf = ln(1+(N-df+0.5)/(df+0.5))).
    // Same cross-engine discipline as tfidf_topk: every input to the
    // double formula is an exact integer (tf, df, dl, N, total token
    // count), the op tree is written identically on both engines
    // (IEEE ops are exactly-rounded, so only ln's last ulp differs),
    // and the rank key is the 1e6-scaled BIGINT floor. dl/avgdl is
    // computed as dl*N/total — one division, no intermediate avgdl
    // rounding. Shape: one explode → (doc,term) tf agg reused for BOTH
    // df and dl (no second scan) → broadcast 1-row totals →
    // TopKPerKey bounded heaps.
    "bm25_topk" -> { (s, d) =>
      val docs = Dedup.rebalance(Tables.documents(s, d))
      // tf feeds three consumers (dl, df, scored join) — checkpoint so
      // the corpus explodes once (2.17 → 1.22 s at sf0.1).
      val tf = docs
        .select(col("doc_id"), explode(TextOps.tokens(lower(col("text")))).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        .localCheckpoint(true)
      val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val totals = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot"))
      val nd = col("n_docs").cast("double")
      val idf = log(lit(1.0) +
        (nd - col("df").cast("double") + lit(0.5)) / (col("df").cast("double") + lit(0.5)))
      val den = col("tf").cast("double") + lit(0.3) +
        lit(0.9) * col("dl").cast("double") * nd / col("tot").cast("double")
      val scored = tf.join(dfreq, "term").join(dl, "doc_id")
        .crossJoin(broadcast(totals))
        .select(col("doc_id"), col("term"), col("tf"), col("df"), col("dl"),
          floor(idf * (col("tf").cast("double") * lit(2.2)) / den * 1e6 + 0.5)
            .cast("long").as("score_x1e6"))
      graft.plans.TopKPerKey.perKey(scored,
        keys = Seq(col("doc_id")),
        order = Seq(col("score_x1e6").desc, col("term")), k = 3)
    },

    // Unigram log-probability quality score (round 6) — the KenLM-free
    // fluency proxy: score each document by its mean corpus-unigram
    // log-probability (rare-token-dense docs score low; the classic
    // pretraining-quality filter alongside text_quality's surface
    // ratios). Cross-engine exactness: ln(ctf/T) is scaled to a BIGINT
    // once per DISTINCT TERM (floor(·1e6+0.5)); each doc's total is
    // then the exact integer Σ tf·lp, and the mean is signed HALF_UP
    // integer division (embed_centroid convention) — no double ever
    // crosses an aggregate, so partial-agg order can't drift. Shape:
    // one explode → (doc,term) tf reused for corpus counts → broadcast
    // 1-row T → two hash aggs; nothing wide.
    "unigram_logprob" -> { (s, d) =>
      val docs = Dedup.rebalance(Tables.documents(s, d))
      // tf feeds two consumers (ctf chain, doc-total join) — explode
      // the corpus once (see bm25_topk).
      val tf = docs
        .select(col("doc_id"), explode(TextOps.tokens(lower(col("text")))).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        .localCheckpoint(true)
      val ctf = tf.groupBy(col("term")).agg(sum(col("tf")).as("ctf"))
      val tot = ctf.agg(sum(col("ctf")).as("t_tokens"))
      val lp = ctf.crossJoin(broadcast(tot))
        .select(col("term"),
          floor(log(col("ctf").cast("double") / col("t_tokens").cast("double")) * 1e6
            + 0.5).cast("long").as("lp_x1e6"))
      tf.join(lp, "term")
        .groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("n_tokens"),
          sum(col("tf") * col("lp_x1e6")).as("sum_lp_x1e6"))
        // mean at 1e6 scale, signed HALF_UP exact integer division
        .withColumn("num", col("sum_lp_x1e6"))
        .selectExpr("doc_id", "n_tokens", "sum_lp_x1e6",
          """CASE WHEN num >= 0 THEN (2 * num + n_tokens) div (2 * n_tokens)
            |     ELSE -((2 * -num + n_tokens) div (2 * n_tokens)) END
            |  AS avg_lp_x1e6""".stripMargin)
    },

    // Bigram conditional log-probability fluency score (round 10) —
    // unigram_logprob's next order: P(w2|w1) with add-1 smoothing over
    // the corpus unigram vocabulary, the classic KenLM-style fluency
    // proxy that catches shuffled/garbled text a unigram LM scores as
    // fluent (same words, broken transitions). Exact-integer
    // discipline identical to unigram_logprob: ln((c(w1,w2)+1)/
    // (c(w1·)+|V|)) is scaled to BIGINT once per DISTINCT BIGRAM; doc
    // totals are exact Σ tf·lp; the mean is signed HALF_UP integer
    // division — no double crosses an aggregate. Shape: the token
    // arrays materialize ONCE (localCheckpoint, two consumers: vocab
    // count + bigram explode); bigrams derive map-side via zip_with
    // over adjacent slices (no positional self-join — the (doc,pos)⋈
    // (doc,pos+1) formulation shuffles the whole corpus twice); the
    // conditional denominator c(w1·) rides the DISTINCT-BIGRAM frame
    // (head-group sums), never the corpus; |V| is a broadcast 1-row.
    // 100 TB: everything after the one (doc,bigram) tf exchange is
    // vocab-sized — per-round cost rides the distinct bigram count.
    "bigram_logprob" -> { (s, d) =>
      val docs = Dedup.rebalance(Tables.documents(s, d))
      val toks = docs.select(col("doc_id"),
          TextOps.tokens(lower(col("text"))).as("toks"))
        .localCheckpoint(true)
      val v = toks.select(explode(col("toks")).as("term"))
        .agg(count_distinct(col("term")).as("v"))
      val tf = toks
        .select(col("doc_id"),
          explode(zip_with(
            slice(col("toks"), lit(1), greatest(size(col("toks")) - 1, lit(0))),
            slice(col("toks"), lit(2), greatest(size(col("toks")) - 1, lit(0))),
            (a, b) => concat(a, lit(" "), b))).as("bigram"))
        .groupBy(col("doc_id"), col("bigram")).agg(count(lit(1)).as("tf"))
        .localCheckpoint(true)
      val cbf = tf.groupBy(col("bigram")).agg(sum(col("tf")).as("cbf"))
        .withColumn("head", substring_index(col("bigram"), " ", 1))
      val heads = cbf.groupBy(col("head")).agg(sum(col("cbf")).as("hc"))
      val lp = cbf.join(heads, "head").crossJoin(broadcast(v))
        .select(col("bigram"),
          floor(log((col("cbf") + 1).cast("double") /
              (col("hc") + col("v")).cast("double")) * 1e6 + 0.5)
            .cast("long").as("lp_x1e6"))
      tf.join(lp, "bigram")
        .groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("n_bigrams"),
          sum(col("tf") * col("lp_x1e6")).as("sum_lp_x1e6"))
        .withColumn("num", col("sum_lp_x1e6"))
        .selectExpr("doc_id", "n_bigrams", "sum_lp_x1e6",
          """CASE WHEN num >= 0 THEN (2 * num + n_bigrams) div (2 * n_bigrams)
            |     ELSE -((2 * -num + n_bigrams) div (2 * n_bigrams)) END
            |  AS avg_lp_x1e6""".stripMargin)
    },

    // Exactly-oracled k-means training (round 10) — the Lloyd
    // refinement the IVF family deliberately skips in its oracled path
    // (VectorOps.ivfFlatTopK uses a SAMPLED quantizer precisely
    // because ml.KMeans isn't engine-replicable; its doc says
    // "before any Lloyd refinement"). This closes that gap: 2 unrolled
    // Lloyd rounds over milli-quantized vectors where EVERY step is
    // exact integer — assignment by the codegen'd idist2 squared
    // distance with (dist, cid) lexicographic tie-break, centroid
    // update by per-dim signed HALF_UP integer means, empty clusters
    // keeping their old centroid — so the trained model itself
    // hash-compares across engines (the output carries each round's
    // per-cluster inertia and the md5 of the updated centroid).
    // 100 TB shape: centroids broadcast (k=8 tiny vectors), assignment
    // is one map-side pass, the update aggregates (cid, dim) cells —
    // the classic scalable k-means layout; rounds are unrolled with
    // per-round checkpoints like bpe_train.
    "kmeans_train" -> { (s, d) =>
      val vecs = Tables.embeddings(s, d)
        .select(col("vec_id"), VectorOps.quantize1000(col("embedding")).as("q"))
        .localCheckpoint(true)
      VectorOps.lloydRounds(vecs, k = 8, rounds = 2).zipWithIndex.map {
        case ((assigned, cents), i) =>
          assigned.groupBy(col("cid"))
            .agg(count(lit(1)).as("n_assigned"), sum(col("dist")).as("inertia"))
            .join(cents, "cid")
            .select(lit(i + 1).as("round"), col("cid"), col("n_assigned"),
              col("inertia"),
              md5(concat_ws(",", transform(col("cv"), _.cast("string")))
                .cast("binary")).as("centroid_md5"))
      }.reduce(_ unionByName _)
    },

    // Trained-IVF serving (round 10) — the other half of kmeans_train:
    // bucket the corpus under the FINAL Lloyd centroids, route the
    // query to its nProbe=2 nearest refined centroids (exact-integer
    // distances on the quantized vectors), exact-cosine rerank only
    // the probed buckets — the full train → index → query loop with
    // every step engine-replicable (ivf_topk serves the UNREFINED
    // sampled quantizer; ml.KMeans-backed ivfTopK can never be
    // hash-oracled). Same output shape and rounding convention as
    // ivf_topk. 100 TB shape identical to ivfFlatTopK: the refined
    // routing table is model-sized, bucketing is the map-side
    // assignment written once as the table's bucket column, the probe
    // reads nProbe/k of the corpus, TakeOrdered ends it.
    "ivf_trained_topk" -> { (s, d) =>
      val nProbe = 2
      val emb = Tables.embeddings(s, d)
      val vecs = emb
        .select(col("vec_id"), VectorOps.quantize1000(col("embedding")).as("q"))
        .localCheckpoint(true)
      val cents = VectorOps.lloydRounds(vecs, k = 8, rounds = 2).last._2
      val bucketed = VectorOps.assignTo(vecs, cents)
        .select(col("vec_id"), col("cid").as("bucket"))
      val qq = vecs.filter(col("vec_id") === 0).select(col("q").as("qq"))
      val probes = cents.crossJoin(broadcast(qq))
        .withColumn("dist", VectorOps.idist2(col("qq"), col("cv")))
        .orderBy(col("dist"), col("cid")).limit(nProbe)
        .select(col("cid").as("bucket"))
      val qraw = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("qv"))
      emb.join(bucketed, "vec_id").join(broadcast(probes), "bucket")
        .crossJoin(broadcast(qraw))
        .select(col("vec_id"),
          round(VectorOps.cosineFast(col("embedding"), col("qv")), 4)
            .as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id")).limit(10)
    },

    // Vocabulary-coverage quality signal (round 10) — the Gopher-rule
    // pair the quality_filter chain doesn't carry: per doc, the
    // fraction of token OCCURRENCES drawn from the corpus's top-100
    // terms (natural text is dominated by its common vocabulary;
    // machine-generated/obfuscated text is not) and the fraction that
    // are corpus HAPAXES (cc = 1 — gibberish, IDs and mojibake are
    // hapax-heavy; a doc's own novel words are fine in moderation).
    // Exact integers end to end: both fractions are HALF_UP at 1e4
    // scale (basis points). 100 TB shape: ONE corpus explode feeds the
    // (doc,term) tf, the corpus counts derive from it, the top-100 cut
    // is a bounded TakeOrdered broadcast back, and the doc rollup
    // rides the tf frame.
    "vocab_coverage" -> { (s, d) =>
      val tf = Dedup.rebalance(Tables.documents(s, d))
        .select(col("doc_id"), explode(TextOps.tokens(lower(col("text")))).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        .localCheckpoint(true)
      val cc = tf.groupBy(col("term")).agg(sum(col("tf")).as("cc"))
        .localCheckpoint(true)
      val top = cc.orderBy(col("cc").desc, col("term")).limit(100)
        .select(col("term"), lit(1L).as("is_top"))
      tf.join(cc, "term")
        .join(broadcast(top), Seq("term"), "left")
        .groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("n_tokens"),
          sum(when(col("is_top") === 1L, col("tf")).otherwise(0L)).as("top_tok"),
          sum(when(col("cc") === 1L, col("tf")).otherwise(0L)).as("hapax_tok"))
        .selectExpr("doc_id", "n_tokens",
          "(20000 * top_tok + n_tokens) div (2 * n_tokens) AS top100_x1e4",
          "(20000 * hapax_tok + n_tokens) div (2 * n_tokens) AS hapax_x1e4")
    },

    // PMI phrase mining (round 10) — pointwise mutual information over
    // adjacent token pairs (Church & Hanks 1990; the word2phrase merge
    // score in Mikolov et al. 2013 is its discounted variant): the
    // top-50 bigrams whose co-occurrence beats independence, the
    // phrase/collocation detector a tokenizer- or embedding-pipeline
    // runs to promote "new york"-style units before training.
    // PMI = ln(c12·Tu²/(Tb·c1·c2)), every input an exact integer, the
    // double op tree written IDENTICALLY in both engines (bm25/tfidf
    // convention: IEEE mult/div are exactly rounded, ln is the one
    // libm call), floored at 1e6 scale for the rank key; min-support
    // c12 ≥ 5 keeps the noise floor out (a 1-occurrence pair of two
    // hapaxes would otherwise top the list). 100 TB shape: one token
    // explode for unigram counts, one map-side zip_with bigram
    // derivation (no positional self-join), totals broadcast, the
    // c1/c2 joins ride the DISTINCT-bigram frame, top cut is a
    // bounded TakeOrdered.
    "phrase_detect" -> { (s, d) =>
      val toks = Dedup.rebalance(Tables.documents(s, d))
        .select(col("doc_id"), TextOps.tokens(lower(col("text"))).as("toks"))
        .localCheckpoint(true)
      val uni = toks.select(explode(col("toks")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
        .localCheckpoint(true)
      val tu = uni.agg(sum(col("c")).as("tu"))
      val tb = toks
        .select((size(col("toks")) - 1).cast("long").as("nb"))
        .agg(sum(when(col("nb") > 0L, col("nb")).otherwise(0L)).as("tb"))
      val bi = toks.select(explode(zip_with(
          slice(col("toks"), lit(1), greatest(size(col("toks")) - 1, lit(0))),
          slice(col("toks"), lit(2), greatest(size(col("toks")) - 1, lit(0))),
          (a, b) => concat(a, lit(" "), b))).as("bigram"))
        .groupBy(col("bigram")).agg(count(lit(1)).as("c12"))
        .filter(col("c12") >= 5L)
      bi.withColumn("w1", substring_index(col("bigram"), " ", 1))
        .withColumn("w2", substring_index(col("bigram"), " ", -1))
        .join(uni.select(col("w").as("w1"), col("c").as("c1")), "w1")
        .join(uni.select(col("w").as("w2"), col("c").as("c2")), "w2")
        .crossJoin(broadcast(tu)).crossJoin(broadcast(tb))
        .select(col("bigram"), col("c12"), col("c1"), col("c2"),
          floor(log((col("c12").cast("double") * col("tu") * col("tu")) /
              (col("tb").cast("double") * col("c1") * col("c2"))) * 1e6 + 0.5)
            .cast("long").as("pmi_x1e6"))
        .orderBy(col("pmi_x1e6").desc, col("bigram")).limit(50)
    },

    // TextRank keyword extraction (round 12) — Mihalcea & Tarau
    // (EMNLP 2004): PageRank over the token CO-OCCURRENCE graph
    // instead of a link graph — the unsupervised keyword/topic
    // extractor curation reports use next to phrase_detect's PMI
    // collocations (PMI finds PAIRS; TextRank ranks WORDS by graph
    // centrality). Vertices are ≥ 4-char lowercase tokens (the
    // content-word proxy for the paper's POS filter), undirected
    // edges are DISTINCT adjacent co-occurrences in the filtered
    // sequence (window 2), and 4 unrolled link_rank-style exact-
    // integer PR rounds (1e6-scaled ranks, r div deg contributions,
    // 85/100 damping — every division a truncating BIGINT div on
    // non-negative operands) make both engines bit-identical; top-20
    // by (rank, word) is a total order so the cut can't diverge.
    // 100 TB shape: one map-side zip_with pair derivation; the graph
    // is DISTINCT-edge-sized (vocabulary², bounded, never
    // corpus-sized); each round is one join+agg exchange pair over
    // (word, long) rows; the cut is a bounded TakeOrdered.
    "textrank_keywords" -> { (s, d) =>
      val toks = TextOps.tokens(lower(col("text")))
      val pairs = Dedup.rebalance(Tables.documents(s, d))
        .select(filter(toks, t => length(t) >= 4).as("ws"))
        .filter(size(col("ws")) >= 2)
        .select(explode(zip_with(
          slice(col("ws"), lit(1), greatest(size(col("ws")) - 1, lit(0))),
          slice(col("ws"), lit(2), greatest(size(col("ws")) - 1, lit(0))),
          (a, b) => struct(least(a, b).as("wa"), greatest(a, b).as("wb"))))
          .as("p"))
        .select(col("p.wa").as("wa"), col("p.wb").as("wb"))
        .filter(col("wa") =!= col("wb"))
        .distinct()
      val und = pairs.select(col("wa").as("src"), col("wb").as("dst"))
        .unionByName(pairs.select(col("wb").as("src"), col("wa").as("dst")))
        .localCheckpoint(true)
      val deg = und.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .localCheckpoint(true)
      val nV = deg.agg(count(lit(1)).cast("long").as("n"))
      val ed = und.join(deg, "src")
      var ranks = deg.crossJoin(broadcast(nV))
        .selectExpr("src AS w", "1000000 div n AS r")
      for (_ <- 1 to 4) {
        val contrib = ed.join(ranks, ed("src") === ranks("w"))
          .groupBy(col("dst")).agg(sum(expr("r div deg")).as("cs"))
        ranks = deg.select(col("src").as("w")).crossJoin(broadcast(nV))
          .join(contrib, col("w") === col("dst"), "left")
          .selectExpr("w", "150000 div n + (85 * coalesce(cs, 0)) div 100 AS r")
      }
      ranks.join(deg.select(col("src").as("w"), col("deg")), "w")
        .select(col("w").as("word"), col("deg").as("degree"),
          col("r").as("rank_x1e6"))
        .orderBy(col("rank_x1e6").desc, col("word")).limit(20)
    },

    // Held-out LM scoring (round 10) — bigram_logprob as DEPLOYED
    // (CCNet/Wenzek et al. 2020 filter by the perplexity of a FIXED
    // LM over incoming data; scoring your own training counts, as
    // bigram_logprob does, can't see overfitting): the add-1 bigram
    // LM trains on the md5-selected 80% shard ONLY, then scores the
    // held-out 20% — unseen bigrams get ln((0+1)/(hc+|V|)), unseen
    // heads the ln(1/|V|) floor, exactly the backoff a serving filter
    // applies to novel text. Same exact-integer discipline (1e6
    // BIGINT lp per DISTINCT held-out bigram, exact doc sums, signed
    // HALF_UP mean). 100 TB shape: the MODEL (train bigram + head
    // counts) is distinct-bigram-sized; scoring joins ride the
    // distinct held-out bigram frame; one (doc,bigram) exchange total.
    "heldout_perplexity" -> { (s, d) =>
      val toks = Dedup.rebalance(Tables.documents(s, d))
        .select(col("doc_id"),
          (pmod(Dedup.md5Hash60(concat(lit("lm:"), col("doc_id").cast("string"))),
            lit(10L)) < 8L).as("is_train"),
          TextOps.tokens(lower(col("text"))).as("toks"))
        .localCheckpoint(true)
      val btf = toks.select(col("doc_id"), col("is_train"),
          explode(zip_with(
            slice(col("toks"), lit(1), greatest(size(col("toks")) - 1, lit(0))),
            slice(col("toks"), lit(2), greatest(size(col("toks")) - 1, lit(0))),
            (a, b) => concat(a, lit(" "), b))).as("bigram"))
        .groupBy(col("doc_id"), col("is_train"), col("bigram"))
        .agg(count(lit(1)).as("tf"))
        .localCheckpoint(true)
      val v = toks.filter(col("is_train"))
        .select(explode(col("toks")).as("term"))
        .agg(count_distinct(col("term")).as("v"))
      val trainBg = btf.filter(col("is_train"))
        .groupBy(col("bigram")).agg(sum(col("tf")).as("c12"))
        .withColumn("head", substring_index(col("bigram"), " ", 1))
        .localCheckpoint(true)
      val heads = trainBg.groupBy(col("head")).agg(sum(col("c12")).as("hc"))
      val lp = btf.filter(!col("is_train")).select(col("bigram")).distinct()
        .withColumn("head", substring_index(col("bigram"), " ", 1))
        .join(trainBg.select(col("bigram"), col("c12")), Seq("bigram"), "left")
        .join(heads, Seq("head"), "left")
        .crossJoin(broadcast(v))
        .select(col("bigram"),
          floor(log((coalesce(col("c12"), lit(0L)) + 1).cast("double") /
              (coalesce(col("hc"), lit(0L)) + col("v")).cast("double")) * 1e6 + 0.5)
            .cast("long").as("lp_x1e6"))
      btf.filter(!col("is_train")).join(lp, "bigram")
        .groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("n_bigrams"),
          sum(col("tf") * col("lp_x1e6")).as("sum_lp_x1e6"))
        .withColumn("num", col("sum_lp_x1e6"))
        .selectExpr("doc_id", "n_bigrams", "sum_lp_x1e6",
          """CASE WHEN num >= 0 THEN (2 * num + n_bigrams) div (2 * n_bigrams)
            |     ELSE -((2 * -num + n_bigrams) div (2 * n_bigrams)) END
            |  AS avg_lp_x1e6""".stripMargin)
    },

    // DSIR-style importance weights (round 8; Xie et al. 2023 motivate
    // importance resampling from an n-gram proxy): per-doc log
    // importance weight between the TARGET distribution (lang='en'
    // docs — the quality-class stand-in) and the CORPUS distribution,
    // both add-1-smoothed unigram LMs over the corpus vocabulary.
    // Every formula input is an exact integer (tf, per-class term
    // counts, totals, |V|); the one double op per (term, class) is ln
    // of a ratio of exact-integer-valued doubles, floored at 1e6 scale
    // BEFORE any aggregation (the unigram_logprob discipline) — doc
    // weights are exact BIGINT sums. Shape: ONE corpus explode feeds
    // both class counts; 1-row totals broadcast; the per-term delta
    // joins back onto the same tf frame.
    "dsir_weights" -> { (s, d) =>
      val docs = Dedup.rebalance(Tables.documents(s, d))
      val tf = docs
        .select(col("doc_id"), col("lang"),
          explode(TextOps.tokens(lower(col("text")))).as("term"))
        .groupBy(col("doc_id"), col("lang"), col("term"))
        .agg(count(lit(1)).as("tf"))
        .localCheckpoint(true)
      val cc = tf.groupBy(col("term")).agg(sum(col("tf")).as("cc"))
      val tc = tf.filter(col("lang") === "en")
        .groupBy(col("term")).agg(sum(col("tf")).as("tc"))
      val totals = cc.agg(sum(col("cc")).as("c_tot"), count(lit(1)).as("v"))
        .crossJoin(tc.agg(sum(col("tc")).as("t_tot")))
      val dlp = cc.join(tc, Seq("term"), "left")
        .crossJoin(broadcast(totals))
        .select(col("term"),
          (floor(log((coalesce(col("tc"), lit(0L)) + 1).cast("double") /
              (col("t_tot") + col("v")).cast("double")) * 1e6 + 0.5).cast("long") -
           floor(log((col("cc") + 1).cast("double") /
              (col("c_tot") + col("v")).cast("double")) * 1e6 + 0.5).cast("long"))
            .as("dlp_x1e6"))
      tf.join(dlp, "term")
        .groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("n_tokens"),
          sum(col("tf") * col("dlp_x1e6")).as("weight_x1e6"))
    },

    // DoReMi-style domain reweighting (round 14; Xie et al. 2023 —
    // DoReMi tunes the training mixture by upweighting domains with
    // EXCESS LOSS, the gap between the proxy model's loss on a domain
    // and a reference capacity). Here the per-domain reference
    // capacity is the domain's OWN add-1 unigram LM and the proxy is
    // the GLOBAL corpus LM: a domain the corpus mixture models much
    // worse than its own capacity allows is under-served and gains
    // weight. The weight iteration is multiplicative weights in its
    // LINEARIZED exact-integer form (Arora–Hazan–Kale:
    // w ← w·(1 + η·excess), η = 1 at 1e6 scale), renormalized HALF_UP
    // to Σ ≈ 1e6 each round, 4 unrolled rounds — the link_rank
    // unrolled-exact-integer convention. The one double op per
    // (source, term) is ln of exact-integer ratios floored at 1e6
    // BEFORE aggregation (the dsir_weights discipline); per-domain
    // loss sums and every MWU product route through DECIMAL(38,0)
    // (HUGEINT in the oracle) so nothing wraps Int64 at any corpus
    // size. 100 TB shape: ONE (source, term) tf exchange; both LMs
    // ride distinct-vocab cardinality; the MWU rounds run on the
    // D-row domain frame (D = mixture-config cardinality, bounded)
    // under an unpartitioned window — the winsorize bounded-frame
    // convention.
    "domain_reweight" -> { (s, d) =>
      val tf = Dedup.rebalance(Tables.documents(s, d))
        .select(col("source"),
          explode(TextOps.tokens(lower(col("text")))).as("term"))
        .groupBy(col("source"), col("term")).agg(count(lit(1)).as("tf"))
        .localCheckpoint(true)
      val cc = tf.groupBy(col("term")).agg(sum(col("tf")).as("cc"))
      val totals = cc.agg(sum(col("cc")).as("c_tot"), count(lit(1)).as("v"))
      val dTot = tf.groupBy(col("source")).agg(sum(col("tf")).as("d_tot"))
      val scored = tf.join(cc, "term").join(dTot, "source")
        .crossJoin(broadcast(totals))
        .select(col("source"), col("tf"),
          floor(log((col("cc") + 1).cast("double") /
              (col("c_tot") + col("v")).cast("double")) * 1e6 + 0.5)
            .cast("long").as("lp_g_x1e6"),
          floor(log((col("tf") + 1).cast("double") /
              (col("d_tot") + col("v")).cast("double")) * 1e6 + 0.5)
            .cast("long").as("lp_d_x1e6"))
      val losses = scored.groupBy(col("source"))
        .agg(sum(col("tf")).as("n_tokens"),
          sum(expr("-CAST(tf * lp_g_x1e6 AS DECIMAL(38,0))")).as("ng"),
          sum(expr("-CAST(tf * lp_d_x1e6 AS DECIMAL(38,0))")).as("nd"))
        .selectExpr("source", "n_tokens",
          "CAST((2 * ng + n_tokens) div (2 * n_tokens) AS BIGINT)" +
            " AS loss_global_x1e6",
          "CAST((2 * nd + n_tokens) div (2 * n_tokens) AS BIGINT)" +
            " AS loss_own_x1e6")
        .withColumn("excess_x1e6",
          greatest(col("loss_global_x1e6") - col("loss_own_x1e6"), lit(0L)))
      val all = Window.partitionBy(lit(0))
      var cur = losses
        .withColumn("ndom", count(lit(1)).over(all))
        .withColumn("w", expr("(2 * 1000000 + ndom) div (2 * ndom)"))
      (1 to 4).foreach { _ =>
        cur = cur
          .withColumn("u",
            expr("CAST(w AS DECIMAL(38,0)) * (1000000 + excess_x1e6)"))
          .withColumn("su", sum(col("u")).over(all))
          .withColumn("w",
            expr("CAST((2 * u * 1000000 + su) div (2 * su) AS BIGINT)"))
          .drop("u", "su")
      }
      cur.select(col("source"), col("n_tokens"), col("loss_global_x1e6"),
        col("loss_own_x1e6"), col("excess_x1e6"),
        col("w").as("weight_x1e6"))
    },

    // Supervised quality classifier (round 10) — the fastText-style
    // distillation step real curation pipelines run (Joulin et al.
    // 2016; CCNet, GPT-3 appendix A): take cheap rule labels
    // (QualityFilter.keep over the same perturbed corpus quality_filter
    // gates), hash-split docs into train/serve halves, train a
    // multinomial naive-Bayes token model on the train half, then
    // score EVERY doc and report the (is_train, actual, predicted)
    // confusion cells with exact BIGINT score sums. Unlike
    // dsir_weights (class = lang metadata, output = per-doc weights),
    // this is a full supervised loop: labels are COMPUTED, the model
    // is trained on a capped vocabulary (top-K=300 train terms by
    // count — the fastText bucket-cap analog, deterministic
    // (count desc, term) cut; OOV terms contribute 0), and the served
    // artifact is a decision. Exact-integer discipline throughout:
    // per-term log-odds and the class prior are floored to 1e6-scaled
    // BIGINTs BEFORE any aggregation (unigram_logprob convention), so
    // doc scores are exact integer sums and the confusion cells can't
    // drift. 100 TB shape: one corpus explode feeds label counts and
    // scoring; the model (vocab weights + totals + prior) is
    // model-sized and broadcast; everything between the (doc,term)
    // exchange and the 8-row output rides the capped vocab.
    "quality_classifier" -> { (s, d) =>
      nbScores(s, d)
        .groupBy(col("is_train"), col("actual_keep"),
          (col("score") > 0L).as("predicted_keep"))
        .agg(count(lit(1)).as("n_docs"), sum(col("score")).as("sum_score_x1e6"))
    },

    // Held-out AUC on a QUANTIZED score axis (round 11, quantization
    // round 12) — the threshold-free quality metric
    // quality_classifier's confusion cells can't express (accuracy
    // moves with the 0-threshold; AUC ranks the whole score axis).
    // The cumulative midrank window must ride a BOUNDED frame: raw NB
    // scores are exact integer sums, so their distinct cardinality
    // approaches held-out-doc cardinality at corpus scale — a
    // single-partition window over that is the winsorize failure
    // mode. So the score axis is first quantized into AucBuckets
    // equal-width integer buckets over [lo, hi] (the winsorize move;
    // exact integers: bucket = (score−lo)·B div (hi−lo+1), the
    // (score−lo) term cast DECIMAL(38,0) so the product can't
    // overflow at any corpus score range), and the Mann–Whitney
    // midrank identity runs per DISTINCT BUCKET: midrank×2 =
    // 2·cumBelow + cnt + 1, Σ_pos rank2 BIGINT-exact, AUC =
    // (Σ rank2 − P(P+1)) / (2PN) as one HALF_UP 1e6 cell — no floats
    // anywhere. Ties within a bucket coarsen AUC toward 1/2 by at
    // most the bucket mass (standard binned-AUC bias); the axis
    // bound is what buys the 100 TB shape: one (lo, hi) agg
    // broadcasts back, one partial+final agg onto ≤ B rows, and the
    // explicit single-group window runs over ≤ B = 4096 rows by
    // construction (PlanSpec holds the window input to the
    // bucket-keyed aggregate).
    "classifier_auc" -> { (s, d) =>
      val held = nbScores(s, d).filter(!col("is_train"))
      val bounds = held.agg(min(col("score")).as("lo"),
        max(col("score")).as("hi"))
      val bucketed = held.crossJoin(broadcast(bounds))
        .selectExpr(
          s"CAST((CAST(score - lo AS DECIMAL(38,0)) * $AucBuckets) " +
            "div (hi - lo + 1) AS BIGINT) AS bucket",
          "actual_keep")
      val byBucket = bucketed.groupBy(col("bucket"))
        .agg(count(lit(1)).as("cnt"),
          sum(when(col("actual_keep"), 1L).otherwise(0L)).as("pos"))
      val cum = Window.partitionBy(lit(0)).orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, -1)
      byBucket
        .withColumn("below", coalesce(sum(col("cnt")).over(cum), lit(0L)))
        .agg(count(lit(1)).as("n_buckets"),
          sum(col("pos")).as("n_pos"),
          sum(col("cnt") - col("pos")).as("n_neg"),
          sum(col("pos") * (lit(2L) * col("below") + col("cnt") + 1))
            .as("sum_rank2_pos"))
        .selectExpr("n_buckets", "n_pos", "n_neg", "sum_rank2_pos",
          """(2 * 1000000 * CAST(sum_rank2_pos - n_pos * (n_pos + 1) AS DECIMAL(38,0))
            |   + 2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg)
            | div (2 * 2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg) AS auc_x1e6"""
            .stripMargin)
    },

    // Average precision / PR-AUC (round 15) — the class-imbalance
    // ranking metric beside classifier_auc's ROC (Davis & Goadrich,
    // ICML 2006: under heavy imbalance ROC flatters, PR doesn't): on
    // the SAME quantized AucBuckets axis, walk buckets from best
    // score down and sum each positive-carrying bucket's
    // precision-at-cut weighted by its recall mass — term_x1e6 =
    // HALF_UP(1e6·pos_i·cumPos_i / (n_pos·cumCnt_i)), every factor an
    // exact integer and the products DECIMAL(38,0)-routed, so
    // ap_x1e6 = Σ terms is exact (benford's rounded-term contract).
    // The lift verdict compares AP against prevalence (a random
    // ranker's AP) by pure-integer cross-multiplication. 100 TB
    // shape: identical to classifier_auc — one (lo, hi) agg
    // broadcasts back, one partial+final agg onto ≤ 4096 bucket rows,
    // the cumulative window rides that bounded frame.
    "auc_pr" -> { (s, d) =>
      val held = nbScores(s, d).filter(!col("is_train"))
      val bounds = held.agg(min(col("score")).as("lo"),
        max(col("score")).as("hi"))
      val byBucket = held.crossJoin(broadcast(bounds))
        .selectExpr(
          s"CAST((CAST(score - lo AS DECIMAL(38,0)) * $AucBuckets) " +
            "div (hi - lo + 1) AS BIGINT) AS bucket",
          "actual_keep")
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("cnt"),
          sum(when(col("actual_keep"), 1L).otherwise(0L)).as("pos"))
        .localCheckpoint(true)
      val tot = byBucket.agg(sum(col("pos")).as("tot_pos"))
      val cum = Window.partitionBy(lit(0)).orderBy(col("bucket").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      byBucket
        .withColumn("cum_pos", sum(col("pos")).over(cum))
        .withColumn("cum_cnt", sum(col("cnt")).over(cum))
        .crossJoin(broadcast(tot))
        .withColumn("term_x1e6", expr(
          "CASE WHEN pos > 0 THEN " +
            "CAST((2 * 1000000 * CAST(pos AS DECIMAL(38,0)) * cum_pos" +
            " + CAST(tot_pos AS DECIMAL(38,0)) * cum_cnt)" +
            " div (2 * CAST(tot_pos AS DECIMAL(38,0)) * cum_cnt)" +
            " AS BIGINT) ELSE CAST(0 AS BIGINT) END"))
        .agg(count(lit(1)).as("n_buckets"),
          sum(col("pos")).as("n_pos"),
          sum(col("cnt") - col("pos")).as("n_neg"),
          sum(col("term_x1e6")).as("ap_x1e6"))
        .selectExpr("n_buckets", "n_pos", "n_neg", "ap_x1e6",
          "(2 * 1000000 * n_pos + (n_pos + n_neg))" +
            " div (2 * (n_pos + n_neg)) AS prevalence_x1e6")
        .withColumn("lifts", col("ap_x1e6") > col("prevalence_x1e6"))
    },

    // Classifier calibration curve (round 12) — the reliability
    // diagram next to classifier_auc's ranking metric (DeGroot &
    // Fienberg 1983; Niculescu-Mizil & Caruana 2005): held-out NB
    // scores bucket into 10 equal-width bins (the same exact-integer
    // DECIMAL(38,0) bin formula as the AUC quantizer, so no corpus
    // score range can overflow it) and each bin reports its doc
    // count, positive count, and HALF_UP empirical positive rate —
    // plus a running-max monotonicity certificate (a well-calibrated
    // score's positive rate is non-decreasing in the bin; the flag
    // pins WHERE it first inverts instead of averaging it away). The
    // certificate window is explicitly single-group but rides ≤ 10
    // post-aggregate rows by construction — the classifier_auc
    // bounded-axis discipline. 100 TB shape: one (lo, hi) agg
    // broadcasts back; one partial+final agg onto ≤ 10 rows.
    "classifier_calibration" -> { (s, d) =>
      val B = 10
      val held = nbScores(s, d).filter(!col("is_train"))
      val bounds = held.agg(min(col("score")).as("lo"),
        max(col("score")).as("hi"))
      val binned = held.crossJoin(broadcast(bounds))
        .selectExpr(
          s"CAST((CAST(score - lo AS DECIMAL(38,0)) * $B) " +
            "div (hi - lo + 1) AS BIGINT) AS bin",
          "actual_keep")
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("actual_keep"), 1L).otherwise(0L)).as("n_pos"))
        .withColumn("pos_rate_x1e6",
          expr("(2 * 1000000 * n_pos + n_docs) div (2 * n_docs)"))
      val prev = Window.partitionBy(lit(0)).orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, -1)
      binned
        .withColumn("prev_max", max(col("pos_rate_x1e6")).over(prev))
        .select(col("bin"), col("n_docs"), col("n_pos"),
          col("pos_rate_x1e6"),
          (col("prev_max").isNull ||
            col("pos_rate_x1e6") >= col("prev_max")).as("monotone_so_far"))
    },

    // Brier score of the histogram-calibrated forecaster (round 15) —
    // the PROPER scoring rule beside classifier_auc's ranking metric
    // and classifier_calibration's reliability diagram (Brier 1950;
    // Murphy 1973): raw NB log-odds can't feed Brier exactly (sigmoid
    // is a libm transcendental — cross-engine drift), so the forecast
    // IS the calibration table: the TRAIN half's 10-bin empirical
    // positive rate (exact HALF_UP 1e6 cells), applied to HELD-OUT
    // docs binned on the train bounds (clamped into [0, B−1]; a held
    // bin the train half never populated falls back to the train base
    // rate). brier_x1e12 = HALF_UP mean of (rate − 1e6·y)² — integer
    // end-to-end — and the skill verdict compares it against the
    // constant held-base-rate forecaster, whose error sum collapses
    // algebraically to n_pos·(1e6−p̄)² + n_neg·p̄² (no per-doc pass).
    // 100 TB shape: the NB chain's envelope + two (lo, hi)-style aggs;
    // the rate table is ≤ 10 rows broadcast, the error sum one
    // partial+final agg.
    "brier_score" -> { (s, d) =>
      val B = 10
      val sc = nbScores(s, d).localCheckpoint(true)
      val train = sc.filter(col("is_train"))
      val bounds = train.agg(min(col("score")).as("lo"),
        max(col("score")).as("hi"))
      val binOf = s"least(CAST(${B - 1} AS BIGINT), greatest(CAST(0 AS BIGINT), " +
        s"CAST((CAST(score - lo AS DECIMAL(38,0)) * $B) " +
        "div (hi - lo + 1) AS BIGINT))) AS bin"
      val rates = train.crossJoin(broadcast(bounds))
        .selectExpr(binOf, "actual_keep")
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("actual_keep"), 1L).otherwise(0L)).as("n_pos"))
        .selectExpr("bin",
          "(2 * 1000000 * n_pos + n_docs) div (2 * n_docs) AS rate_x1e6")
      val trainBase = train.agg(count(lit(1)).as("tn"),
        sum(when(col("actual_keep"), 1L).otherwise(0L)).as("tpos"))
        .selectExpr("(2 * 1000000 * tpos + tn) div (2 * tn) AS base_rate_x1e6")
      sc.filter(!col("is_train")).crossJoin(broadcast(bounds))
        .selectExpr(binOf, "actual_keep")
        .join(broadcast(rates), Seq("bin"), "left")
        .crossJoin(broadcast(trainBase))
        .selectExpr("coalesce(rate_x1e6, base_rate_x1e6) AS p", "actual_keep")
        .agg(count(lit(1)).as("n_held"),
          sum(when(col("actual_keep"), 1L).otherwise(0L)).as("n_pos"),
          sum((col("p") - when(col("actual_keep"), 1000000L).otherwise(0L))
            .cast("decimal(38,0)") *
            (col("p") - when(col("actual_keep"), 1000000L).otherwise(0L)))
            .as("sq_sum"))
        .selectExpr("n_held", "n_pos",
          "CAST((2 * sq_sum + n_held) div (2 * CAST(n_held AS DECIMAL(38,0)))" +
            " AS BIGINT) AS brier_x1e12",
          "(2 * 1000000 * n_pos + n_held) div (2 * n_held) AS pbar_x1e6")
        .selectExpr("n_held", "n_pos", "brier_x1e12",
          "CAST((2 * (CAST(n_pos AS DECIMAL(38,0))" +
            " * (1000000 - pbar_x1e6) * (1000000 - pbar_x1e6)" +
            " + CAST(n_held - n_pos AS DECIMAL(38,0))" +
            " * pbar_x1e6 * pbar_x1e6) + n_held)" +
            " div (2 * CAST(n_held AS DECIMAL(38,0))) AS BIGINT)" +
            " AS base_brier_x1e12")
        .withColumn("skillful", col("brier_x1e12") < col("base_brier_x1e12"))
    },

    // Uncertainty sampling for active learning (round 12) — Lewis &
    // Gale (SIGIR 1994): the labeling budget goes to the docs the
    // classifier is LEAST SURE about — smallest |score| (the NB
    // log-odds margin; 0 is the decision boundary), not random docs.
    // The annotation-queue builder every label-then-distill loop
    // (quality_classifier's deployment shape) runs between training
    // rounds. Held-out docs only (querying the model about its own
    // training set is wasted budget). Exact integers end-to-end;
    // deterministic (margin, doc_id) total order. 100 TB shape: the
    // NB chain's envelope + one bounded TakeOrdered cut — no global
    // sort materializes.
    "active_learning" -> { (s, d) =>
      nbScores(s, d).filter(!col("is_train"))
        .select(col("doc_id"), col("score"),
          abs(col("score")).as("margin"), col("actual_keep"))
        .orderBy(col("margin"), col("doc_id")).limit(20)
    },

    // Winnowing fingerprints (round 10) — the MOSS document
    // fingerprint (Schleimer, Wilkerson & Aiken, SIGMOD 2003):
    // guarantee-backed sampling of the k-gram hash stream. Every
    // window of WinnowW=4 consecutive shingle hashes selects its
    // RIGHTMOST MINIMUM, so any match of ≥ w+k−1 tokens between two
    // docs shares a selected fingerprint (the paper's coverage
    // guarantee — doc_fingerprint's plain rolling-hash sample has no
    // such bound). The window-sweep is re-expressed as a per-position
    // predicate so it runs as ONE Window exec instead of a w-way
    // self-join: position p is selected ⟺ for some split l+r = w−1
    // with both frames in bounds, all l left-neighbors have h ≥ h_p
    // and all r right-neighbors have h > h_p (rightmost-min
    // tie-break). The equivalence to the sliding-window definition is
    // brute-force-verified over 20k random cases in WinnowSpec.
    // 100 TB shape: one token explode → one per-doc Window pass (docs
    // are bounded, partitions balance by doc count) → doc-sized aggs;
    // the shared-fingerprint join rides the SELECTED set (~2/(w+1) of
    // positions, deduped), never all-pairs.
    "winnow_fingerprint" -> { (s, d) =>
      val sh = Dedup.rebalance(Tables.documents(s, d))
        .select(col("doc_id"),
          posexplode(graft.ext.expr.ShingleMd5.shingleMd5(
            TextOps.tokens(lower(col("text"))), 3)))
        .toDF("doc_id", "pos", "h")
      val fp = Winnow.selected(sh, col("doc_id"), col("pos"), col("h"))
        .drop("pos")
        .localCheckpoint(true)
      val stats = fp.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kgrams"),
          sum(when(col("sel"), 1L).otherwise(0L)).as("n_fp"))
      val selFp = fp.filter(col("sel"))
        .select(col("doc_id"), col("h")).distinct()
      val multi = selFp.groupBy(col("h"))
        .agg(count(lit(1)).as("nd")).filter(col("nd") >= 2L)
      val shared = selFp.join(multi.select("h"), "h")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("ns"))
      stats.join(shared, Seq("doc_id"), "left")
        .selectExpr("doc_id", "n_kgrams", "n_fp",
          "coalesce(ns, 0) AS n_shared_fp",
          "(2000000 * n_fp + n_kgrams) div (2 * n_kgrams) AS density_x1e6")
    },

    // HITS hub/authority scores (round 10) — Kleinberg (JACM 1999)
    // over link_rank's deterministic 3-out-edge graph: the
    // two-sided authority signal (a page is a good hub if it points
    // at good authorities and vice versa) next to link_rank's
    // single-vector PageRank. Three unrolled mutual-reinforcement
    // rounds run UNNORMALIZED from hub=1, so every score is an exact
    // BIGINT path count (weighted in-/out-tree tallies) and no
    // division ever happens — the normalization constant cancels in
    // any downstream ranking use, and values stay ≤ (3·maxdeg)³,
    // comfortably inside BIGINT at any corpus size (Poisson-bounded
    // degrees). 100 TB shape identical to link_rank: the edge set
    // builds once map-side and checkpoints; each half-round is one
    // (id, long) join + agg exchange pair.
    "hits_scores" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val n = Tables.documents(s, d).agg(count(lit(1)).cast("long").as("n"))
      val edges = docs.crossJoin(broadcast(n))
        .select(col("doc_id").as("src"),
          explode(array((1 to 3).map(k =>
            Dedup.md5Hash60(concat(col("doc_id").cast("string"), lit(s":$k")))
              % col("n")): _*)).as("dst"))
        .localCheckpoint(true)
      var hub = docs.select(col("doc_id"), lit(1L).as("hs"))
      var auth = docs.select(col("doc_id"), lit(0L).as("av"))
      for (_ <- 1 to 3) {
        val aRaw = edges.join(hub, edges("src") === hub("doc_id"))
          .groupBy(col("dst")).agg(sum(col("hs")).as("sum_a"))
        auth = docs.join(aRaw, col("doc_id") === col("dst"), "left")
          .select(col("doc_id"), coalesce(col("sum_a"), lit(0L)).as("av"))
        val hRaw = edges.join(auth, edges("dst") === auth("doc_id"))
          .groupBy(col("src")).agg(sum(col("av")).as("sum_h"))
        hub = docs.join(hRaw, col("doc_id") === col("src"), "left")
          .select(col("doc_id"), coalesce(col("sum_h"), lit(0L)).as("hs"))
      }
      auth.join(hub, "doc_id")
        .select(col("doc_id"), col("av").as("auth_score"),
          col("hs").as("hub_score"))
    },

    // Mutual-information feature selection (round 10) — the
    // feature-audit step between rule labels and a trained filter
    // (Manning/Raghavan/Schütze IR ch. 13.5): over the SAME perturbed
    // corpus and QualityFilter labels quality_classifier trains on,
    // rank the top-300-df vocabulary by I(term-presence; label) and
    // report the 50 most label-informative terms with their full
    // 2×2 presence/label contingency cells. Exact-integer discipline:
    // cells come from one distinct-presence explode + exact counts;
    // each cell's ln(N·N_ij/(N_i·N_j)) is 1e6-floored from
    // exact-integer-valued ratios (arguments ≤ 4e8 — double-exact),
    // weighted by the exact N_ij and summed as BIGINTs; zero cells
    // contribute 0 (the 0·ln 0 limit). mi_num can sit a few 1e-6
    // below 0 on near-independent terms (floor jitter), so the
    // per-doc-scale mi_x1e6 clamps at 0 to keep HALF_UP on
    // non-negative operands — the signed mi_num ships alongside.
    // 100 TB shape: corpus explode → (term) agg; the vocab cut is a
    // TakeOrdered; cells and MI ride the 300-term frame with 1-row
    // totals broadcast.
    "feature_mi" -> { (s, d) =>
      val aug = Dedup.rebalance(perturbedCorpus(s, d))
        .select(col("doc_id"), QualityFilter.keep(col("text")).as("keep"),
          array_distinct(TextOps.tokens(lower(col("text")))).as("toks"))
        .localCheckpoint(true)
      FeatureSelect.mutualInfo(
        aug.select(col("doc_id"), col("keep")),
        aug.select(col("doc_id"), col("keep"), explode(col("toks")).as("term")),
        vocabK = 300, topK = 50)
    },

    // Label-propagation communities (round 10) — Raghavan, Albert &
    // Kumara (Phys. Rev. E 2007), made DETERMINISTIC: synchronous
    // updates, each node adopting its neighbors' MODE label with the
    // (count desc, label asc) tie-break, 3 unrolled rounds from
    // singleton labels over the undirected link graph. The density
    // community signal next to dedup_groups' pure connectivity (CC
    // merges everything reachable; LPA keeps weakly-bridged regions
    // apart). The per-node argmax is NOT a window sort: mode selection
    // aggregates as max(struct(c, -lab)) — partial-aggregable, so
    // each round's shuffle carries (node, lab) partial counts, then
    // node-sized maxima; label frames are (id, long) rows throughout.
    // 100 TB shape: the adjacency builds once map-side and
    // checkpoints; each round is two partial+final agg exchanges —
    // the link_rank envelope with the window eliminated.
    // k-core decomposition (round 11) — Seidman (1983): the maximal
    // subgraph where every vertex keeps degree ≥ k, THE density filter
    // beside label_prop's communities and dedup_groups' connectivity
    // (link-farm cores, tightly-quoted doc clusters). Peeling made
    // deterministic and bounded: 6 unrolled rounds over link_rank's
    // deterministic undirected graph, each round recomputing degrees
    // within the surviving set and dropping vertices below k = 4
    // (the graph's ~6-mean degree distribution gives k = 4 real
    // peeling work AND a large surviving core; fixpoint lands at
    // round 5 at sf0.1, measured); the
    // output carries a `stable` cell (TRUE iff a further round would
    // remove nobody — the fixpoint certificate, asserted in the spec)
    // so bounded unrolling can never silently under-peel. 100 TB
    // shape: the edge set builds map-side once and checkpoints; each
    // round is two semi-joins against the (id)-sized survivor frame +
    // one count agg — rounds ride vertex/edge cardinality, and real
    // peels converge in few rounds (degrees only shrink).
    "kcore_decomp" -> { (s, d) =>
      val kk = 4; val rounds = 6
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val n = Tables.documents(s, d).agg(count(lit(1)).cast("long").as("n"))
      val dir = docs.crossJoin(broadcast(n))
        .select(col("doc_id").as("src"),
          explode(array((1 to 3).map(k =>
            Dedup.md5Hash60(concat(col("doc_id").cast("string"), lit(s":$k")))
              % col("n")): _*)).as("dst"))
        .filter(col("src") =!= col("dst"))
      val und = dir.select(col("src").as("a"), col("dst").as("b"))
        .unionByName(dir.select(col("dst").as("a"), col("src").as("b")))
        .distinct()
        .localCheckpoint(true)
      def degrees(surv: DataFrame): DataFrame =
        und.join(surv.withColumnRenamed("v", "a"), "a")
          .join(surv.select(col("v").as("b")), "b")
          .groupBy(col("a")).agg(count(lit(1)).as("deg"))
      var surv = docs.select(col("doc_id").as("v"))
      for (_ <- 1 to rounds)
        surv = degrees(surv).filter(col("deg") >= kk)
          .select(col("a").as("v")).localCheckpoint(true)
      val degF = degrees(surv).localCheckpoint(true)
      degF.crossJoin(broadcast(degF.agg(
          max(when(col("deg") < kk, 1L).otherwise(0L)).as("unstable"))))
        .select(col("a").as("doc_id"), col("deg"),
          (coalesce(col("unstable"), lit(0L)) === 0L).as("stable"))
    },

    "label_prop" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val n = Tables.documents(s, d).agg(count(lit(1)).cast("long").as("n"))
      val und = docs.crossJoin(broadcast(n))
        .select(col("doc_id").as("u"),
          explode(array((1 to 3).map(k =>
            Dedup.md5Hash60(concat(col("doc_id").cast("string"), lit(s":$k")))
              % col("n")): _*)).as("v"))
        .filter(col("u") =!= col("v"))
        .select(least(col("u"), col("v")).as("a"),
          greatest(col("u"), col("v")).as("b"))
        .distinct()
      val nbr = und.select(col("a").as("node"), col("b").as("other"))
        .unionByName(und.select(col("b").as("node"), col("a").as("other")))
        .localCheckpoint(true)
      var labels = docs.select(col("doc_id"), col("doc_id").as("lab"))
      for (_ <- 1 to 3) {
        val cnt = nbr
          .join(labels.select(col("doc_id").as("other"), col("lab")), "other")
          .groupBy(col("node"), col("lab")).agg(count(lit(1)).as("c"))
        val pick = cnt.groupBy(col("node"))
          .agg(max(struct(col("c"), (-col("lab")).as("nl"))).as("m"))
          .select(col("node"), (-col("m.nl")).as("plab"))
        labels = docs.join(pick, col("doc_id") === col("node"), "left")
          .select(col("doc_id"),
            coalesce(col("plab"), col("doc_id")).as("lab"))
      }
      val sizes = labels.groupBy(col("lab")).agg(count(lit(1)).as("csize"))
      labels.join(sizes, "lab")
        .select(col("doc_id"), col("lab").as("community"), col("csize"))
    }
  )

  // ---- generated oracle SQL (md5-derived hash family) -----------------
  // The dedup/ANN hashes are all conv(substr(md5(x),1,15),16,10)-style
  // 60-bit values, which DuckDB computes as
  // CAST('0x'||substr(md5(x),1,15) AS BIGINT) — so the full MinHash /
  // SimHash / sign-LSH pipelines replicate exactly. The SQL is long but
  // machine-generated from the same constants the Spark side uses.

  private val ToksSql =
    """list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')"""

  // ---- unigram-LM oracle generator (round 16) -----------------------
  // The DuckDB replay of unigramModel: seed substring counts, add-1
  // ln-cell scores, and per EM round a SHIFT-STATE forward Viterbi
  // recursion (the last four B values ride the recursive row, so each
  // step needs only the previous iteration) plus an l-EMITTING
  // backward recursion (smallest l with B(e−l) + s = B(e) — the same
  // CASE order as the Spark fold's when-chain). Machine-generated from
  // the same constants (256/170/113, sentinel −10^15) the Spark side
  // uses.

  private val UniSentSql = "-1000000000000000"

  private def uniLn(x: String): String =
    s"CAST(floor(ln(CAST($x AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)"

  /** tot$r/sc$r over a (piece, usage) vocab CTE. */
  private def uniScoreCtes(r: String, vocab: String): String =
    s"""tot$r AS MATERIALIZED (SELECT CAST(sum(usage) AS BIGINT) AS t,
       |            CAST(count(*) AS BIGINT) AS v FROM $vocab),
       |sc$r AS MATERIALIZED (SELECT piece, ${uniLn("usage + 1")}
       |           - (SELECT ${uniLn("t + v")} FROM tot$r) AS s
       |         FROM $vocab)""".stripMargin

  /** fwd$r/fw$r/back$r/pieces$r/usage$r under score CTE $sc.
    *
    * Score and B lookups inside the recursive terms are LEFT JOINs,
    * never correlated scalar subqueries — DuckDB 1.0's recursive
    * evaluation silently returns NULL for correlated subqueries on
    * some first-iteration rows (observed: the l=1 score lookup at
    * i=0, flipping B(1) to the sentinel), and the failure pattern
    * shifts with unrelated CTE materialization. fw$r/pieces$r stay
    * UNMATERIALIZED for the same reason: materializing a view layered
    * over a recursive CTE perturbs that recursion's own evaluation. */
  private def uniViterbiCtes(r: String, sc: String): String = {
    def fcand(l: Int) =
      if (l == 1) s"coalesce(s1.s, $UniSentSql) + f.b0"
      else s"""CASE WHEN f.b${l - 1} IS NOT NULL THEN
              |               coalesce(s$l.s, $UniSentSql) + f.b${l - 1}
              |             ELSE $UniSentSql END""".stripMargin
    def bok(l: Int) =
      s"t0.e >= $l AND coalesce(s$l.s, $UniSentSql) + q$l.b = qe.b"
    s"""fwd$r AS (
       |  SELECT w, 0 AS i, CAST(0 AS BIGINT) AS b0, CAST(NULL AS BIGINT) AS b1,
       |         CAST(NULL AS BIGINT) AS b2, CAST(NULL AS BIGINT) AS b3
       |  FROM wc
       |  UNION ALL
       |  SELECT f.w, f.i + 1,
       |    greatest(${fcand(1)},
       |             ${fcand(2)},
       |             ${fcand(3)},
       |             ${fcand(4)}),
       |    f.b0, f.b1, f.b2
       |  FROM fwd$r f
       |  LEFT JOIN $sc s1 ON s1.piece = substr(f.w, f.i + 1, 1)
       |  LEFT JOIN $sc s2 ON s2.piece = substr(f.w, f.i, 2)
       |  LEFT JOIN $sc s3 ON s3.piece = substr(f.w, f.i - 1, 3)
       |  LEFT JOIN $sc s4 ON s4.piece = substr(f.w, f.i - 2, 4)
       |  WHERE f.i < length(f.w)),
       |fw$r AS (SELECT w, i AS j, b0 AS b FROM fwd$r),
       |back$r AS (
       |  SELECT w, CAST(length(w) AS INTEGER) AS e, 0 AS l FROM wc
       |  UNION ALL
       |  SELECT z.w, z.e - z.nl, z.nl FROM (
       |    SELECT t0.w AS w, t0.e AS e,
       |      CASE WHEN ${bok(1)} THEN 1
       |           WHEN ${bok(2)} THEN 2
       |           WHEN ${bok(3)} THEN 3
       |           ELSE 4 END AS nl
       |    FROM back$r t0
       |    LEFT JOIN fw$r qe ON qe.w = t0.w AND qe.j = t0.e
       |    LEFT JOIN fw$r q1 ON q1.w = t0.w AND q1.j = t0.e - 1
       |    LEFT JOIN fw$r q2 ON q2.w = t0.w AND q2.j = t0.e - 2
       |    LEFT JOIN fw$r q3 ON q3.w = t0.w AND q3.j = t0.e - 3
       |    LEFT JOIN $sc s1 ON s1.piece = substr(t0.w, t0.e, 1)
       |    LEFT JOIN $sc s2 ON s2.piece = substr(t0.w, t0.e - 1, 2)
       |    LEFT JOIN $sc s3 ON s3.piece = substr(t0.w, t0.e - 2, 3)
       |    WHERE t0.e > 0) z),
       |pieces$r AS (SELECT w, substr(w, e + 1, l) AS piece
       |             FROM back$r WHERE l > 0),
       |usage$r AS MATERIALIZED (SELECT piece, CAST(sum(wn) AS BIGINT) AS usage
       |            FROM pieces$r JOIN wc USING (w) GROUP BY 1)""".stripMargin
  }

  /** Pruned vocab v$r: singles + top-$keep multis of usage$r. */
  private def uniPruneCtes(r: String, keep: Int): String =
    s"""v${r}m AS MATERIALIZED (SELECT piece FROM usage$r WHERE length(piece) >= 2
       |          ORDER BY usage DESC, piece LIMIT $keep),
       |v$r AS MATERIALIZED (SELECT s.piece, CAST(coalesce(u.usage, 0) AS BIGINT) AS usage
       |        FROM (SELECT piece FROM singles
       |              UNION ALL SELECT piece FROM v${r}m) s
       |        LEFT JOIN usage$r u USING (piece))""".stripMargin

  /** Shared prefix: tf/wc, 1..4-substring seed counts, seed vocab +
    * both EM rounds, ending with the final pruned vocab v2. */
  private def uniTrainCtes: String =
    s"""wx AS MATERIALIZED (SELECT doc_id,
       |         unnest(list_transform($ToksSql, t -> lower(t))) AS w
       |       FROM documents),
       |tf AS MATERIALIZED (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
       |       FROM wx GROUP BY 1, 2),
       |wc AS MATERIALIZED (SELECT w, CAST(sum(tf) AS BIGINT) AS wn FROM tf GROUP BY 1),
       |wl AS MATERIALIZED (SELECT w, wn, unnest([1, 2, 3, 4]) AS l FROM wc),
       |wi AS MATERIALIZED (SELECT w, wn, l,
       |         unnest(generate_series(1, length(w) - l + 1)) AS i
       |       FROM wl),
       |subs AS MATERIALIZED (SELECT substr(w, i, l) AS piece, CAST(sum(wn) AS BIGINT) AS cnt
       |         FROM wi GROUP BY 1),
       |singles AS MATERIALIZED (SELECT piece FROM subs WHERE length(piece) = 1),
       |multis0 AS MATERIALIZED (SELECT piece FROM subs WHERE length(piece) >= 2
       |            ORDER BY cnt DESC, piece LIMIT 256),
       |seed0 AS MATERIALIZED (SELECT s.piece, c.cnt AS usage
       |          FROM (SELECT piece FROM singles
       |                UNION ALL SELECT piece FROM multis0) s
       |          JOIN subs c USING (piece)),
       |${uniScoreCtes("0", "seed0")},
       |${uniViterbiCtes("1", "sc0")},
       |${uniPruneCtes("1", 170)},
       |${uniScoreCtes("1", "v1")},
       |${uniViterbiCtes("2", "sc1")},
       |${uniPruneCtes("2", 113)}""".stripMargin

  /** [[withNearDups]] in SQL: documents ∪ perturbed copy. */
  private val CorpusCte: String =
    s"""corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + $NearDupOffset AS doc_id,
       |         array_to_string(list_slice(toks, 1, greatest(len(toks) - 3, 1)), ' ') AS text
       |  FROM (SELECT doc_id, $ToksSql AS toks FROM documents))""".stripMargin

  /** CTE chain ending in `pairs(doc_a, doc_b, est_jaccard)` — the
    * DuckDB replica of Dedup.minhashPairs over the near-dup corpus. */
  private def minhashCtes: String = s"$CorpusCte,\n$minhashChainCtes"

  /** The minhash machinery AFTER the corpus definition: reads a CTE
    * named `corpus(doc_id, text)` and ends in `pairs`. Shared by the
    * dedup oracles (over [[CorpusCte]]) and corpus_pipeline (over its
    * stage-3 survivors). */
  private def minhashChainCtes: String = {
    val sigmCols = (0 until Dedup.NumHashes / 4)
      .map(i => s"md5('$i:' || s) AS m$i").mkString(", ")
    val sigCols = (0 until Dedup.NumHashes).map { k =>
      val off = 1 + (k % 4) * 8
      s"CAST('0x' || min(substr(m${k / 4}, $off, 8)) AS BIGINT) AS h$k"
    }.mkString(", ")
    val bandedSelects = (0 until Dedup.NumBands).map { b =>
      val cols = (0 until Dedup.RowsPerBand)
        .map(r => s"h${b * Dedup.RowsPerBand + r}").mkString(", ")
      s"  SELECT doc_id, $b AS band, md5(concat_ws(',', $cols)) AS bh FROM sig"
    }.mkString("\n  UNION ALL\n")
    val nEq = (0 until Dedup.NumHashes)
      .map(k => s"(CASE WHEN sa.h$k = sb.h$k THEN 1 ELSE 0 END)").mkString(" + ")
    s"""ct AS (SELECT doc_id, $ToksSql AS toks FROM corpus),
       |cu AS (SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS pos FROM ct),
       |csh AS (SELECT doc_id, concat_ws(' ', w, lead(w,1) OVER win, lead(w,2) OVER win) AS s,
       |               lead(w,2) OVER win AS w2
       |        FROM cu WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
       |shv AS (SELECT doc_id, s FROM csh WHERE w2 IS NOT NULL),
       |sigm AS (SELECT doc_id, $sigmCols FROM shv),
       |sig AS (SELECT doc_id, $sigCols FROM sigm GROUP BY doc_id),
       |banded AS (
       |$bandedSelects),
       |okb AS (SELECT band, bh FROM banded GROUP BY band, bh
       |        HAVING count(*) <= ${Dedup.MaxBandBucket}),
       |bandedok AS (SELECT b.* FROM banded b JOIN okb
       |             ON okb.band = b.band AND okb.bh = b.bh),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |         FROM bandedok x JOIN bandedok y
       |           ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
       |scored AS (SELECT c.doc_a, c.doc_b, ($nEq) / 32.0 AS est_jaccard
       |           FROM cand c JOIN sig sa ON sa.doc_id = c.doc_a
       |                       JOIN sig sb ON sb.doc_id = c.doc_b),
       |pairs AS (SELECT doc_a, doc_b, est_jaccard FROM scored WHERE est_jaccard >= 0.5)""".stripMargin
  }


  /** The corpus_pipeline full-recompute CTE cascade — planted corpus,
    * quality rules, URL canonicalization (url_dedup's regex chain),
    * exact-text QUALIFY, the shared minhash machinery over the
    * stage-3 survivors (minhashChainCtes + recursive CC),
    * contamination split/threshold, mixture keep test, pack window.
    * With `cross = true` the planted corpus also carries the four
    * cross-boundary re-fetch families over the base slice (doc_id %
    * 10 = 0, id ≤ ⌊4·max/5⌋) — making the SAME cascade the
    * full-recompute EQUIVALENCE oracle for buildIncremental (the
    * mv_refresh convention: the incremental Spark plan must equal the
    * recompute bit-for-bit). The 12e9 messy-URL CASE branch is inert
    * when cross = false (no such ids exist). */
  private def corpusPipelineOracle(cross: Boolean): String = {
    val cutSub = "(SELECT 4 * max(doc_id) // 5 FROM documents)"
    val crossAug =
      if (!cross) ""
      else s"""
         |  UNION ALL
         |  SELECT doc_id + 8000000000, text, source FROM documents
         |  WHERE doc_id % 10 = 0 AND doc_id <= $cutSub
         |  UNION ALL
         |  SELECT doc_id + 9000000000,
         |         array_to_string(list_slice(toks, 1, greatest(len(toks) - 4, 1)), ' '),
         |         source
         |  FROM (SELECT doc_id, $ToksSql AS toks, source FROM documents)
         |  WHERE doc_id % 10 = 0 AND doc_id <= $cutSub
         |  UNION ALL
         |  SELECT doc_id + 12000000000, text, source FROM documents
         |  WHERE doc_id % 10 = 0 AND doc_id <= $cutSub
         |  UNION ALL
         |  SELECT doc_id + 13000000000,
         |         array_to_string(toks[1:20], ' ') || ' ' ||
         |         array_to_string(list_transform(generate_series(1, 20),
         |           k -> 'zr' || CAST(doc_id AS VARCHAR) || 'x' || CAST(k AS VARCHAR)), ' '),
         |         source
         |  FROM (SELECT doc_id, $ToksSql AS toks, source FROM documents)
         |  WHERE doc_id % 10 = 0 AND doc_id <= $cutSub""".stripMargin
    // MATERIALIZED: DuckDB inlines plain CTEs into every reference, so
    // the downstream cascade (minhash chain + recursive CC + shingle
    // stages all reading `aug`-derived frames) would otherwise expand
    // into hundreds of parallel `documents` parquet scans — with the
    // cross plants that exhausted the checker process's fd limit
    // (observed: "Too many open files" at 14 textual refs × inlining ×
    // 32 threads). Materializing the planted corpus once is also what
    // the Spark side does (localCheckpoint on base).
    s"""WITH RECURSIVE
         |aug AS MATERIALIZED (
         |  SELECT doc_id, text, source FROM documents
         |  UNION ALL
         |  SELECT doc_id + 2000000000, array_to_string(toks[1:2], ' '), source
         |  FROM (SELECT doc_id, $ToksSql AS toks, source FROM documents)
         |  UNION ALL
         |  SELECT doc_id + 5000000000, text, source FROM documents
         |  UNION ALL
         |  SELECT doc_id + 6000000000, text, source FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000000,
         |         array_to_string(list_slice(toks, 1, greatest(len(toks) - 3, 1)), ' '),
         |         source
         |  FROM (SELECT doc_id, $ToksSql AS toks, source FROM documents)
         |  UNION ALL
         |  SELECT doc_id + 7000000000,
         |         array_to_string(toks[1:20], ' ') || ' ' ||
         |         array_to_string(list_transform(generate_series(1, 20),
         |           k -> 'zq' || CAST(doc_id AS VARCHAR) || 'x' || CAST(k AS VARCHAR)), ' '),
         |         source
         |  FROM (SELECT doc_id, $ToksSql AS toks, source FROM documents)$crossAug),
         |qr AS (SELECT doc_id, text, source,
         |         CAST(len(toks) AS BIGINT) AS n_words,
         |         CAST(length(array_to_string(toks, '')) AS BIGINT) AS char_sum,
         |         CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS BIGINT) AS n_punct,
         |         CAST(length(text) AS BIGINT) AS text_len
         |       FROM (SELECT doc_id, text, source, $ToksSql AS toks FROM aug)),
         |s1 AS (SELECT doc_id, text, source FROM qr
         |       WHERE NOT ((n_words < 5) OR (n_words > 50000)
         |         OR (n_words > 0 AND (CAST(char_sum AS DOUBLE) / n_words < 2.0
         |                              OR CAST(char_sum AS DOUBLE) / n_words > 15.0))
         |         OR (text_len > 0 AND CAST(n_punct AS DOUBLE) / text_len > 0.2))),
         |s2u AS (SELECT doc_id, text, source,
         |          CASE WHEN doc_id >= 5000000000 AND doc_id < 6000000000
         |            THEN 'HTTPS://WWW.Site' || CAST((doc_id - 5000000000) % 7 AS VARCHAR)
         |                 || '.COM:80/p/' || CAST(doc_id - 5000000000 AS VARCHAR)
         |          WHEN doc_id >= 12000000000 AND doc_id < 13000000000
         |            THEN 'HTTPS://WWW.Site' || CAST((doc_id - 12000000000) % 7 AS VARCHAR)
         |                 || '.COM:80/p/' || CAST(doc_id - 12000000000 AS VARCHAR)
         |            ELSE 'https://site' || CAST(doc_id % 7 AS VARCHAR)
         |                 || '.com/p/' || CAST(doc_id AS VARCHAR) END AS url
         |        FROM s1),
         |s2n AS (SELECT doc_id, text, source,
         |          regexp_replace(regexp_replace(
         |            lower(regexp_extract(t, '^([^/]*)', 1)),
         |            ':(80|443)$$', ''), '^www\\.', '') ||
         |          regexp_replace(regexp_replace(t, '^[^/]*', ''), '/$$', '') AS canon
         |        FROM (SELECT doc_id, text, source,
         |                regexp_replace(regexp_replace(regexp_replace(url,
         |                  '#.*$$', ''), '\\?.*$$', ''), '(?i)^https?://', '') AS t
         |              FROM s2u)),
         |s2 AS (SELECT doc_id, text, source FROM s2n
         |       QUALIFY doc_id = min(doc_id) OVER (PARTITION BY canon)),
         |s3c AS MATERIALIZED (SELECT doc_id, text, source FROM s2
         |        QUALIFY doc_id = min(doc_id) OVER (PARTITION BY lower(trim(text)))),
         |corpus AS MATERIALIZED (SELECT doc_id, text FROM s3c),
         |$minhashChainCtes,
         |und AS (SELECT doc_a AS s, doc_b AS d FROM pairs
         |        UNION SELECT doc_b, doc_a FROM pairs),
         |reach(node, r) AS (
         |  SELECT s, d FROM und
         |  UNION
         |  SELECT u.s, re.r FROM und u JOIN reach re ON re.node = u.d),
         |lbl AS (SELECT node, least(node, min(r)) AS group_id FROM reach GROUP BY node),
         |losers AS (SELECT node FROM lbl WHERE node <> group_id),
         |s4 AS (SELECT doc_id, text, source FROM s3c
         |       WHERE doc_id NOT IN (SELECT node FROM losers)),
         |u5 AS (SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS pos
         |       FROM (SELECT doc_id, $ToksSql AS toks FROM s4)),
         |sh5 AS (SELECT doc_id, concat_ws(' ', w, lead(w,1) OVER win5, lead(w,2) OVER win5) AS s,
         |               lead(w,2) OVER win5 AS w2
         |        FROM u5 WINDOW win5 AS (PARTITION BY doc_id ORDER BY pos)),
         |hv5 AS (SELECT doc_id,
         |          CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 20 AS shard,
         |          CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS h
         |        FROM sh5 WHERE w2 IS NOT NULL),
         |ev5 AS (SELECT DISTINCT h FROM hv5 WHERE shard < 2),
         |tr5 AS (SELECT DISTINCT doc_id, h FROM hv5 WHERE shard >= 2),
         |bad5 AS (SELECT tr5.doc_id FROM tr5 LEFT JOIN ev5 ON ev5.h = tr5.h
         |         GROUP BY tr5.doc_id
         |         HAVING 5 * sum(CASE WHEN ev5.h IS NOT NULL THEN 1 ELSE 0 END) >= count(*)),
         |s5 AS (SELECT doc_id, text, source FROM s4
         |       WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 20 >= 2
         |         AND doc_id NOT IN (SELECT doc_id FROM bad5)),
         |w6 AS (SELECT source AS stratum,
         |              (CAST(substr(source, 4) AS INTEGER) % 4 + 1) * 200 AS permille
         |       FROM (SELECT DISTINCT source FROM s5)),
         |s6 AS (SELECT doc_id, text FROM s5 JOIN w6 ON s5.source = w6.stratum
         |       WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
         |             < permille * 1152921504606846 + (permille * 976) // 1000),
         |t7 AS (SELECT doc_id, CAST(len($ToksSql) AS BIGINT) AS n_tokens,
         |         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
         |       FROM s6),
         |w7 AS (SELECT doc_id, n_tokens, h % 8 AS shard,
         |         CAST(coalesce(sum(n_tokens) OVER (PARTITION BY h % 8 ORDER BY h, doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS offset_toks
         |       FROM t7)
         |SELECT doc_id, n_tokens, shard, offset_toks,
         |       offset_toks // 256 AS pack_seq
         |FROM w7""".stripMargin
  }

  private def minhashOracle: String =
    s"WITH $minhashCtes\nSELECT doc_a, doc_b, est_jaccard FROM pairs"

  /** dedup_incremental's oracle: the sig chain over corpus ∪ batch,
    * candidates restricted to cross-side band matches (batch ids sit
    * at +1e9/+2e9, disjoint from the corpus id space by construction).
    * No bucket cap — parity with incrementalPairs, where one side is
    * always the small increment. */
  private def incrementalOracle: String = {
    val sigmCols = (0 until Dedup.NumHashes / 4)
      .map(i => s"md5('$i:' || s) AS m$i").mkString(", ")
    val sigCols = (0 until Dedup.NumHashes).map { k =>
      val off = 1 + (k % 4) * 8
      s"CAST('0x' || min(substr(m${k / 4}, $off, 8)) AS BIGINT) AS h$k"
    }.mkString(", ")
    val bandedSelects = (0 until Dedup.NumBands).map { b =>
      val cols = (0 until Dedup.RowsPerBand)
        .map(r => s"h${b * Dedup.RowsPerBand + r}").mkString(", ")
      s"  SELECT doc_id, $b AS band, md5(concat_ws(',', $cols)) AS bh FROM sig"
    }.mkString("\n  UNION ALL\n")
    val nEq = (0 until Dedup.NumHashes)
      .map(k => s"(CASE WHEN sa.h$k = sb.h$k THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH tk AS (SELECT doc_id, $ToksSql AS toks FROM documents),
       |batch AS (
       |  SELECT doc_id + $NearDupOffset AS doc_id,
       |         array_to_string(list_slice(toks, 1, greatest(len(toks) - 3, 1)), ' ') AS text
       |  FROM tk WHERE doc_id % 5 = 0
       |  UNION ALL
       |  SELECT doc_id + ${2 * NearDupOffset} AS doc_id,
       |         array_to_string(list_reverse(toks), ' ') AS text
       |  FROM tk WHERE doc_id % 7 = 0),
       |alls AS (SELECT doc_id, text FROM documents
       |         UNION ALL SELECT doc_id, text FROM batch),
       |ct AS (SELECT doc_id, $ToksSql AS toks FROM alls),
       |cu AS (SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS pos FROM ct),
       |csh AS (SELECT doc_id, concat_ws(' ', w, lead(w,1) OVER win, lead(w,2) OVER win) AS s,
       |               lead(w,2) OVER win AS w2
       |        FROM cu WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
       |shv AS (SELECT doc_id, s FROM csh WHERE w2 IS NOT NULL),
       |sigm AS (SELECT doc_id, $sigmCols FROM shv),
       |sig AS (SELECT doc_id, $sigCols FROM sigm GROUP BY doc_id),
       |banded AS (
       |$bandedSelects),
       |cand AS (SELECT DISTINCT x.doc_id AS batch_doc, y.doc_id AS corpus_doc
       |         FROM banded x JOIN banded y
       |           ON x.band = y.band AND x.bh = y.bh
       |          AND x.doc_id >= $NearDupOffset AND y.doc_id < $NearDupOffset)
       |SELECT c.batch_doc, c.corpus_doc, ($nEq) / 32.0 AS est_jaccard
       |FROM cand c JOIN sig sa ON sa.doc_id = c.batch_doc
       |            JOIN sig sb ON sb.doc_id = c.corpus_doc
       |WHERE ($nEq) / 32.0 >= 0.5""".stripMargin
  }

  /** Connected components over the minhash pairs via recursive
    * transitive closure (components are tiny — closure is affordable in
    * the oracle; the engine side uses GraphX Pregel instead). */
  private def groupsOracle: String =
    s"""WITH RECURSIVE $minhashCtes,
       |und AS (SELECT doc_a AS s, doc_b AS d FROM pairs
       |        UNION SELECT doc_b, doc_a FROM pairs),
       |reach(node, r) AS (
       |  SELECT s, d FROM und
       |  UNION
       |  SELECT u.s, re.r FROM und u JOIN reach re ON re.node = u.d),
       |lbl AS (SELECT node, least(node, min(r)) AS group_id FROM reach GROUP BY node)
       |SELECT group_id, count(*) AS group_size, min(node) AS keep_doc_id
       |FROM lbl GROUP BY 1 HAVING count(*) >= 2""".stripMargin

  /** dedup_keep_best: groupsOracle's closure + per-doc quality (the
    * text_quality formula over the near-dup CORPUS, perturbed copies
    * included) + deterministic argmax via row_number. */
  private def keepBestOracle: String =
    s"""WITH RECURSIVE $minhashCtes,
       |und AS (SELECT doc_a AS s, doc_b AS d FROM pairs
       |        UNION SELECT doc_b, doc_a FROM pairs),
       |reach(node, r) AS (
       |  SELECT s, d FROM und
       |  UNION
       |  SELECT u.s, re.r FROM und u JOIN reach re ON re.node = u.d),
       |lbl AS (SELECT node, least(node, min(r)) AS group_id FROM reach GROUP BY node),
       |q AS (SELECT doc_id,
       |        round(least(CAST(len($ToksSql) AS DOUBLE) / 100.0, 1.0) *
       |              (1.0 - CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
       |                     / length(text)), 4) AS quality
       |      FROM corpus),
       |w AS (SELECT lbl.group_id, lbl.node, q.quality,
       |        row_number() OVER (PARTITION BY lbl.group_id
       |                           ORDER BY q.quality DESC, lbl.node) AS rn
       |      FROM lbl JOIN q ON q.doc_id = lbl.node),
       |g AS (SELECT group_id, count(*) AS group_size, max(quality) AS best_quality
       |      FROM w GROUP BY 1)
       |SELECT g.group_id, g.group_size, w.node AS keep_doc_id, g.best_quality
       |FROM g JOIN w ON w.group_id = g.group_id AND w.rn = 1
       |WHERE g.group_size >= 2""".stripMargin

  private def simhashOracle: String = {
    val nibCols = (0 until 16)
      .map(p => s"CAST('0x' || substr(h, ${p + 1}, 1) AS BIGINT) AS n$p").mkString(", ")
    val bitSums = (0 until 64)
      .map(j => s"sum(CASE WHEN ((n${j / 4} >> ${j % 4}) & 1) = 1 THEN 1 ELSE -1 END) AS b$j")
      .mkString(", ")
    val assemble = (0 until 64).map {
      case 63 => "(CASE WHEN b63 > 0 THEN (-9223372036854775807 - 1) ELSE 0 END)"
      case j  => s"(CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH $CorpusCte,
       |tok AS (SELECT doc_id, unnest($ToksSql) AS w FROM corpus),
       |hx AS (SELECT doc_id, md5(w) AS h FROM tok),
       |nib AS (SELECT doc_id, $nibCols FROM hx),
       |bs AS (SELECT doc_id, $bitSums FROM nib GROUP BY doc_id),
       |sh AS (SELECT doc_id, CAST($assemble AS BIGINT) AS simhash FROM bs)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + $NearDupOffset
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 16""".stripMargin
  }

  /** Sign-LSH bucketing + in-bucket cosine top-k, replicated: the
    * hyperplane weights are the same md5-folded values VectorOps uses. */
  private def annLshOracle: String =
    s"""WITH u AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
       |                  generate_subscripts(embedding, 1) AS i
       |           FROM embeddings),
       |pl AS (SELECT unnest([0, 1, 2, 3]) AS p),
       |d AS (SELECT u.vec_id, pl.p,
       |        sum(u.x * ((CAST('0x' || substr(md5(concat(pl.p, ':', u.i - 1)), 1, 15) AS BIGINT)
       |                    % 2000001) / 1000000.0 - 1.0)) AS dot
       |      FROM u CROSS JOIN pl GROUP BY 1, 2),
       |bk AS (SELECT vec_id,
       |         sum(CASE WHEN dot > 0
       |             THEN (CASE p WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 8 END)
       |             ELSE 0 END) AS bucket
       |       FROM d GROUP BY 1),
       |q AS (SELECT bk.bucket AS qbucket, CAST(e.embedding AS DOUBLE[]) AS qv
       |      FROM embeddings e JOIN bk ON bk.vec_id = e.vec_id WHERE e.vec_id = 0)
       |SELECT e.vec_id,
       |       round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 4) AS cos_sim
       |FROM embeddings e JOIN bk ON bk.vec_id = e.vec_id JOIN q ON bk.bucket = q.qbucket
       |ORDER BY cos_sim DESC, e.vec_id LIMIT 10""".stripMargin

  /** [[VectorOps.ivfFlatTopK]] replicated: same sampled centroids (md5
    * id-hash order), same argmin assignment (distance then cid), same
    * nProbe routing, same rounded-cosine rerank. */
  /** Shared Lloyd-training CTE chain (kmeans_train / ivf_trained_topk):
    * vecs (milli-quantized), c0 (md5-sampled init, k=8), and per round
    * r ∈ {1,2}: a$r (assignment vs c{r-1}), st$r (per-cluster stats),
    * u$r (per-dim signed HALF_UP means), c$r (updated centroids with
    * empty-cluster fallback). */
  private def lloydCtes: String = {
    val rounds = (1 to 2).map { r =>
      val p = r - 1
      s"""a$r AS (SELECT vec_id, q, dist, cid FROM (
         |          SELECT vec_id, q, dist, cid,
         |                 row_number() OVER (PARTITION BY vec_id
         |                                    ORDER BY dist, cid) AS rn
         |          FROM (SELECT v.vec_id, v.q, c.cid,
         |                  CAST(list_sum(list_transform(
         |                    generate_series(1, len(v.q)),
         |                    i -> (v.q[i] - c.cv[i]) * (v.q[i] - c.cv[i])))
         |                    AS BIGINT) AS dist
         |                FROM vecs v CROSS JOIN c$p c))
         |        WHERE rn = 1),
         |st$r AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_assigned,
         |                CAST(sum(dist) AS BIGINT) AS inertia
         |         FROM a$r GROUP BY 1),
         |u$r AS (SELECT cid, list(m ORDER BY dim) AS cv FROM (
         |          SELECT cid, dim,
         |                 CASE WHEN sv >= 0 THEN (2 * sv + cn) // (2 * cn)
         |                      ELSE -((2 * -sv + cn) // (2 * cn)) END AS m
         |          FROM (SELECT cid, dim, CAST(sum(v) AS BIGINT) AS sv,
         |                       CAST(count(*) AS BIGINT) AS cn
         |                FROM (SELECT cid, unnest(q) AS v,
         |                             generate_subscripts(q, 1) AS dim
         |                      FROM a$r)
         |                GROUP BY 1, 2))
         |        GROUP BY cid),
         |c$r AS (SELECT c$p.cid, coalesce(u$r.cv, c$p.cv) AS cv
         |        FROM c$p LEFT JOIN u$r ON u$r.cid = c$p.cid)""".stripMargin
    }.mkString(",\n")
    s"""vecs AS (SELECT vec_id,
       |       list_transform(embedding,
       |         x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS q
       |     FROM embeddings),
       |c0 AS (SELECT row_number() OVER (ORDER BY h) AS cid, q AS cv
       |       FROM (SELECT q, CAST('0x' || substr(
       |               md5('km:' || CAST(vec_id AS VARCHAR)), 1, 15)
       |               AS BIGINT) AS h
       |             FROM vecs ORDER BY h LIMIT 8)),
       |$rounds""".stripMargin
  }

  /** The embed_pca_power CTE chain (through `cr` and `x3`) — shared
    * with embed_detop's oracle. Mirrors [[pcaPower]] exactly. */
  private def pcaPowerCtes: String = {
    // dot/y/m intermediates stay HUGEINT (no BIGINT narrowing): the
    // Spark side routes the per-dim y sum through DECIMAL(38,0)
    // precisely because it wraps Int64 past ~3e7 vectors, and the
    // oracle must survive the same regime (round-13 advice). Only the
    // final ±1000-scaled x narrows — exact by construction.
    def round(i: Int, prev: String) =
      s"""dot$i AS (SELECT cr.vec_id, sum(cr.cv * $prev.xv) AS dot
         |  FROM cr JOIN $prev ON $prev.d = cr.d GROUP BY 1),
         |y$i AS (SELECT cr.d, sum(cr.cv * dot$i.dot) AS y
         |  FROM cr JOIN dot$i USING (vec_id) GROUP BY 1),
         |m$i AS (SELECT max(abs(y)) AS m FROM y$i),
         |x$i AS (SELECT d, CAST(CASE WHEN y >= 0
         |    THEN (2 * 1000 * y + m) // (2 * m)
         |    ELSE -((2 * 1000 * (-y) + m) // (2 * m)) END AS BIGINT) AS xv
         |  FROM y$i, m$i)""".stripMargin
    s"""q AS MATERIALIZED (SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS q
       |  FROM embeddings),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM q),
       |muS AS (SELECT d, CAST(sum(v) AS BIGINT) AS s FROM (
       |    SELECT unnest(q) AS v, generate_subscripts(q, 1) AS d FROM q)
       |  GROUP BY 1),
       |mu AS (SELECT d, CAST(CASE WHEN s >= 0 THEN (2 * s + n) // (2 * n)
       |    ELSE -((2 * (-s) + n) // (2 * n)) END AS BIGINT) AS m
       |  FROM muS, n),
       |cr AS MATERIALIZED (SELECT t.vec_id, t.d, t.v - mu.m AS cv FROM (
       |    SELECT vec_id, unnest(q) AS v, generate_subscripts(q, 1) AS d
       |    FROM q) t JOIN mu ON mu.d = t.d),
       |x0 AS (SELECT g.d, CAST(1000 AS BIGINT) AS xv
       |  FROM generate_series(1, 64) g(d)),
       |${round(1, "x0")},
       |${round(2, "x1")},
       |${round(3, "x2")}""".stripMargin
  }

  private def ivfFlatOracle: String =
    s"""WITH c AS (
       |  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
       |  FROM embeddings
       |  ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT), vec_id
       |  LIMIT ${VectorOps.IvfFlatCentroids}),
       |dist AS (
       |  SELECT e.vec_id, c.cid,
       |         list_sum(list_transform(list_zip(CAST(e.embedding AS DOUBLE[]), c.cv),
       |                  s -> (s[1] - s[2]) * (s[1] - s[2]))) AS d
       |  FROM embeddings e CROSS JOIN c),
       |assign AS (
       |  SELECT vec_id, cid AS bucket FROM (
       |    SELECT vec_id, cid,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
       |    FROM dist) WHERE rn = 1),
       |qp AS (
       |  SELECT cid FROM (
       |    SELECT cid, row_number() OVER (ORDER BY d, cid) AS rn
       |    FROM dist WHERE vec_id = 0) WHERE rn <= ${VectorOps.IvfFlatProbes}),
       |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
       |SELECT e.vec_id,
       |       round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 4) AS cos_sim
       |FROM embeddings e
       |JOIN assign a ON a.vec_id = e.vec_id
       |JOIN qp ON a.bucket = qp.cid, q
       |ORDER BY cos_sim DESC, e.vec_id LIMIT 10""".stripMargin


  /** bpe_encode's 4-merge encoder chain as shared CTEs (through `tf`
    * and `enc`) — reused by tokenizer_fertility's per-lang rollup. */
  private def bpeEncCtes: String = {
    val rounds = (1 to 4).map { i =>
      s"""sy$i AS (SELECT wn, list_filter(string_split(rep, bb), x -> x <> '') AS sy
         |         FROM rW${i - 1} CROSS JOIN sep),
         |pc$i AS (SELECT p1, p2, CAST(sum(wn) AS BIGINT) AS cnt FROM (
         |           SELECT wn, sy[k] AS p1, sy[k + 1] AS p2
         |           FROM (SELECT wn, sy, unnest(generate_series(1, len(sy) - 1)) AS k
         |                 FROM sy$i))
         |         GROUP BY 1, 2),
         |t$i AS (SELECT p1, p2, cnt FROM pc$i ORDER BY cnt DESC, p1, p2 LIMIT 1),
         |rW$i AS (SELECT w, wn, replace(rep, s1 || p1 || bb || p2 || s1,
         |                               s1 || p1 || p2 || s1) AS rep
         |         FROM rW${i - 1} CROSS JOIN t$i CROSS JOIN sep)""".stripMargin
    }.mkString(",\n")
    s"""sep AS (SELECT chr(1) AS s1, chr(1) || chr(1) AS bb),
       |tw AS (SELECT doc_id, unnest(list_transform($ToksSql, t -> lower(t))) AS w
       |       FROM documents),
       |tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf FROM tw GROUP BY 1, 2),
       |wc0 AS (SELECT w, CAST(sum(tf) AS BIGINT) AS wn FROM tf GROUP BY 1),
       |rW0 AS (SELECT w, wn, bb || array_to_string(
       |          list_transform(generate_series(1, len(w)), j -> substr(w, j, 1)),
       |          chr(1) || chr(1)) || bb AS rep
       |        FROM wc0 CROSS JOIN sep),
       |$rounds,
       |enc AS (SELECT w, CAST(len(list_filter(string_split(rep, bb), x -> x <> ''))
       |                  AS BIGINT) AS n_sym
       |        FROM rW4 CROSS JOIN sep)""".stripMargin
  }

  /** The NB classifier's train→score chain as shared oracle CTEs
    * (through `sc`: one row per doc with is_train/actual_keep/score) —
    * reused by quality_classifier and classifier_auc. */
  private def nbScoreCtes: String =
    s"""aug AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 2000000000,
         |         array_to_string(($ToksSql)[1:2], ' ')
         |  FROM documents
         |  UNION ALL
         |  SELECT doc_id + 3000000000,
         |         text || ' ' || repeat('.', length(text) // 2)
         |  FROM documents
         |  UNION ALL
         |  SELECT doc_id + 4000000000, replace(text, ' ', '') FROM documents),
         |m AS (SELECT doc_id, text, $ToksSql AS rtoks,
         |        CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS BIGINT)
         |          AS n_punct
         |      FROM aug),
         |lab AS (SELECT doc_id,
         |          NOT ((len(rtoks) < 5) OR (len(rtoks) > 50000)
         |            OR (len(rtoks) > 0 AND
         |                (CAST(length(array_to_string(rtoks, '')) AS DOUBLE) / len(rtoks) < 2.0
         |                 OR CAST(length(array_to_string(rtoks, '')) AS DOUBLE) / len(rtoks) > 15.0))
         |            OR (length(text) > 0 AND CAST(n_punct AS DOUBLE) / length(text) > 0.2))
         |            AS actual_keep,
         |          (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
         |             % 2 = 0) AS is_train,
         |          list_transform(rtoks, t -> lower(t)) AS toks
         |        FROM m),
         |tw AS (SELECT doc_id, actual_keep, is_train, unnest(toks) AS term FROM lab),
         |tf AS (SELECT doc_id, actual_keep, is_train, term,
         |              CAST(count(*) AS BIGINT) AS tf
         |       FROM tw GROUP BY 1, 2, 3, 4),
         |vocab AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cc,
         |            CAST(sum(CASE WHEN actual_keep THEN tf ELSE 0 END) AS BIGINT)
         |              AS pos_c
         |          FROM tf WHERE is_train GROUP BY 1
         |          ORDER BY cc DESC, term LIMIT 300),
         |vc AS (SELECT term, cc, pos_c, cc - pos_c AS neg_c FROM vocab),
         |tot AS (SELECT CAST(sum(pos_c) AS BIGINT) AS pos_tot,
         |               CAST(sum(neg_c) AS BIGINT) AS neg_tot,
         |               CAST(count(*) AS BIGINT) AS v
         |        FROM vc),
         |cls AS (SELECT
         |          CAST(sum(CASE WHEN is_train AND actual_keep THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_pos,
         |          CAST(sum(CASE WHEN is_train AND NOT actual_keep THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_neg
         |        FROM lab),
         |w AS (SELECT term,
         |        CAST(floor(ln(CAST(pos_c + 1 AS DOUBLE) /
         |                      CAST(pos_tot + v AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
         |        - CAST(floor(ln(CAST(neg_c + 1 AS DOUBLE) /
         |                        CAST(neg_tot + v AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
         |          AS w_x1e6
         |      FROM vc CROSS JOIN tot),
         |ds AS (SELECT doc_id, CAST(sum(tf * w_x1e6) AS BIGINT) AS sum_w
         |       FROM tf JOIN w USING (term) GROUP BY 1),
         |sc AS (SELECT lab.doc_id, is_train, actual_keep,
         |         coalesce(sum_w, 0)
         |           + CAST(floor(ln(CAST(n_pos + 1 AS DOUBLE) /
         |                           CAST(n_neg + 1 AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
         |           AS score
         |       FROM lab LEFT JOIN ds USING (doc_id) CROSS JOIN cls)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "ivf_topk" -> ivfFlatOracle,

    // ann_ivf_incremental: full recompute — base-only centroid sample
    // (the frozen day-N−1 routing table), whole-corpus assignment
    // against it, per-query probe routing, bucket-pruned rerank.
    "ann_ivf_incremental" ->
      s"""WITH cut AS (SELECT 4 * max(vec_id) // 5 AS c FROM embeddings),
         |c AS (
         |  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
         |  FROM embeddings, cut WHERE vec_id <= cut.c
         |  ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT), vec_id
         |  LIMIT ${VectorOps.IvfFlatCentroids}),
         |dist AS (
         |  SELECT e.vec_id, c.cid,
         |         list_sum(list_transform(list_zip(CAST(e.embedding AS DOUBLE[]), c.cv),
         |                  s -> (s[1] - s[2]) * (s[1] - s[2]))) AS d
         |  FROM embeddings e CROSS JOIN c),
         |assign AS (
         |  SELECT vec_id, cid AS bucket FROM (
         |    SELECT vec_id, cid,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
         |    FROM dist) WHERE rn = 1),
         |qp AS (
         |  SELECT vec_id AS query_id, cid FROM (
         |    SELECT vec_id, cid,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
         |    FROM dist WHERE vec_id < 3) WHERE rn <= ${VectorOps.IvfFlatProbes}),
         |qv AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
         |       FROM embeddings WHERE vec_id < 3),
         |scored AS (
         |  SELECT qv.query_id, e.vec_id,
         |         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), qv.qv), 4) AS cos_sim
         |  FROM embeddings e
         |  JOIN assign a ON a.vec_id = e.vec_id
         |  JOIN qp ON a.bucket = qp.cid
         |  JOIN qv ON qv.query_id = qp.query_id)
         |SELECT query_id, vec_id, cos_sim FROM (
         |  SELECT query_id, vec_id, cos_sim,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY cos_sim DESC, vec_id) AS rn
         |  FROM scored) WHERE rn <= 10""".stripMargin,

    // ann_recall: the bound-boolean pattern — query ids and the exact
    // branch's row count replay relationally; the recall cells are
    // asserted literal TRUE (recall ≥ 0.7 at k=10 for both the
    // IVF-Flat and IVF-PQ ADC paths). A wrong index, broken routing,
    // or collapsed rerank drives hits below 7 and fails the hash gate.
    "ann_recall" ->
      """SELECT CAST(vec_id AS BIGINT) AS query_id,
        |       CAST(10 AS BIGINT) AS n_exact,
        |       TRUE AS ivf_recall_ok, TRUE AS pq_recall_ok
        |FROM embeddings WHERE vec_id < 5""".stripMargin,

    // hybrid_rrf: the plant construction pins every cell at any SF
    // (unique query vocabulary → exactly 7 lexical matches; corpus
    // embeddings near-orthogonal → the 6 dense plants own ranks 2-7;
    // the fused top-10 provably holds all 9 relevants) — the
    // ann_recall convention: the Spark side computes the retrievals
    // and the fusion for real, the oracle asserts the invariant cells.
    "hybrid_rrf" ->
      """SELECT CAST(vec_id AS BIGINT) AS query_id,
        |       CAST(9 AS BIGINT) AS n_rel,
        |       CAST(6 AS BIGINT) AS lex_hits, CAST(6 AS BIGINT) AS dense_hits,
        |       CAST(9 AS BIGINT) AS fused_hits, TRUE AS fused_ok
        |FROM embeddings WHERE vec_id < 5""".stripMargin,

    // retrieval_ndcg: the plant construction pins the cells — single
    // paths hold relevants at ranks 2-7 (DCG = Σ w(2..7) =
    // 2,637,999,639), the fused list at 2-10 (Σ w(2..10) =
    // 3,543,559,338), ideal = Σ w(1..9) = 4,254,494,512; HALF_UP
    // 1e6-normalization gives 620050 / 620050 / 832898.
    "retrieval_ndcg" ->
      """SELECT CAST(vec_id AS BIGINT) AS query_id,
        |       CAST(620050 AS BIGINT) AS lex_ndcg_x1e6,
        |       CAST(620050 AS BIGINT) AS dense_ndcg_x1e6,
        |       CAST(832898 AS BIGINT) AS fused_ndcg_x1e6,
        |       TRUE AS fused_best
        |FROM embeddings WHERE vec_id < 5""".stripMargin,

    // mrr_prec_at_k: the plant construction pins the cells — each
    // path's first relevant sits at rank 2 (rank 1 is the query doc
    // itself), so RR = HALF_UP(1e6/2) = 500000 on all three paths,
    // and ranks 2-5 of every list are relevant, so P@5 = 4. A ranking
    // regression that displaces the plants shifts fr or the window
    // count and hash-fails.
    "mrr_prec_at_k" ->
      """SELECT CAST(vec_id AS BIGINT) AS query_id,
        |       CAST(500000 AS BIGINT) AS lex_rr_x1e6,
        |       CAST(4 AS BIGINT) AS lex_p5,
        |       CAST(500000 AS BIGINT) AS dense_rr_x1e6,
        |       CAST(4 AS BIGINT) AS dense_p5,
        |       CAST(500000 AS BIGINT) AS fused_rr_x1e6,
        |       CAST(4 AS BIGINT) AS fused_p5
        |FROM embeddings WHERE vec_id < 5""".stripMargin,

    // embed_pca_power: three unrolled matrix-free power-iteration
    // rounds over the centered quantized vectors — every round's dot,
    // dim-sum, and signed-HALF_UP renormalization replayed exactly.
    "embed_pca_power" ->
      s"""WITH $pcaPowerCtes
         |SELECT CAST(d AS BIGINT) AS dim, xv AS comp_x1000 FROM x3""".stripMargin,

    // embed_detop: the same power-iteration chain, then per vector the
    // projection coefficient and residual energy — the N_d² sum rides
    // HUGEINT (Spark: DECIMAL(38,0)).
    "embed_detop" ->
      s"""WITH $pcaPowerCtes,
         |sn AS (SELECT CAST(sum(xv * xv) AS BIGINT) AS s FROM x3),
         |dd AS (SELECT cr.vec_id, CAST(sum(cr.cv * x3.xv) AS BIGINT) AS dd
         |  FROM cr JOIN x3 ON x3.d = cr.d GROUP BY 1),
         |nd AS (SELECT cr.vec_id, dd.dd,
         |    cr.cv * sn.s - x3.xv * dd.dd AS nd
         |  FROM cr JOIN dd USING (vec_id) JOIN x3 ON x3.d = cr.d, sn),
         |en AS (SELECT vec_id, dd,
         |    sum(CAST(nd AS HUGEINT) * nd) AS nd2
         |  FROM nd GROUP BY 1, 2)
         |SELECT en.vec_id,
         |  CAST(CASE WHEN dd >= 0
         |    THEN (2 * 1000000 * dd + sn.s) // (2 * sn.s)
         |    ELSE -((2 * 1000000 * (-dd) + sn.s) // (2 * sn.s))
         |    END AS BIGINT) AS proj_x1e6,
         |  CAST((2 * CAST(1000000 AS HUGEINT) * nd2
         |    + CAST(sn.s AS HUGEINT) * sn.s)
         |    // (2 * CAST(sn.s AS HUGEINT) * sn.s) AS BIGINT) AS resid2_x1e6
         |FROM en, sn""".stripMargin,

    // colbert_maxsim: full recompute — md5-derived 8-dim integer token
    // vectors, vocab × query-token dot products, max per (query, doc,
    // qt), sum, top-5.
    "colbert_maxsim" ->
      """WITH qids AS (SELECT vec_id AS qid FROM embeddings WHERE vec_id < 3),
        |qt AS (SELECT qid, 'cq' || CAST(qid AS VARCHAR) || 't' || CAST(i.i AS VARCHAR) AS qterm
        |       FROM qids CROSS JOIN range(1, 5) i(i)),
        |plant AS (SELECT did AS doc_id,
        |    array_to_string(list_transform(generate_series(1, 4),
        |      i -> 'cq' || CAST(qid AS VARCHAR) || 't' || CAST(i AS VARCHAR)), ' ')
        |    || ' ' ||
        |    array_to_string(list_transform(generate_series(1, 6),
        |      kk -> 'cx' || CAST(did AS VARCHAR) || 'x' || CAST(kk AS VARCHAR)), ' ')
        |      AS text
        |  FROM (SELECT qid, 9500000 + qid * 10 + j.j AS did
        |        FROM qids CROSS JOIN range(1, 4) j(j))),
        |docs AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id, text FROM plant),
        |inc AS MATERIALIZED (SELECT DISTINCT doc_id, term FROM (
        |  SELECT doc_id,
        |         unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |                x -> x <> '')) AS term
        |  FROM docs)),
        |vocab AS (SELECT DISTINCT term FROM inc),
        |qv AS (SELECT qid, qterm, k.k,
        |    CAST('0x' || substr(md5(qterm || ':' || CAST(k.k AS VARCHAR)), 1, 15)
        |      AS BIGINT) % 201 - 100 AS v
        |  FROM qt CROSS JOIN range(0, 8) k(k)),
        |tvv AS MATERIALIZED (SELECT term, k.k,
        |    CAST('0x' || substr(md5(term || ':' || CAST(k.k AS VARCHAR)), 1, 15)
        |      AS BIGINT) % 201 - 100 AS v
        |  FROM vocab CROSS JOIN range(0, 8) k(k)),
        |dots AS (SELECT q.qid, q.qterm, t.term,
        |    CAST(sum(q.v * t.v) AS BIGINT) AS dot
        |  FROM qv q JOIN tvv t ON t.k = q.k GROUP BY 1, 2, 3),
        |perqt AS (SELECT d.qid, i.doc_id, d.qterm, max(d.dot) AS best
        |  FROM inc i JOIN dots d ON d.term = i.term GROUP BY 1, 2, 3),
        |sc AS (SELECT qid AS query_id, doc_id,
        |    CAST(sum(best) AS BIGINT) AS maxsim
        |  FROM perqt GROUP BY 1, 2)
        |SELECT query_id, doc_id, maxsim,
        |  (doc_id >= 9500000 AND doc_id < 9600000) AS is_planted
        |FROM (SELECT query_id, doc_id, maxsim,
        |        row_number() OVER (PARTITION BY query_id
        |                           ORDER BY maxsim DESC, doc_id) AS rn
        |      FROM sc) WHERE rn <= 5""".stripMargin,

    // embed_outliers: same quantized grid, ×3-scaled plants, shifted
    // floored per-dim centroid, exact d², cleared-denominator flag.
    "embed_outliers" ->
      """WITH v0 AS (SELECT vec_id, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))
        |    AS q
        |  FROM embeddings),
        |pl AS (SELECT vec_id + 8000000 AS vec_id,
        |         list_transform(q, x -> x * 3) AS q
        |       FROM v0 WHERE vec_id < 5),
        |al AS (SELECT * FROM v0 UNION ALL SELECT * FROM pl),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM al),
        |ex AS (SELECT vec_id, generate_subscripts(q, 1) AS dim,
        |              unnest(q) AS v
        |       FROM al),
        |cent AS (SELECT dim,
        |           CAST(((sum(v) + 2000 * nn.n) // nn.n) - 2000
        |                AS BIGINT) AS c
        |         FROM ex CROSS JOIN nn GROUP BY dim, nn.n),
        |sc AS (SELECT e.vec_id,
        |         CAST(sum((e.v - c.c) * (e.v - c.c)) AS BIGINT) AS d2
        |       FROM ex e JOIN cent c USING (dim) GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS nv,
        |               CAST(sum(d2) AS BIGINT) AS sd
        |        FROM sc)
        |SELECT vec_id, d2, (vec_id >= 8000000) AS is_planted
        |FROM sc CROSS JOIN tot WHERE nv * d2 > 4 * sd""".stripMargin,

    // query_expansion: full recompute — bridge/hidden construction,
    // two tf-overlap retrieval passes, feedback term-mass top-2,
    // HALF_UP recall cells.
    "query_expansion" ->
      """WITH qids AS (SELECT vec_id AS qid FROM embeddings
        |              WHERE vec_id < 3),
        |qterms AS (SELECT qid, 'pe' || CAST(qid AS VARCHAR) || 't' ||
        |             CAST(i.i AS VARCHAR) AS term
        |           FROM qids CROSS JOIN range(1, 4) i(i)),
        |bridge AS (SELECT 9850000 + qid * 10 + j.j AS doc_id,
        |    array_to_string(list_transform(generate_series(1, 3),
        |      i -> 'pe' || CAST(qid AS VARCHAR) || 't' ||
        |        CAST(i AS VARCHAR)), ' ')
        |    || ' ' || concat_ws(' ',
        |      'pe' || CAST(qid AS VARCHAR) || 'e1',
        |      'pe' || CAST(qid AS VARCHAR) || 'e1',
        |      'pe' || CAST(qid AS VARCHAR) || 'e2',
        |      'pe' || CAST(qid AS VARCHAR) || 'e2') AS text
        |  FROM qids CROSS JOIN range(1, 4) j(j)),
        |hidden AS (SELECT did AS doc_id,
        |    concat_ws(' ',
        |      'pe' || CAST(qid AS VARCHAR) || 'e1',
        |      'pe' || CAST(qid AS VARCHAR) || 'e1',
        |      'pe' || CAST(qid AS VARCHAR) || 'e2',
        |      'pe' || CAST(qid AS VARCHAR) || 'e2')
        |    || ' ' ||
        |    array_to_string(list_transform(generate_series(1, 4),
        |      kk -> 'px' || CAST(did AS VARCHAR) || 'x' ||
        |        CAST(kk AS VARCHAR)), ' ') AS text
        |  FROM (SELECT qid, 9860000 + qid * 10 + j.j AS did
        |        FROM qids CROSS JOIN range(1, 4) j(j))),
        |docs AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id, text FROM bridge
        |  UNION ALL SELECT doc_id, text FROM hidden),
        |tf AS MATERIALIZED (SELECT doc_id, term,
        |    CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(list_filter(
        |          string_split_regex(trim(lower(text)), '\s+'),
        |          x -> x <> '')) AS term
        |        FROM docs) GROUP BY 1, 2),
        |s1 AS (SELECT q.qid AS query_id, t.doc_id,
        |         CAST(sum(t.tf) AS BIGINT) AS score
        |       FROM tf t JOIN qterms q USING (term) GROUP BY 1, 2),
        |c1 AS (SELECT query_id, doc_id, rank FROM (
        |    SELECT query_id, doc_id, row_number() OVER (
        |      PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
        |    FROM s1) WHERE rank <= 10),
        |fb AS (SELECT query_id AS qid, doc_id FROM c1 WHERE rank <= 3),
        |et AS (SELECT qid, term FROM (
        |    SELECT qid, term, row_number() OVER (
        |      PARTITION BY qid ORDER BY mass DESC, term) AS rn
        |    FROM (SELECT f.qid, t.term, CAST(sum(t.tf) AS BIGINT) AS mass
        |          FROM tf t JOIN fb f USING (doc_id)
        |          WHERE t.term NOT IN (SELECT term FROM qterms)
        |          GROUP BY 1, 2)) WHERE rn <= 2),
        |q2 AS (SELECT qid, term FROM qterms
        |       UNION ALL SELECT qid, term FROM et),
        |s2 AS (SELECT q.qid AS query_id, t.doc_id,
        |         CAST(sum(t.tf) AS BIGINT) AS score
        |       FROM tf t JOIN q2 q USING (term) GROUP BY 1, 2),
        |c2 AS (SELECT query_id, doc_id FROM (
        |    SELECT query_id, doc_id, row_number() OVER (
        |      PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
        |    FROM s2) WHERE rank <= 10),
        |rel AS (SELECT doc_id,
        |          CASE WHEN doc_id >= 9860000
        |               THEN (doc_id - 9860000) // 10
        |               ELSE (doc_id - 9850000) // 10 END AS query_id
        |        FROM (SELECT doc_id FROM bridge
        |              UNION ALL SELECT doc_id FROM hidden)),
        |nr AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
        |       FROM rel GROUP BY 1),
        |ne AS (SELECT qid AS query_id, CAST(count(*) AS BIGINT)
        |         AS n_expansion
        |       FROM et GROUP BY 1),
        |r1 AS (SELECT c.query_id, CAST(count(*) AS BIGINT) AS hit
        |       FROM c1 c JOIN rel USING (query_id, doc_id) GROUP BY 1),
        |r2 AS (SELECT c.query_id, CAST(count(*) AS BIGINT) AS hit
        |       FROM c2 c JOIN rel USING (query_id, doc_id) GROUP BY 1)
        |SELECT n.query_id, n.n_rel, ne.n_expansion,
        |  (2 * 1000000 * r1.hit + n.n_rel) // (2 * n.n_rel)
        |    AS recall1_x1e6,
        |  (2 * 1000000 * r2.hit + n.n_rel) // (2 * n.n_rel)
        |    AS recall2_x1e6,
        |  ((2 * 1000000 * r2.hit + n.n_rel) // (2 * n.n_rel) >
        |   (2 * 1000000 * r1.hit + n.n_rel) // (2 * n.n_rel))
        |    AS expansion_ok
        |FROM nr n JOIN ne USING (query_id) JOIN r1 USING (query_id)
        |JOIN r2 USING (query_id)""".stripMargin,

    // rag_rerank: full recompute — anchor derivation, plant/decoy
    // construction, tf-overlap stage 1, candidate-restricted MaxSim,
    // literal-weight nDCG@5 cells from the same Scala list.
    "rag_rerank" -> {
      val w5 = RagNdcgWeights.take(5)
      val wVals = w5.zipWithIndex
        .map { case (wt, i) => s"(${i + 1}, ${wt})" }.mkString(", ")
      val idcg = w5.sum
      s"""WITH qids AS (SELECT vec_id AS qid FROM embeddings
         |              WHERE vec_id < 3),
         |qterms AS (SELECT qid, 'rq' || CAST(qid AS VARCHAR) || 't' ||
         |             CAST(i.i AS VARCHAR) AS term
         |           FROM qids CROSS JOIN range(1, 5) i(i)),
         |qtext AS (SELECT qid,
         |            array_to_string(list_sort(list(term)), ' ') AS qtext
         |          FROM qterms GROUP BY 1),
         |plant AS (SELECT did AS doc_id, qtext || ' ' ||
         |            array_to_string(list_transform(generate_series(1, 6),
         |              kk -> 'rx' || CAST(did AS VARCHAR) || 'x' ||
         |                CAST(kk AS VARCHAR)), ' ') AS text
         |          FROM (SELECT qid, qtext, 9700000 + qid * 10 + j.j AS did
         |                FROM qtext CROSS JOIN range(1, 4) j(j))),
         |part AS (SELECT 9750000 + qid * 10 + j.j AS doc_id,
         |           array_to_string(list_transform(generate_series(1, 3),
         |             x -> 'rq' || CAST(qid AS VARCHAR) || 't1'), ' ')
         |           || ' ' ||
         |           array_to_string(list_transform(generate_series(1, 3),
         |             x -> 'rq' || CAST(qid AS VARCHAR) || 't2'), ' ')
         |             AS text
         |         FROM qtext CROSS JOIN range(1, 3) j(j)),
         |decoy AS (SELECT 9800000 + qid * 10 + j.j AS doc_id,
         |            array_to_string(list_transform(generate_series(1, 12),
         |              x -> 'rq' || CAST(qid AS VARCHAR) || 't1'), ' ')
         |              AS text
         |          FROM qtext CROSS JOIN range(1, 3) j(j)),
         |docs AS (SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id, text FROM plant
         |  UNION ALL SELECT doc_id, text FROM part
         |  UNION ALL SELECT doc_id, text FROM decoy),
         |tf AS MATERIALIZED (SELECT doc_id, term,
         |    CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest(list_filter(
         |          string_split_regex(trim(lower(text)), '\\s+'),
         |          x -> x <> '')) AS term
         |        FROM docs) GROUP BY 1, 2),
         |s1 AS (SELECT q.qid AS query_id, t.doc_id,
         |         CAST(sum(t.tf) AS BIGINT) AS score1
         |       FROM tf t JOIN qterms q ON q.term = t.term GROUP BY 1, 2),
         |cand AS (SELECT query_id, doc_id, score1, rank1 FROM (
         |    SELECT query_id, doc_id, score1, row_number() OVER (
         |      PARTITION BY query_id ORDER BY score1 DESC, doc_id) AS rank1
         |    FROM s1) WHERE rank1 <= 20),
         |cinc AS (SELECT DISTINCT t.doc_id, t.term
         |         FROM tf t JOIN (SELECT DISTINCT doc_id FROM cand) c
         |           USING (doc_id)),
         |vocab AS (SELECT DISTINCT term FROM cinc),
         |tvv AS MATERIALIZED (SELECT term, k.k,
         |    CAST('0x' || substr(md5(term || ':' || CAST(k.k AS VARCHAR)),
         |      1, 15) AS BIGINT) % 201 - 100 AS v
         |  FROM vocab CROSS JOIN range(0, 8) k(k)),
         |qv AS (SELECT qid, term AS qterm, k.k,
         |    CAST('0x' || substr(md5(term || ':' || CAST(k.k AS VARCHAR)),
         |      1, 15) AS BIGINT) % 201 - 100 AS v
         |  FROM qterms CROSS JOIN range(0, 8) k(k)),
         |dots AS (SELECT q.qid, q.qterm, t.term,
         |    CASE WHEN t.term = q.qterm THEN 80000
         |         ELSE CAST(sum(q.v * t.v) AS BIGINT) END AS dot
         |  FROM qv q JOIN tvv t ON t.k = q.k GROUP BY 1, 2, 3),
         |perqt AS (SELECT d.qid, i.doc_id, d.qterm, max(d.dot) AS best
         |  FROM cinc i JOIN dots d ON d.term = i.term GROUP BY 1, 2, 3),
         |rrs AS (SELECT p.qid AS query_id, p.doc_id,
         |          CAST(sum(p.best) AS BIGINT) AS maxsim
         |        FROM perqt p JOIN cand c
         |          ON c.query_id = p.qid AND c.doc_id = p.doc_id
         |        GROUP BY 1, 2),
         |rtop AS (SELECT query_id, doc_id, maxsim, rank FROM (
         |    SELECT query_id, doc_id, maxsim, row_number() OVER (
         |      PARTITION BY query_id ORDER BY maxsim DESC, doc_id) AS rank
         |    FROM rrs) WHERE rank <= 5),
         |w(r, wt) AS (VALUES $wVals),
         |nd1 AS (SELECT query_id, (2 * 1000000 * CAST(sum(
         |          CASE WHEN doc_id >= 9700000 AND doc_id < 9750000
         |               THEN wt ELSE 0 END) AS BIGINT) + $idcg)
         |          // (2 * $idcg) AS stage1_ndcg_x1e6
         |        FROM cand JOIN w ON w.r = cand.rank1
         |        WHERE rank1 <= 5 GROUP BY 1),
         |nd2 AS (SELECT query_id, (2 * 1000000 * CAST(sum(
         |          CASE WHEN doc_id >= 9700000 AND doc_id < 9750000
         |               THEN wt ELSE 0 END) AS BIGINT) + $idcg)
         |          // (2 * $idcg) AS rerank_ndcg_x1e6
         |        FROM rtop JOIN w ON w.r = rtop.rank GROUP BY 1)
         |SELECT r.query_id, CAST(r.rank AS BIGINT) AS rank, r.doc_id,
         |  r.maxsim,
         |  (r.doc_id >= 9700000 AND r.doc_id < 9750000) AS is_rel,
         |  nd1.stage1_ndcg_x1e6, nd2.rerank_ndcg_x1e6,
         |  (nd2.rerank_ndcg_x1e6 >= nd1.stage1_ndcg_x1e6) AS rerank_ok
         |FROM rtop r JOIN nd1 USING (query_id) JOIN nd2 USING (query_id)"""
        .stripMargin
    },

    // rag_pipeline: the ORACLE IS THE FULL RECOMPUTE of the whole
    // serving chain — chunking, integer chunk vectors, log-free
    // integer tf-idf, 64-term literal L2 sums, exact-integer RRF,
    // literal-weight nDCG (weights injected from the SAME Scala list
    // the Spark plan uses). MATERIALIZED on the corpus-derived CTEs
    // (the corpus_pipeline fd lesson).
    "rag_pipeline" -> {
      val ed2 = (1 to 64).map(j =>
        s"(c.q[$j] - qv.qq[$j]) * (c.q[$j] - qv.qq[$j])").mkString(" + ")
      val wl = RagNdcgWeights.mkString("list_value(", ", ", ")")
      val idcg = RagNdcgWeights.sum
      def junkSql(pfx: String, n: Int) =
        s"""array_to_string(list_transform(generate_series(1, $n),
           |      k -> '$pfx' || CAST(did AS VARCHAR) || 'x' || CAST(k AS VARCHAR)), ' ')""".stripMargin
      s"""WITH
         |qb AS MATERIALIZED (SELECT vec_id AS qid,
         |    list_transform(embedding,
         |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT) + 10) AS qq
         |  FROM embeddings WHERE vec_id < 5),
         |qt AS (SELECT qid, array_to_string(list_transform(generate_series(1, 20),
         |    i -> 'hq' || CAST(qid AS VARCHAR) || 't' || CAST(i AS VARCHAR)), ' ') AS qtext
         |  FROM qb),
         |wj AS (SELECT qb.qid, qb.qq, r.j FROM qb CROSS JOIN range(1, 4) r(j)),
         |lexd AS (SELECT did AS doc_id,
         |    ${junkSql("zj", 96)} || ' ' || qtext || ' ' || ${junkSql("zk", 30)} AS text
         |  FROM (SELECT 9100000 + qid * 10 + j AS did, qtext
         |        FROM wj JOIN qt USING (qid))),
         |densed AS (SELECT did AS doc_id, ${junkSql("zd", 10)} AS text
         |  FROM (SELECT 9200000 + qid * 10 + j AS did FROM wj)),
         |bothd AS (SELECT did AS doc_id, qtext || ' ' || ${junkSql("zb", 5)} AS text
         |  FROM (SELECT 9300000 + qid * 10 + j AS did, qtext
         |        FROM wj JOIN qt USING (qid))),
         |docs AS (SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id, text FROM lexd
         |  UNION ALL SELECT doc_id, text FROM densed
         |  UNION ALL SELECT doc_id, text FROM bothd),
         |pv AS MATERIALIZED (
         |  SELECT vec_id AS doc_id, list_transform(embedding,
         |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS q
         |    FROM embeddings
         |  UNION ALL SELECT 9100000 + qid * 10 + j,
         |      list_transform(qq, x -> -x) FROM wj
         |  UNION ALL SELECT 9200000 + qid * 10 + j,
         |      list_transform(qq, x -> x + j) FROM wj
         |  UNION ALL SELECT 9300000 + qid * 10 + j,
         |      list_transform(qq, x -> x + 2 * j) FROM wj),
         |tok AS (SELECT doc_id,
         |    list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS toks
         |  FROM docs),
         |sz AS (SELECT doc_id, toks,
         |    CASE WHEN len(toks) <= 64 THEN 1
         |         ELSE 1 + (len(toks) - 64 + 47) // 48 END AS n_chunks
         |  FROM tok),
         |chunk AS MATERIALIZED (SELECT doc_id * 1000 + chunk_idx AS ckey,
         |    doc_id, chunk_idx,
         |    list_slice(toks, chunk_idx * 48 + 1, chunk_idx * 48 + 64) AS ctoks
         |  FROM (SELECT doc_id, toks,
         |          unnest(generate_series(0, n_chunks - 1)) AS chunk_idx
         |        FROM sz)),
         |cv AS MATERIALIZED (SELECT ckey,
         |    list_transform(q, x -> x + chunk_idx) AS q
         |  FROM chunk JOIN pv USING (doc_id)),
         |tf AS MATERIALIZED (SELECT ckey, term, CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT ckey, unnest(ctoks) AS term FROM chunk) GROUP BY 1, 2),
         |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_chunks FROM chunk),
         |qterms AS (SELECT qid, unnest(string_split(qtext, ' ')) AS term FROM qt),
         |lexsc AS (SELECT qid AS query_id, ckey,
         |    CAST(sum(tf * ((1000000 * n_chunks) // df)) AS BIGINT) AS score
         |  FROM tf JOIN qterms USING (term) JOIN dfreq USING (term) CROSS JOIN tot
         |  GROUP BY 1, 2),
         |lexrank AS (SELECT query_id, ckey AS doc_id,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY score DESC, ckey) AS rank
         |  FROM lexsc QUALIFY rank <= 10),
         |densesc AS (SELECT qv.qid AS query_id, c.ckey AS doc_id,
         |    CAST($ed2 AS BIGINT) AS d2
         |  FROM cv c CROSS JOIN qb qv),
         |denserank AS (SELECT query_id, doc_id,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY d2, doc_id) AS rank
         |  FROM densesc QUALIFY rank <= 10),
         |contrib AS (SELECT query_id, doc_id, 1000000000000 // (60 + rank) AS c
         |  FROM lexrank
         |  UNION ALL SELECT query_id, doc_id, 1000000000000 // (60 + rank)
         |  FROM denserank),
         |fagg AS (SELECT query_id, doc_id, CAST(sum(c) AS BIGINT) AS rrf_x1e12,
         |    CAST(count(*) AS BIGINT) AS n_paths
         |  FROM contrib GROUP BY 1, 2),
         |fused AS (SELECT query_id, doc_id, rrf_x1e12, n_paths,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY rrf_x1e12 DESC, doc_id) AS rank
         |  FROM fagg QUALIFY rank <= 10),
         |lexdcg AS (SELECT query_id, CAST(sum(CASE
         |    WHEN doc_id >= 9100000000 AND doc_id < 9400000000
         |    THEN ($wl)[rank] ELSE 0 END) AS BIGINT) AS dcg
         |  FROM lexrank GROUP BY 1),
         |densedcg AS (SELECT query_id, CAST(sum(CASE
         |    WHEN doc_id >= 9100000000 AND doc_id < 9400000000
         |    THEN ($wl)[rank] ELSE 0 END) AS BIGINT) AS dcg
         |  FROM denserank GROUP BY 1),
         |fuseddcg AS (SELECT query_id, CAST(sum(CASE
         |    WHEN doc_id >= 9100000000 AND doc_id < 9400000000
         |    THEN ($wl)[rank] ELSE 0 END) AS BIGINT) AS dcg
         |  FROM fused GROUP BY 1),
         |cells AS (SELECT l.query_id,
         |    CAST((2 * 1000000 * l.dcg + $idcg) // (2 * $idcg) AS BIGINT) AS lex_ndcg_x1e6,
         |    CAST((2 * 1000000 * d.dcg + $idcg) // (2 * $idcg) AS BIGINT) AS dense_ndcg_x1e6,
         |    CAST((2 * 1000000 * f.dcg + $idcg) // (2 * $idcg) AS BIGINT) AS fused_ndcg_x1e6
         |  FROM lexdcg l JOIN densedcg d ON d.query_id = l.query_id
         |  JOIN fuseddcg f ON f.query_id = l.query_id)
         |SELECT f.query_id, CAST(f.rank AS BIGINT) AS rank,
         |  f.doc_id // 1000 AS doc_id, f.doc_id % 1000 AS chunk_idx,
         |  f.rrf_x1e12, f.n_paths,
         |  (f.doc_id >= 9100000000 AND f.doc_id < 9400000000) AS is_rel,
         |  c.lex_ndcg_x1e6, c.dense_ndcg_x1e6, c.fused_ndcg_x1e6,
         |  (c.fused_ndcg_x1e6 >= greatest(c.lex_ndcg_x1e6, c.dense_ndcg_x1e6))
         |    AS fused_ok
         |FROM fused f JOIN cells c ON c.query_id = f.query_id""".stripMargin
    },

    // corpus_report: same one-scan rollup + corpus-wide text-key dup
    // counts.
    "corpus_report" ->
      s"""WITH d AS (SELECT doc_id, source, lang, n_chars,
         |             lower(trim(text)) AS key,
         |             CAST(len($ToksSql) AS BIGINT) AS n_toks
         |           FROM documents),
         |kc AS (SELECT key, CAST(count(*) AS BIGINT) AS kc FROM d GROUP BY 1),
         |a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |        CAST(sum(n_toks) AS BIGINT) AS n_tokens,
         |        CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |        CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |        CAST(sum(CASE WHEN kc > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |          AS n_exact_dups,
         |        CAST(sum(CASE WHEN n_toks < 5 THEN 1 ELSE 0 END) AS BIGINT)
         |          AS n_short
         |      FROM d JOIN kc USING (key) GROUP BY 1)
         |SELECT source, n_docs, n_tokens, n_langs,
         |       (2 * sum_chars + n_docs) // (2 * n_docs) AS avg_chars,
         |       n_exact_dups, n_short,
         |       (2 * 10000 * n_exact_dups + n_docs) // (2 * n_docs) AS dup_x1e4,
         |       (2 * 10000 * n_short + n_docs) // (2 * n_docs) AS short_x1e4
         |FROM a""".stripMargin,

    // license_filter: same plants, same conservative restrictive-wins
    // classification.
    "license_filter" ->
      """WITH m AS (SELECT doc_id, source,
        |             text ||
        |             CASE WHEN doc_id % 5 = 0
        |               THEN ' licensed under creative commons attribution 4.0'
        |               ELSE '' END ||
        |             CASE WHEN doc_id % 7 = 0
        |               THEN ' all rights reserved unauthorized copying prohibited'
        |               ELSE '' END AS text
        |           FROM documents),
        |c AS (SELECT source,
        |        CASE WHEN lower(text) LIKE '%all rights reserved%'
        |               THEN 'restrictive'
        |             WHEN lower(text) LIKE '%creative commons%'
        |               THEN 'permissive'
        |             ELSE 'unmarked' END AS license
        |      FROM m)
        |SELECT source, license, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(CASE WHEN license <> 'restrictive' THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_trainable
        |FROM c GROUP BY 1, 2""".stripMargin,

    // image_neardup: decode isn't SQL-expressible — the deterministic
    // plant construction pins the audit cells from the documents table
    // (the ann_recall convention).
    "image_neardup" ->
      """WITH n3 AS (SELECT CAST(count(*) AS BIGINT) AS e FROM documents
        |            WHERE doc_id % 3 = 0),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
        |SELECT n + e AS n_images, e AS n_expected, e AS n_pairs,
        |       TRUE AS only_planted
        |FROM nn, n3""".stripMargin,

    // audio_stats: the full hash oracle — DuckDB regenerates the
    // md5-derived sample stream per doc (generate_series lateral) and
    // recomputes peak/energy/clip cells; undecodable %7 docs are the
    // all-zero rows.
    "audio_stats" ->
      """WITH base AS (
        |  SELECT doc_id,
        |         1 + doc_id % 2 AS channels,
        |         8000 + (doc_id % 8) * 1000 AS sample_rate,
        |         300 + 2 * (doc_id % 50) AS n
        |  FROM documents),
        |samp AS (
        |  -- fixed series + filter: DuckDB's generate_series takes no
        |  -- lateral column bound; max n is 300 + 2·49 = 398
        |  SELECT b.doc_id,
        |         CAST('0x' || substr(md5(CAST(b.doc_id AS VARCHAR) || ':' ||
        |              CAST(t.i AS VARCHAR)), 1, 15) AS BIGINT)
        |           % 70001 - 35000 AS raw
        |  FROM base b JOIN generate_series(0, 397) t(i) ON t.i < b.n
        |  WHERE b.doc_id % 7 <> 0),
        |cl AS (SELECT doc_id, greatest(-32768, least(32767, raw)) AS v
        |       FROM samp),
        |agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
        |         CAST(max(abs(v)) AS BIGINT) AS peak,
        |         CAST(sum(v * v) AS BIGINT) AS sum_sq,
        |         CAST(sum(CASE WHEN v = 32767 OR v = -32768 THEN 1 ELSE 0 END)
        |              AS BIGINT) AS n_clipped
        |  FROM cl GROUP BY 1)
        |SELECT b.doc_id,
        |       (b.doc_id % 7 <> 0) AS decoded,
        |       CAST(CASE WHEN b.doc_id % 7 = 0 THEN 0 ELSE b.channels END
        |            AS BIGINT) AS channels,
        |       CAST(CASE WHEN b.doc_id % 7 = 0 THEN 0 ELSE b.sample_rate END
        |            AS BIGINT) AS sample_rate,
        |       coalesce(a.n_samples, 0) AS n_samples,
        |       coalesce(a.peak, 0) AS peak,
        |       coalesce(a.sum_sq, 0) AS sum_sq,
        |       coalesce(a.n_clipped, 0) AS n_clipped,
        |       CASE WHEN b.doc_id % 7 = 0 THEN 0
        |            ELSE (2 * 1000000 * a.n_clipped + a.n_samples)
        |                 // (2 * a.n_samples) END AS clip_x1e6
        |FROM base b LEFT JOIN agg a USING (doc_id)""".stripMargin,

    // audio_neardup: full hash oracle — regenerate the exact sample
    // stream per doc (the audio_stats md5 formula), fold the same
    // (j+13)² position-weighted 64-sample window keys, and replay the
    // copy-side (windows ≥ 2 of even docs, id + 15e9) vs original
    // key join. max samples = 64·(6 + 3) = 576.
    "audio_neardup" ->
      """WITH base AS (
        |  SELECT doc_id, 6 + doc_id % 4 AS k
        |  FROM documents WHERE doc_id % 13 = 0 AND doc_id % 7 <> 0),
        |samp AS (
        |  SELECT b.doc_id, t.i // 64 AS w, t.i % 64 AS j,
        |         greatest(-32768, least(32767,
        |           CAST('0x' || substr(md5(CAST(b.doc_id AS VARCHAR) || ':' ||
        |             CAST(t.i AS VARCHAR)), 1, 15) AS BIGINT)
        |             % 70001 - 35000)) AS v
        |  FROM base b JOIN generate_series(0, 575) t(i) ON t.i < 64 * b.k),
        |keys AS (
        |  SELECT doc_id, w,
        |         CAST(sum((j + 13) * (j + 13) * v) AS BIGINT) AS win_key
        |  FROM samp GROUP BY 1, 2),
        |orig AS (SELECT doc_id AS orig_doc, win_key FROM keys),
        |cop AS (SELECT doc_id + 15000000000 AS copy_doc, win_key
        |        FROM keys WHERE doc_id % 2 = 0 AND w >= 2)
        |SELECT c.copy_doc, o.orig_doc, CAST(count(*) AS BIGINT) AS n_shared
        |FROM cop c JOIN orig o USING (win_key)
        |GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin,

    // video_framestats / video_neardup: regenerate every sampled
    // frame's pixel bytes from the shared md5 formula (7-byte groups,
    // the synthAvi generator) and fold the same exact-integer stats /
    // content keys — full hash oracles over really-decoded frames.
    "video_framestats" -> {
      // byte bi of group gg is (v >> 8·bi) & 255, valid while the pixel
      // index gg·7+bi < 256; weight for the content key is (p+7)³
      def b(bi: Int) = s"CASE WHEN gg * 7 + $bi < 256 THEN (v >> ${8 * bi}) & 255 ELSE 0 END"
      def wk(bi: Int) =
        s"CASE WHEN gg * 7 + $bi < 256 THEN ((v >> ${8 * bi}) & 255) * " +
          s"(gg * 7 + $bi + 7) * (gg * 7 + $bi + 7) * (gg * 7 + $bi + 7) ELSE 0 END"
      val sumT = (0 to 6).map(b).mkString(" + ")
      val peakT = (0 to 6).map(b).mkString("greatest(", ", ", ")")
      val keyT = (0 to 6).map(wk).mkString(" + ")
      s"""WITH base AS (SELECT doc_id, doc_id % 3 <> 0 AS dec,
         |    6 + doc_id % 5 AS n
         |  FROM documents WHERE doc_id % 11 = 0),
         |fr AS (SELECT b.doc_id, b.n, f.f
         |  FROM base b JOIN generate_series(0, 9) f(f)
         |    ON f.f < b.n AND f.f % 2 = 0
         |  WHERE b.dec),
         |gv AS (SELECT fr.doc_id, fr.n, fr.f, g.g AS gg,
         |    CAST('0x' || substr(md5('av:' || CAST(fr.doc_id AS VARCHAR) ||
         |      ':' || CAST(fr.f AS VARCHAR) || ':' || CAST(g.g AS VARCHAR)),
         |      1, 15) AS BIGINT) AS v
         |  FROM fr CROSS JOIN generate_series(0, 36) g(g)),
         |agg AS (SELECT doc_id, n, f,
         |    CAST(sum($sumT) AS BIGINT) AS lum_sum,
         |    CAST(max($peakT) AS BIGINT) AS lum_peak,
         |    CAST(sum($keyT) AS BIGINT) AS frame_key
         |  FROM gv GROUP BY 1, 2, 3)
         |SELECT doc_id, TRUE AS decoded, CAST(16 AS BIGINT) AS width,
         |  CAST(16 AS BIGINT) AS height, CAST(n AS BIGINT) AS n_frames,
         |  CAST(f AS BIGINT) AS frame_idx, lum_sum, lum_peak, frame_key
         |FROM agg
         |UNION ALL
         |SELECT doc_id, FALSE, 0, 0, 0, 0, 0, 0, 0
         |FROM base WHERE NOT dec""".stripMargin
    },

    "video_neardup" -> {
      def wk(bi: Int) =
        s"CASE WHEN g.g * 7 + $bi < 256 THEN ((v >> ${8 * bi}) & 255) * " +
          s"(g.g * 7 + $bi + 7) * (g.g * 7 + $bi + 7) * (g.g * 7 + $bi + 7) ELSE 0 END"
      val keyT = (0 to 6).map(wk).mkString(" + ")
      def keys(name: String, frameCond: String, doc: String) =
        s"""$name AS (SELECT $doc AS doc, f.f,
           |    CAST(sum($keyT) AS BIGINT) AS frame_key
           |  FROM vids b JOIN generate_series(0, 9) f(f) ON $frameCond
           |  CROSS JOIN generate_series(0, 36) g(g),
           |  LATERAL (SELECT CAST('0x' || substr(md5('av:' ||
           |    CAST(b.doc_id AS VARCHAR) || ':' || CAST(f.f AS VARCHAR) ||
           |    ':' || CAST(g.g AS VARCHAR)), 1, 15) AS BIGINT) AS v) x
           |  GROUP BY 1, 2)""".stripMargin
      s"""WITH vids AS (SELECT doc_id, 6 + doc_id % 5 AS n FROM documents
         |  WHERE doc_id % 11 = 0 AND doc_id % 3 <> 0),
         |${keys("okeys", "f.f < b.n AND f.f % 2 = 0", "b.doc_id")},
         |${keys("ckeys",
            "f.f >= 2 AND f.f < b.n AND f.f % 2 = 0 AND b.doc_id % 2 = 0",
            "b.doc_id + 14000000000")}
         |SELECT c.doc AS copy_doc, o.doc AS orig_doc,
         |  CAST(count(*) AS BIGINT) AS n_shared
         |FROM ckeys c JOIN okeys o ON o.frame_key = c.frame_key
         |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin
    },

    // multimodal_pipeline: the manifest (base + copy rows with their
    // per-modality decodability/size parameters) is one constructed
    // CTE; the audio clip gate, the video sampled-frame peak gate and
    // the near-dup window-key join are FULL md5 decode replays; the
    // image gate mirrors the %6 plant construction (dHash decode
    // isn't SQL-expressible). Seven scalar-subquery report cells.
    "multimodal_pipeline" -> {
      def pb(bi: Int) =
        s"CASE WHEN gg * 7 + $bi < 256 THEN (v >> ${8 * bi}) & 255 ELSE 0 END"
      val peakT = (0 to 6).map(pb).mkString("greatest(", ", ", ")")
      s"""WITH m0 AS (SELECT doc_id AS m FROM documents WHERE doc_id % 9 = 0),
         |rows_ AS (
         |  SELECT m AS id, m AS seed,
         |         (m % 6 <> 0) AS img_ok0,
         |         (m % 5 <> 0) AS aud_dec,
         |         64 * (6 + m % 4) AS n_aud, 0 AS aoff,
         |         (m % 4 <> 0) AS vid_dec,
         |         2 + m % 7 AS n_vid, m AS vseed
         |  FROM m0
         |  UNION ALL
         |  SELECT m + 16000000000 AS id, m AS seed,
         |         TRUE, TRUE,
         |         64 * (4 + m % 4), 128,
         |         TRUE, 4, m + 16000000000
         |  FROM m0 WHERE m % 3 = 0 AND m % 5 <> 0),
         |asamp AS (
         |  SELECT r.id, t.i // 64 AS w, t.i % 64 AS j,
         |         greatest(-32768, least(32767,
         |           CAST('0x' || substr(md5(CAST(r.seed AS VARCHAR) || ':' ||
         |             CAST(t.i + r.aoff AS VARCHAR)), 1, 15) AS BIGINT)
         |             % 70001 - 35000)) AS v
         |  FROM rows_ r JOIN generate_series(0, 575) t(i) ON t.i < r.n_aud
         |  WHERE r.aud_dec),
         |aagg AS (SELECT id, count(*) AS ns,
         |           sum(CASE WHEN v = 32767 OR v = -32768 THEN 1 ELSE 0 END)
         |             AS ncl
         |         FROM asamp GROUP BY 1),
         |aok AS (SELECT id FROM aagg
         |        WHERE (2 * 1000000 * ncl + ns) // (2 * ns) < 70000),
         |vb AS (
         |  SELECT r.id, f.f, g.g AS gg,
         |    CAST('0x' || substr(md5('av:' || CAST(r.vseed AS VARCHAR) || ':' ||
         |      CAST(f.f AS VARCHAR) || ':' || CAST(g.g AS VARCHAR)), 1, 15)
         |      AS BIGINT) AS v
         |  FROM rows_ r
         |  JOIN generate_series(0, 7) f(f) ON f.f < r.n_vid AND f.f % 2 = 0
         |  CROSS JOIN generate_series(0, 36) g(g)
         |  WHERE r.vid_dec),
         |vpk AS (SELECT id, f, max($peakT) AS peak FROM vb GROUP BY 1, 2),
         |vok AS (SELECT id FROM vpk GROUP BY id
         |        HAVING count(*) >= 2 AND max(peak) = 255),
         |s1 AS (SELECT id FROM rows_ WHERE img_ok0),
         |s2 AS (SELECT id FROM s1 WHERE id IN (SELECT id FROM aok)),
         |s3 AS (SELECT id FROM s2 WHERE id IN (SELECT id FROM vok)),
         |akeys AS (SELECT a.id, a.w,
         |            CAST(sum((j + 13) * (j + 13) * v) AS BIGINT) AS win_key
         |          FROM asamp a JOIN s3 ON s3.id = a.id GROUP BY 1, 2),
         |dup AS (SELECT DISTINCT c.id AS cid
         |        FROM (SELECT id, win_key FROM akeys
         |              WHERE id >= 16000000000) c
         |        JOIN (SELECT id, win_key FROM akeys
         |              WHERE id < 16000000000) o
         |          ON c.win_key = o.win_key
         |        GROUP BY c.id, o.id HAVING count(*) >= 3),
         |surv AS (SELECT id FROM s3
         |         WHERE id NOT IN (SELECT cid FROM dup))
         |SELECT
         |  (SELECT CAST(count(*) AS BIGINT) FROM rows_) AS n_manifest,
         |  (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_img_ok,
         |  (SELECT CAST(count(*) AS BIGINT) FROM s2) AS n_aud_ok,
         |  (SELECT CAST(count(*) AS BIGINT) FROM s3) AS n_vid_ok,
         |  (SELECT CAST(count(*) AS BIGINT) FROM dup) AS n_dedup_removed,
         |  (SELECT CAST(count(*) AS BIGINT) FROM surv) AS n_survivors,
         |  (SELECT CAST(sum(id) AS BIGINT) FROM surv) AS sum_survivor_ids"""
        .stripMargin
    },

    // matryoshka_recall: three literal-sum rankings (16/32/64-dim
    // prefixes), semi-join overlap against the full-width truth.
    "matryoshka_recall" -> {
      def dsum(n: Int) = (1 to n).map(j =>
        s"(c.q[$j] - qv.qq[$j]) * (c.q[$j] - qv.qq[$j])").mkString(" + ")
      def rank(n: Int, nm: String) =
        s"""$nm AS (SELECT query_id, doc_id FROM (
           |  SELECT qv.query_id, c.vec_id AS doc_id,
           |         row_number() OVER (PARTITION BY qv.query_id
           |           ORDER BY CAST(${dsum(n)} AS BIGINT), c.vec_id) AS rn
           |  FROM q c CROSS JOIN qv) WHERE rn <= 10)""".stripMargin
      s"""WITH q AS (SELECT vec_id,
         |    list_transform(embedding,
         |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS q
         |  FROM embeddings),
         |qv AS (SELECT vec_id AS query_id, q AS qq FROM q WHERE vec_id < 3),
         |${rank(64, "ex")},
         |${rank(32, "t32")},
         |${rank(16, "t16")}
         |SELECT ex.query_id, CAST(10 AS BIGINT) AS n_exact,
         |  CAST(sum(CASE WHEN t32.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |       AS BIGINT) AS hits32,
         |  CAST(sum(CASE WHEN t16.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |       AS BIGINT) AS hits16
         |FROM ex
         |LEFT JOIN t32 ON t32.query_id = ex.query_id AND t32.doc_id = ex.doc_id
         |LEFT JOIN t16 ON t16.query_id = ex.query_id AND t16.doc_id = ex.doc_id
         |GROUP BY 1""".stripMargin
    },

    // hard_negatives: exact integer-L2 ranking replayed with the
    // 64-term literal distance sum (pq_topk's convention); positives =
    // top-3, negatives = ranks 4..13.
    "hard_negatives" -> {
      val ed2 = (1 to 64).map(j =>
        s"(c.q[$j] - qv.qq[$j]) * (c.q[$j] - qv.qq[$j])").mkString(" + ")
      s"""WITH q AS (SELECT vec_id,
         |    list_transform(embedding,
         |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS q
         |  FROM embeddings),
         |qv AS (SELECT vec_id AS query_id, q AS qq FROM q WHERE vec_id < 3),
         |d AS (SELECT qv.query_id, c.vec_id AS doc_id, CAST($ed2 AS BIGINT) AS d2
         |      FROM q c CROSS JOIN qv WHERE c.vec_id <> qv.query_id),
         |r AS (SELECT query_id, doc_id, d2,
         |        row_number() OVER (PARTITION BY query_id
         |                           ORDER BY d2, doc_id) AS rank
         |      FROM d)
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, d2 FROM r
         |WHERE rank > 3 AND rank <= 13""".stripMargin
    },
    "embed_quantize" ->
      """WITH m AS (SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
        |  FROM embeddings)
        |SELECT vec_id,
        |  round(CASE WHEN ma = 0 THEN 0.0 ELSE ma / 127.0 END, 6) AS q_scale,
        |  array_to_string(
        |    CASE WHEN ma = 0 THEN list_transform(embedding, x -> 0)
        |         ELSE list_transform(embedding,
        |                x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) AS INTEGER))
        |    END, ',') AS qvec_csv
        |FROM m""".stripMargin,

    "sample_shard" ->
      """SELECT doc_id, n_chars,
        |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS shard
        |FROM documents
        |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 10""".stripMargin,

    "pii_scrub" ->
      """WITH s AS (SELECT doc_id,
        |  text || ' Contact User' || CAST(doc_id AS VARCHAR) ||
        |  '@Example.COM or call +1 (555) ' ||
        |  lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
        |  lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' or 555-' ||
        |  lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS synth
        |  FROM documents),
        |r AS (SELECT doc_id, synth,
        |  regexp_replace(regexp_replace(synth,
        |    '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |    '(?:\+?1[-. ]?)?(?:\([0-9]{3}\) ?|[0-9]{3}[-. ])[0-9]{3}[-. ][0-9]{4}\b|\b[0-9]{3}-[0-9]{3,8}\b',
        |    '<PHONE>', 'g') AS scrubbed
        |  FROM s)
        |SELECT doc_id, scrubbed,
        |  CAST(length(synth) - length(scrubbed) AS BIGINT) AS chars_removed
        |FROM r""".stripMargin,

    "dedup_minhash" -> minhashOracle,

    // Brute-force exact ground truth for the prefix-filtered Spark
    // side: every co-occurring pair, intersection counted per pair,
    // threshold as the exact cross-multiply 5·ni ≥ 3·(na+nb−ni).
    // Shingle sets are the shared 60-bit md5 window hashes
    // (substring_dedup's convention) — both engines hash identically.
    // dedup_recall: the LSH chain (pairs) and the brute-force exact
    // join at J ≥ 1/2 over the same corpus; counts + TRUE-asserted
    // recall/precision bound cells.
    "dedup_recall" ->
      s"""WITH $CorpusCte,
         |$minhashChainCtes,
         |ect AS (SELECT doc_id, $ToksSql AS toks FROM corpus),
         |epos AS (SELECT doc_id, toks,
         |           unnest(generate_series(1, len(toks) - 2)) AS p
         |         FROM ect),
         |eds AS (SELECT DISTINCT doc_id,
         |          CAST('0x' || substr(md5(
         |            array_to_string(list_slice(toks, p, p + 2), ' ')), 1, 15)
         |            AS BIGINT) AS s
         |        FROM epos),
         |esizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
         |           FROM eds GROUP BY 1),
         |einter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |                  CAST(count(*) AS BIGINT) AS ni
         |           FROM eds x JOIN eds y ON y.s = x.s AND x.doc_id < y.doc_id
         |           GROUP BY 1, 2),
         |exact AS (SELECT i.doc_a, i.doc_b
         |          FROM einter i
         |          JOIN esizes sa ON sa.doc_id = i.doc_a
         |          JOIN esizes sb ON sb.doc_id = i.doc_b
         |          WHERE 2 * ni >= 1 * (sa.n + sb.n - ni)),
         |lshp AS (SELECT doc_a, doc_b FROM pairs),
         |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM exact),
         |nl AS (SELECT CAST(count(*) AS BIGINT) AS n_lsh FROM lshp),
         |hit AS (SELECT CAST(count(*) AS BIGINT) AS n_hit
         |        FROM exact JOIN lshp USING (doc_a, doc_b))
         |SELECT n_exact, n_lsh, n_hit,
         |       10 * n_hit >= 9 * n_exact AS recall_ok,
         |       10 * n_hit >= 9 * n_lsh AS precision_ok
         |FROM ne CROSS JOIN nl CROSS JOIN hit""".stripMargin,

    // cdc_chunks: same rolling-window cut rule, cut positions lagged
    // per doc, chunk md5s + lengths; both shared counts replayed.
    "cdc_chunks" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
        |cpy AS (SELECT doc_id + 17000000000 AS doc_id,
        |               'preamble insert block ' || text AS text
        |        FROM base WHERE doc_id % 2 = 0),
        |corpus AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS len
        |           FROM (SELECT * FROM base UNION ALL SELECT * FROM cpy)
        |           WHERE length(text) >= 8),
        |cut AS (SELECT doc_id, p FROM (
        |          SELECT doc_id, len, text,
        |                 unnest(generate_series(8, len)) AS p
        |          FROM corpus)
        |        WHERE CAST('0x' || substr(md5(
        |                substr(text, CAST(p AS INT) - 7, 8)), 1, 15)
        |                AS BIGINT) % 64 = 0
        |           OR p = len),
        |cua AS (SELECT doc_id, list_sort(list(DISTINCT p)) AS cps
        |        FROM cut GROUP BY 1),
        |cpos AS (SELECT doc_id, generate_subscripts(cps, 1) AS i,
        |                unnest(cps) AS p
        |         FROM cua),
        |cseg AS (SELECT doc_id, p,
        |           coalesce(lag(p) OVER (PARTITION BY doc_id ORDER BY i),
        |                    0) AS prev
        |         FROM cpos),
        |ch AS (SELECT s.doc_id,
        |         substr(c.text, CAST(s.prev + 1 AS INT),
        |                CAST(s.p - s.prev AS INT)) AS ct
        |       FROM cseg s JOIN corpus c USING (doc_id)),
        |chh AS (SELECT doc_id, md5(ct) AS h,
        |               CAST(length(ct) AS BIGINT) AS clen
        |        FROM ch),
        |fx AS (SELECT doc_id,
        |         md5(substr(text, CAST(64 * k + 1 AS INT), 64)) AS h
        |       FROM (SELECT doc_id, text,
        |               unnest(generate_series(0, (len - 1) // 64)) AS k
        |             FROM corpus)),
        |uq AS (SELECT h, max(clen) AS clen FROM chh GROUP BY 1),
        |shc AS (SELECT CAST(count(*) AS BIGINT) AS n FROM
        |          (SELECT DISTINCT doc_id - 17000000000 AS od, h
        |           FROM chh WHERE doc_id >= 17000000000) x
        |        JOIN (SELECT DISTINCT doc_id AS od, h
        |              FROM chh WHERE doc_id < 17000000000) y
        |          USING (od, h)),
        |shf AS (SELECT CAST(count(*) AS BIGINT) AS n FROM
        |          (SELECT DISTINCT doc_id - 17000000000 AS od, h
        |           FROM fx WHERE doc_id >= 17000000000) x
        |        JOIN (SELECT DISTINCT doc_id AS od, h
        |              FROM fx WHERE doc_id < 17000000000) y
        |          USING (od, h))
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM corpus) AS n_docs,
        |  (SELECT CAST(count(*) AS BIGINT) FROM chh) AS n_chunks_cdc,
        |  (SELECT CAST(sum(clen) AS BIGINT) FROM chh) AS total_chars,
        |  (SELECT CAST(count(*) AS BIGINT) FROM uq) AS n_unique_cdc,
        |  (SELECT CAST(sum(clen) AS BIGINT) FROM uq) AS unique_chars,
        |  (SELECT n FROM shc) AS cdc_shared,
        |  (SELECT n FROM shf) AS fixed_shared,
        |  ((SELECT n FROM shc) > 10 * (SELECT n FROM shf))
        |    AS cdc_resilient""".stripMargin,

    // shard_rebalance: the same HRW argmax replayed via unnest +
    // row_number (ties ORDER BY h DESC, j DESC = Spark's struct max).
    "shard_rebalance" ->
      """WITH dd AS (SELECT doc_id FROM documents),
        |hj AS (SELECT doc_id, t.j,
        |         CAST('0x' || substr(md5('hrw:' || CAST(doc_id AS VARCHAR)
        |           || ':' || CAST(t.j AS VARCHAR)), 1, 15) AS BIGINT) AS h
        |       FROM dd CROSS JOIN generate_series(0, 16) t(j)),
        |a17 AS (SELECT doc_id, j AS s17 FROM (
        |          SELECT doc_id, j, row_number() OVER (
        |            PARTITION BY doc_id ORDER BY h DESC, j DESC) AS rn
        |          FROM hj) WHERE rn = 1),
        |a16 AS (SELECT doc_id, j AS s16 FROM (
        |          SELECT doc_id, j, row_number() OVER (
        |            PARTITION BY doc_id ORDER BY h DESC, j DESC) AS rn
        |          FROM hj WHERE j <= 15) WHERE rn = 1),
        |nv AS (SELECT doc_id,
        |         CAST('0x' || substr(md5('sh:' || CAST(doc_id AS VARCHAR)),
        |           1, 15) AS BIGINT) % 16 AS n16,
        |         CAST('0x' || substr(md5('sh:' || CAST(doc_id AS VARCHAR)),
        |           1, 15) AS BIGINT) % 17 AS n17
        |       FROM dd),
        |ag AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(CASE WHEN s16 <> s17 THEN 1 ELSE 0 END)
        |              AS BIGINT) AS moved_hrw,
        |         CAST(sum(CASE WHEN n16 <> n17 THEN 1 ELSE 0 END)
        |              AS BIGINT) AS moved_naive
        |       FROM a16 JOIN a17 USING (doc_id) JOIN nv USING (doc_id)),
        |pp AS (SELECT n_docs, moved_hrw, moved_naive,
        |         (2 * 1000000 * moved_hrw + n_docs) // (2 * n_docs)
        |           AS moved_hrw_x1e6,
        |         (2 * 1000000 * moved_naive + n_docs) // (2 * n_docs)
        |           AS moved_naive_x1e6
        |       FROM ag)
        |SELECT n_docs, moved_hrw, moved_naive, moved_hrw_x1e6,
        |       moved_naive_x1e6,
        |       (moved_hrw_x1e6 <= 80000) AS hrw_bound_ok,
        |       (moved_naive_x1e6 >= 800000) AS naive_excess_ok
        |FROM pp""".stripMargin,

    // dedup_threshold_sweep: dedup_recall's brute-force exact-pair
    // chain keeping (ni, nu), re-cut at four thresholds from a
    // VALUES list against the same banded pair set.
    "dedup_threshold_sweep" ->
      s"""WITH $CorpusCte,
         |$minhashChainCtes,
         |ect AS (SELECT doc_id, $ToksSql AS toks FROM corpus),
         |epos AS (SELECT doc_id, toks,
         |           unnest(generate_series(1, len(toks) - 2)) AS p
         |         FROM ect),
         |eds AS (SELECT DISTINCT doc_id,
         |          CAST('0x' || substr(md5(
         |            array_to_string(list_slice(toks, p, p + 2), ' ')), 1, 15)
         |            AS BIGINT) AS s
         |        FROM epos),
         |esizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
         |           FROM eds GROUP BY 1),
         |einter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |                  CAST(count(*) AS BIGINT) AS ni
         |           FROM eds x JOIN eds y ON y.s = x.s AND x.doc_id < y.doc_id
         |           GROUP BY 1, 2),
         |ex AS (SELECT i.doc_a, i.doc_b, i.ni,
         |              sa.n + sb.n - i.ni AS nu
         |       FROM einter i
         |       JOIN esizes sa ON sa.doc_id = i.doc_a
         |       JOIN esizes sb ON sb.doc_id = i.doc_b
         |       WHERE 2 * ni >= 1 * (sa.n + sb.n - ni)),
         |mk AS (SELECT e.ni, e.nu,
         |         CASE WHEN l.doc_a IS NOT NULL THEN 1 ELSE 0 END AS hit
         |       FROM ex e LEFT JOIN pairs l
         |         ON l.doc_a = e.doc_a AND l.doc_b = e.doc_b),
         |t(thr_x100, num, den) AS (
         |  VALUES (50, 1, 2), (60, 3, 5), (70, 7, 10), (80, 4, 5)),
         |ag AS (SELECT t.thr_x100,
         |              CAST(count(mk.hit) AS BIGINT) AS n_exact,
         |              CAST(coalesce(sum(mk.hit), 0) AS BIGINT) AS n_hit
         |       FROM t LEFT JOIN mk ON mk.ni * t.den >= mk.nu * t.num
         |       GROUP BY 1)
         |SELECT CAST(thr_x100 AS BIGINT) AS thr_x100, n_exact, n_hit,
         |       CASE WHEN n_exact > 0
         |            THEN (2 * 1000000 * n_hit + n_exact) // (2 * n_exact)
         |            ELSE 0 END AS recall_x1e6
         |FROM ag""".stripMargin,

    "simjoin_ngram" ->
      s"""WITH $CorpusCte,
        |ct AS (SELECT doc_id, $ToksSql AS toks FROM corpus),
        |pos AS (SELECT doc_id, toks,
        |          unnest(generate_series(1, len(toks) - 2)) AS p
        |        FROM ct),
        |ds AS (SELECT DISTINCT doc_id,
        |         CAST('0x' || substr(md5(
        |           array_to_string(list_slice(toks, p, p + 2), ' ')), 1, 15)
        |           AS BIGINT) AS s
        |       FROM pos),
        |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
        |          FROM ds GROUP BY 1),
        |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |                 CAST(count(*) AS BIGINT) AS ni
        |          FROM ds x JOIN ds y ON y.s = x.s AND x.doc_id < y.doc_id
        |          GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b,
        |       round(CAST(ni AS DOUBLE) / (sa.n + sb.n - ni), 4) AS jaccard
        |FROM inter i
        |JOIN sizes sa ON sa.doc_id = i.doc_a
        |JOIN sizes sb ON sb.doc_id = i.doc_b
        |WHERE 5 * ni >= 3 * (sa.n + sb.n - ni)""".stripMargin,

    // Brute-force containment ground truth: same hashed-shingle CTEs,
    // threshold 10·ni ≥ 9·min(|A|,|B|) on id-ordered pairs.
    "containment_join" ->
      s"""WITH $CorpusCte,
        |ct AS (SELECT doc_id, $ToksSql AS toks FROM corpus),
        |pos AS (SELECT doc_id, toks,
        |          unnest(generate_series(1, len(toks) - 2)) AS p
        |        FROM ct),
        |ds AS (SELECT DISTINCT doc_id,
        |         CAST('0x' || substr(md5(
        |           array_to_string(list_slice(toks, p, p + 2), ' ')), 1, 15)
        |           AS BIGINT) AS s
        |       FROM pos),
        |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
        |          FROM ds GROUP BY 1),
        |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |                 CAST(count(*) AS BIGINT) AS ni
        |          FROM ds x JOIN ds y ON y.s = x.s AND x.doc_id < y.doc_id
        |          GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b,
        |       round(CAST(ni AS DOUBLE) / least(sa.n, sb.n), 4) AS containment
        |FROM inter i
        |JOIN sizes sa ON sa.doc_id = i.doc_a
        |JOIN sizes sb ON sb.doc_id = i.doc_b
        |WHERE 10 * ni >= 9 * least(sa.n, sb.n)""".stripMargin,
    "dedup_incremental" -> incrementalOracle,
    "dedup_groups" -> groupsOracle,
    "dedup_keep_best" -> keepBestOracle,
    "stratified_sample" ->
      """SELECT doc_id, lang, h FROM (
        |  SELECT doc_id, lang,
        |         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT),
        |                    doc_id) AS rn
        |  FROM documents) t
        |WHERE rn <= 20""".stripMargin,
    "dedup_groups_df" -> groupsOracle,
    "dedup_corpus" ->
      s"""WITH RECURSIVE $minhashCtes,
         |und AS (SELECT doc_a AS s, doc_b AS d FROM pairs
         |        UNION SELECT doc_b, doc_a FROM pairs),
         |reach(node, r) AS (
         |  SELECT s, d FROM und
         |  UNION
         |  SELECT u.s, re.r FROM und u JOIN reach re ON re.node = u.d),
         |lbl AS (SELECT node, least(node, min(r)) AS group_id FROM reach GROUP BY node),
         |losers AS (SELECT node FROM lbl WHERE node <> group_id)
         |SELECT c.doc_id, CAST(length(c.text) AS BIGINT) AS text_len
         |FROM corpus c
         |WHERE c.doc_id NOT IN (SELECT node FROM losers)""".stripMargin,

    // split_leakage: groupsOracle's closure → split key → the same
    // 8-bucket md5 assignment (keyed + naive) → per-split counts
    // cross-joined with the two computed leak cells.
    "split_leakage" ->
      s"""WITH RECURSIVE $minhashCtes,
         |und AS (SELECT doc_a AS s, doc_b AS d FROM pairs
         |        UNION SELECT doc_b, doc_a FROM pairs),
         |reach(node, r) AS (
         |  SELECT s, d FROM und
         |  UNION
         |  SELECT u.s, re.r FROM und u JOIN reach re ON re.node = u.d),
         |lbl AS (SELECT node, least(node, min(r)) AS group_id
         |        FROM reach GROUP BY node),
         |keyed AS (SELECT c.doc_id, coalesce(l.group_id, c.doc_id) AS split_key
         |          FROM corpus c LEFT JOIN lbl l ON l.node = c.doc_id),
         |a AS (SELECT doc_id, split_key,
         |        CAST('0x' || substr(md5('split:' ||
         |          CAST(split_key AS VARCHAR)), 1, 15) AS BIGINT) % 8 AS bs,
         |        CAST('0x' || substr(md5('split:' ||
         |          CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 8 AS bn
         |      FROM keyed),
         |sp AS (SELECT doc_id, split_key,
         |        CASE WHEN bs <= 5 THEN 'train' WHEN bs = 6 THEN 'val'
         |             ELSE 'test' END AS split,
         |        CASE WHEN bn <= 5 THEN 'train' WHEN bn = 6 THEN 'val'
         |             ELSE 'test' END AS naive
         |      FROM a),
         |pk AS (SELECT split_key, count(DISTINCT split) AS ns,
         |              count(DISTINCT naive) AS nn
         |       FROM sp GROUP BY 1),
         |lk AS (SELECT CAST(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END)
         |                AS BIGINT) AS n_leaky_grouped,
         |              CAST(sum(CASE WHEN nn > 1 THEN 1 ELSE 0 END)
         |                AS BIGINT) AS n_leaky_naive
         |       FROM pk)
         |SELECT s.split, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(count(DISTINCT s.split_key) AS BIGINT) AS n_groups,
         |       lk.n_leaky_grouped, lk.n_leaky_naive
         |FROM sp s CROSS JOIN lk
         |GROUP BY 1, 4, 5""".stripMargin,
    "dedup_simhash" -> simhashOracle,
    "ann_lsh" -> annLshOracle,

    "corpus_pipeline" -> corpusPipelineOracle(cross = false),

    // corpus_pipeline_incremental: the ORACLE IS THE FULL RECOMPUTE over
    // base + increment + cross re-fetch plants — the equivalence gate for
    // the never-rescan-the-base incremental plan (see corpusPipelineOracle).
    "corpus_pipeline_incremental" -> corpusPipelineOracle(cross = true),

    // lake_time_travel: each snapshot's membership replayed from the
    // deterministic commit splits; deltas are the commit increments
    // (v2's delta = the full overwrite contents — an overwrite's
    // added files ARE the new table).
    "lake_time_travel" ->
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
        .stripMargin,

    // lake_merge: the MERGE (update + insert) and DELETE commits'
    // row algebra replayed relationally.
    "lake_merge" ->
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
        .stripMargin,

    // lake_restore: snapshot 5 (the restore) must equal snapshot 2
    // exactly; as-of 4 must still resolve below the rollback; and the
    // CDC feed across the restore must be the INVERSE row algebra of
    // commits 3+4 — all replayed relationally as EXCEPT ALL over the
    // deterministic memberships.
    "lake_restore" ->
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
        .stripMargin,

    // lake_mor_delete: snapshot 6 = the restored head minus the
    // MOR-deleted keys; the CDC across the DV commit is exactly those
    // rows as deletes — replayed relationally (EXCEPT ALL where the
    // membership algebra needs it).
    "lake_mor_delete" ->
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
        .stripMargin,

    // lake_mor_merge: snapshot 7 = snapshot 6 with % 10 = 3 rows
    // updated (+11 cents) and % 10 = 9 rows inserted; the cross-merge
    // CDC is the update pairs plus the fresh inserts.
    "lake_mor_merge" ->
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
        |         AS delete_cents""".stripMargin,

    // lake_str_prune: membership = the name range relationally; the
    // pruned cell is true by construction (range-ordered layout).
    "lake_str_prune" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(coalesce(sum(CAST(floor(c_acctbal * 100 + 0.5)
        |         AS BIGINT)), 0) AS BIGINT) AS sum_cents,
        |       true AS pruned
        |FROM customer
        |WHERE c_name BETWEEN 'Customer#000000010'
        |  AND 'Customer#000000099'""".stripMargin,

    // lake_cdf_history: every version's change set as cascaded
    // EXCEPT ALLs over the deterministic memberships; empty sides
    // (the overwrite's insert half — s2 ⊂ s1) produce no group, as
    // the engine's diff does.
    "lake_cdf_history" ->
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
        |FROM ch GROUP BY 1, 2""".stripMargin,

    // lake_clone: the source side replays v7's membership untouched
    // (the clone's delete must never leak back); the clone side is v7
    // minus the % 100 = 52 keys.
    "lake_clone" ->
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
        |         AS clone_cents""".stripMargin,

    // lake_partition_prune: membership = all orders (commits 0+1)
    // minus the MOR-deleted % 100 = 13 keys, restricted to the probed
    // years; the strict-prune boolean is true by construction (every
    // SF spans several order years, so one year's partition is always
    // a proper subset of the live files).
    "lake_partition_prune" ->
      """WITH o AS (SELECT o_orderkey,
        |             CAST(date_part('year', o_orderdate) AS BIGINT) AS yr,
        |             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |           FROM orders)
        |SELECT yr, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(coalesce(sum(cents), 0) AS BIGINT) AS sum_cents,
        |       true AS pruned
        |FROM o
        |WHERE o_orderkey % 100 <> 13 AND yr IN (1996, 1999)
        |GROUP BY yr""".stripMargin,

    // lake_null_prune: membership = all orders; note's nullability
    // replays relationally from the deterministic k%3/k%6 rule. The
    // strict-prune booleans are true by construction (commit 0 is
    // all-non-null, commit 1 all-null — each side always drops at
    // least the other's files while keeping the mixed commit 2).
    "lake_null_prune" ->
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
        |  true AS pruned_notnull""".stripMargin,

    // lake_rename: every cell replays relationally from the
    // deterministic % 10 membership — head rows/cents = ALL orders
    // (the rename is invisible to values), v0 = the % 10 < 7 subset
    // under the old name, live tags = exactly the post-re-add
    // % 10 = 9 append (resurrected old tags would inflate n_tag_live
    // and hash-fail), and the strict-prune boolean is TRUE by
    // construction (v0 is 4 range-laid files; the k=1 probe keeps 1).
    "lake_rename" ->
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
        |  true AS pruned_after_rename""".stripMargin,

    // lake_generated: membership = all orders (three disjoint % 10
    // appends); the windowed aggregate replays the odate BETWEEN
    // directly; n_year_parts replays the manifest's recorded
    // partition values (year(o_orderdate) distinct count); the prune
    // and derived-value cells are construction-asserted literals (a
    // wrong derivation or a wrongly-pruned partition breaks the row
    // cells too — lost rows hash-fail).
    "lake_generated" ->
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
        |""".stripMargin,

    // lake_identity: the row count replays relationally; the identity
    // invariants (uniqueness, step alignment, start floor, manifest
    // cross-commit monotonicity) are construction-asserted TRUE cells
    // — assigned values are allocation-order-dependent by contract.
    "lake_identity" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       true AS all_unique,
        |       true AS step_aligned,
        |       true AS above_start,
        |       true AS cross_commit_monotone
        |FROM orders""".stripMargin,

    // lake_sql_catalog: two disjoint % 3 INSERT slices replay
    // relationally at head and at VERSION AS OF 1; the TIMESTAMP AS OF
    // equivalence is a construction-asserted TRUE cell (the stamp is
    // engine-internal — a wrong resolution flips the boolean).
    "lake_sql_catalog" ->
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
        |  true AS ts_equals_v1""".stripMargin,

    // lake_sql_dml: the four-statement SQL DML lifecycle replays
    // relationally — band 3 deleted, band 4 updated (+7), band 5
    // merge-deleted, band 6 merge-updated (×2, from the PRE-update
    // value: bands 4 and 6 are disjoint so v3's cents = o's cents
    // there), band 7 mirrored to negative keys by NOT MATCHED INSERT.
    // The *_was_mor cells are construction-asserted TRUE (read from
    // the commit log: dv lines present, zero rm lines — a
    // copy-on-write delete would flip them).
    "lake_sql_dml" ->
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
        |FROM v4""".stripMargin,

    // lake_nested_evolve: even keys predate the widening (props.b
    // NULL-fills), odd keys carry b = cents; the evolve_metadata_only /
    // connector_equals_lake cells are construction-asserted TRUE (the
    // first from the commit log — a rewriting evolution would flip it;
    // the second from a bidirectional exceptAll between the two read
    // paths — a connector struct-conversion bug would flip it).
    "lake_nested_evolve" ->
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
        |FROM o""".stripMargin,

    // lake_bloom_point: each probe replays v7's membership relationally
    // restricted to the probed custkey — a Bloom false negative (a
    // skipped file that held the key) loses rows and hash-fails.
    "lake_bloom_point" ->
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
        |GROUP BY 1""".stripMargin,

    // lake_cdc_mv: the folded CDC view must equal the DIRECT aggregate
    // of the final snapshot's membership — the fold itself happens on
    // the Spark side; the oracle states the invariant.
    "lake_cdc_mv" ->
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
        |FROM s4 GROUP BY 1""".stripMargin,

    // lake_cdc_feed: every snapshot transition's row-level change set
    // replayed as EXCEPT ALL algebra over the deterministic commit
    // memberships (inserts = sN \ sN-1, deletes = sN-1 \ sN).
    "lake_cdc_feed" ->
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
        .stripMargin,

    "token_count" ->
      """SELECT doc_id,
        |  len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS n_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_tokens,
        |  n_chars,
        |  round(CAST(n_chars AS DOUBLE) /
        |    len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')), 4) AS chars_per_token
        |FROM documents""".stripMargin,

    "text_quality" ->
      """WITH t AS (SELECT doc_id, text,
        |  CAST(length(text) AS BIGINT) AS text_len,
        |  CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS BIGINT) AS n_words,
        |  CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS BIGINT) AS n_punct,
        |  CAST((length(text) - length(regexp_replace(text, ' the ', '', 'g'))) // 5
        |     + (length(text) - length(regexp_replace(text, ' and ', '', 'g'))) // 5
        |     + (length(text) - length(regexp_replace(text, ' is ', '', 'g'))) // 4 AS BIGINT) AS n_stopwords
        |  FROM documents)
        |SELECT doc_id, text_len, n_words, n_punct, n_stopwords,
        |  round(CAST(n_punct AS DOUBLE) / text_len, 4) AS punct_ratio,
        |  round(CAST(n_stopwords AS DOUBLE) / n_words, 4) AS stopword_ratio,
        |  round(least(CAST(n_words AS DOUBLE) / 100.0, 1.0) *
        |        (1.0 - CAST(n_punct AS DOUBLE) / text_len), 4) AS quality
        |FROM t""".stripMargin,

    "lang_id" ->
      """WITH s AS (SELECT doc_id, lang,
        |  CAST(length(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g')) AS BIGINT) AS cjk,
        |  CAST((length(text) - length(regexp_replace(text, ' the ', '', 'g'))) // 5
        |     + (length(text) - length(regexp_replace(text, ' and ', '', 'g'))) // 5
        |     + (length(text) - length(regexp_replace(text, ' is ', '', 'g'))) // 4 AS BIGINT) AS s_en,
        |  CAST((length(text) - length(regexp_replace(text, ' der ', '', 'g'))) // 5
        |     + (length(text) - length(regexp_replace(text, ' und ', '', 'g'))) // 5
        |     + (length(text) - length(regexp_replace(text, ' die ', '', 'g'))) // 5 AS BIGINT) AS s_de,
        |  CAST((length(text) - length(regexp_replace(text, ' el ', '', 'g'))) // 4
        |     + (length(text) - length(regexp_replace(text, ' que ', '', 'g'))) // 5
        |     + (length(text) - length(regexp_replace(text, ' los ', '', 'g'))) // 5 AS BIGINT) AS s_es,
        |  CAST((length(text) - length(regexp_replace(text, ' le ', '', 'g'))) // 4
        |     + (length(text) - length(regexp_replace(text, ' et ', '', 'g'))) // 4
        |     + (length(text) - length(regexp_replace(text, ' les ', '', 'g'))) // 5 AS BIGINT) AS s_fr
        |  FROM documents)
        |SELECT doc_id, lang,
        |  CASE WHEN cjk > 0 THEN 'zh'
        |       WHEN s_en >= greatest(s_de, s_es, s_fr) THEN 'en'
        |       WHEN s_de >= greatest(s_es, s_fr) THEN 'de'
        |       WHEN s_es >= s_fr THEN 'es'
        |       ELSE 'fr' END AS lang_pred
        |FROM s""".stripMargin,

    // readability_score: the same three regex-exact counts, the same
    // integer FK formula, 3-row band rollup.
    "readability_score" ->
      s"""WITH t AS (SELECT $ToksSql AS toks, text FROM documents),
         |c AS (SELECT CAST(len(toks) AS BIGINT) AS w,
         |        greatest(1, CAST(len(regexp_extract_all(text, '[.!?]+'))
         |                         AS BIGINT)) AS sct,
         |        CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+'))
         |             AS BIGINT)
         |          + CAST(len(toks) - len(list_filter(toks,
         |              x -> regexp_matches(x, '[aeiouyAEIOUY]')))
         |              AS BIGINT) AS sy
         |      FROM t WHERE len(toks) >= 1),
         |f AS (SELECT (390000 * w) // sct + (11800000 * sy) // w
         |             - 15590000 AS fk
         |      FROM c)
         |SELECT CASE WHEN fk <= 6000000 THEN 'easy'
         |            WHEN fk <= 10000000 THEN 'standard'
         |            ELSE 'difficult' END AS band,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(fk) AS BIGINT) AS sum_fk_x1e6
         |FROM f GROUP BY 1""".stripMargin,

    "doc_fingerprint" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks,
        |    md5(lower(trim(text))) AS content_md5
        |  FROM documents),
        |u AS (SELECT doc_id, content_md5, unnest(toks) AS w,
        |             generate_subscripts(toks, 1) AS pos FROM t),
        |sh AS (SELECT doc_id, content_md5, pos, w,
        |              lead(w, 1) OVER win AS w1, lead(w, 2) OVER win AS w2
        |       FROM u WINDOW win AS (PARTITION BY doc_id ORDER BY pos))
        |SELECT doc_id, any_value(content_md5) AS content_md5,
        |       min(md5(concat_ws(' ', w, w1, w2))) AS min_shingle_md5
        |FROM sh WHERE w2 IS NOT NULL GROUP BY doc_id""".stripMargin,

    "dedup_exact" ->
      """SELECT lower(trim(text)) AS norm_text, min(doc_id) AS keep_doc_id,
        |       count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,

    "vocab_topk" ->
      """SELECT token, count(*) AS n FROM (
        |  SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |                x -> x <> '')) AS token
        |  FROM documents)
        |GROUP BY token ORDER BY n DESC, token LIMIT 100""".stripMargin,

    // zipf_fit: the same top-100 cut, floored-ln cells and the
    // DECIMAL-routed OLS algebra replay in HUGEINT (identical div-1000
    // r² scaling; sign splits keep // ≡ div).
    "zipf_fit" ->
      """WITH top AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM (
        |    SELECT unnest(list_filter(
        |      string_split_regex(trim(lower(text)), '\s+'),
        |      x -> x <> '')) AS token
        |    FROM documents)
        |  GROUP BY token ORDER BY n DESC, token LIMIT 100),
        |xy AS (SELECT
        |    CAST(floor(ln(CAST(row_number() OVER (ORDER BY n DESC, token)
        |      AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS x,
        |    CAST(floor(ln(CAST(n AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
        |      AS y
        |  FROM top),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |        sum(CAST(x AS HUGEINT) * y) AS sxy,
        |        sum(CAST(x AS HUGEINT) * x) AS sxx,
        |        sum(CAST(y AS HUGEINT) * y) AS syy
        |      FROM xy),
        |t AS (SELECT k,
        |        CAST(k AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
        |        CAST(k AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS den,
        |        CAST(k AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS deny
        |      FROM s),
        |f AS (SELECT k,
        |        CASE WHEN num >= 0 THEN
        |          CAST((2 * 1000000 * num + den) // (2 * den) AS BIGINT)
        |        ELSE -CAST((2 * 1000000 * (-num) + den) // (2 * den)
        |          AS BIGINT) END AS slope_x1e6,
        |        CAST((2 * 1000000 * (abs(num) // 1000) * (abs(num) // 1000)
        |              + (den // 1000) * (deny // 1000))
        |             // (2 * (den // 1000) * (deny // 1000)) AS BIGINT)
        |          AS r2_x1e6
        |      FROM t)
        |SELECT k, slope_x1e6, r2_x1e6,
        |       slope_x1e6 < -500000 AND slope_x1e6 > -2000000 AS zipfian
        |FROM f""".stripMargin,

    // bleu_corpus: the same tagged-gram clipped counting, four orders
    // via lead windows; the brevity inputs and HALF_UP precision cells
    // replay exactly.
    "bleu_corpus" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> x <> '') AS tk
        |  FROM documents),
        |cnd AS (SELECT doc_id,
        |    list_slice(tk, 1, greatest(len(tk) - 3, 1)) AS tk FROM t),
        |rp AS (SELECT doc_id, unnest(tk) AS w,
        |         generate_subscripts(tk, 1) AS pos FROM t),
        |cp AS (SELECT doc_id, unnest(tk) AS w,
        |         generate_subscripts(tk, 1) AS pos FROM cnd),
        |rg AS (
        |  SELECT doc_id, 1 AS n, w AS g FROM rp
        |  UNION ALL SELECT doc_id, 2, concat_ws(' ', w, w1) FROM (
        |    SELECT doc_id, w, lead(w, 1) OVER win AS w1 FROM rp
        |    WINDOW win AS (PARTITION BY doc_id ORDER BY pos))
        |    WHERE w1 IS NOT NULL
        |  UNION ALL SELECT doc_id, 3, concat_ws(' ', w, w1, w2) FROM (
        |    SELECT doc_id, w, lead(w, 1) OVER win AS w1,
        |           lead(w, 2) OVER win AS w2 FROM rp
        |    WINDOW win AS (PARTITION BY doc_id ORDER BY pos))
        |    WHERE w2 IS NOT NULL
        |  UNION ALL SELECT doc_id, 4, concat_ws(' ', w, w1, w2, w3) FROM (
        |    SELECT doc_id, w, lead(w, 1) OVER win AS w1,
        |           lead(w, 2) OVER win AS w2,
        |           lead(w, 3) OVER win AS w3 FROM rp
        |    WINDOW win AS (PARTITION BY doc_id ORDER BY pos))
        |    WHERE w3 IS NOT NULL),
        |cg AS (
        |  SELECT doc_id, 1 AS n, w AS g FROM cp
        |  UNION ALL SELECT doc_id, 2, concat_ws(' ', w, w1) FROM (
        |    SELECT doc_id, w, lead(w, 1) OVER win AS w1 FROM cp
        |    WINDOW win AS (PARTITION BY doc_id ORDER BY pos))
        |    WHERE w1 IS NOT NULL
        |  UNION ALL SELECT doc_id, 3, concat_ws(' ', w, w1, w2) FROM (
        |    SELECT doc_id, w, lead(w, 1) OVER win AS w1,
        |           lead(w, 2) OVER win AS w2 FROM cp
        |    WINDOW win AS (PARTITION BY doc_id ORDER BY pos))
        |    WHERE w2 IS NOT NULL
        |  UNION ALL SELECT doc_id, 4, concat_ws(' ', w, w1, w2, w3) FROM (
        |    SELECT doc_id, w, lead(w, 1) OVER win AS w1,
        |           lead(w, 2) OVER win AS w2,
        |           lead(w, 3) OVER win AS w3 FROM cp
        |    WINDOW win AS (PARTITION BY doc_id ORDER BY pos))
        |    WHERE w3 IS NOT NULL),
        |rcn AS (SELECT doc_id, n, g, count(*) AS cr FROM rg GROUP BY 1, 2, 3),
        |ccn AS (SELECT doc_id, n, g, count(*) AS cc FROM cg GROUP BY 1, 2, 3),
        |mm AS (SELECT n, CAST(sum(least(cr, cc)) AS BIGINT) AS m
        |       FROM rcn JOIN ccn USING (doc_id, n, g) GROUP BY 1),
        |tt AS (SELECT n, CAST(sum(cc) AS BIGINT) AS tot FROM ccn GROUP BY 1),
        |agg AS (SELECT
        |  (SELECT CAST(coalesce(sum(cr), 0) AS BIGINT) FROM rcn WHERE n = 1)
        |    AS r_len,
        |  (SELECT coalesce(tot, 0) FROM tt WHERE n = 1) AS tot_1,
        |  (SELECT coalesce(m, 0) FROM mm WHERE n = 1) AS m_1,
        |  (SELECT coalesce(tot, 0) FROM tt WHERE n = 2) AS tot_2,
        |  (SELECT coalesce(m, 0) FROM mm WHERE n = 2) AS m_2,
        |  (SELECT coalesce(tot, 0) FROM tt WHERE n = 3) AS tot_3,
        |  (SELECT coalesce(m, 0) FROM mm WHERE n = 3) AS m_3,
        |  (SELECT coalesce(tot, 0) FROM tt WHERE n = 4) AS tot_4,
        |  (SELECT coalesce(m, 0) FROM mm WHERE n = 4) AS m_4)
        |SELECT r_len, tot_1 AS c_len,
        |  CAST(CASE WHEN r_len > 0 THEN
        |    (2 * 1000000 * tot_1 + r_len) // (2 * r_len)
        |    ELSE 0 END AS BIGINT) AS len_ratio_x1e6,
        |  tot_1 < r_len AS brevity_applied,
        |  m_1, tot_1, CAST(CASE WHEN tot_1 > 0 THEN
        |    (2 * 1000000 * m_1 + tot_1) // (2 * tot_1) ELSE 0 END
        |    AS BIGINT) AS p1_x1e6,
        |  m_2, tot_2, CAST(CASE WHEN tot_2 > 0 THEN
        |    (2 * 1000000 * m_2 + tot_2) // (2 * tot_2) ELSE 0 END
        |    AS BIGINT) AS p2_x1e6,
        |  m_3, tot_3, CAST(CASE WHEN tot_3 > 0 THEN
        |    (2 * 1000000 * m_3 + tot_3) // (2 * tot_3) ELSE 0 END
        |    AS BIGINT) AS p3_x1e6,
        |  m_4, tot_4, CAST(CASE WHEN tot_4 > 0 THEN
        |    (2 * 1000000 * m_4 + tot_4) // (2 * tot_4) ELSE 0 END
        |    AS BIGINT) AS p4_x1e6
        |FROM agg""".stripMargin,

    // chrf_eval: same whitespace-stripped char-gram derivation (orders
    // 1..3), clipped counts, HALF_UP P/R cells, mean-then-F(β=2).
    "chrf_eval" -> {
      val ns = 1 to 3
      val cells = ns.flatMap(n => Seq(s"m_$n", s"c_$n", s"r_$n",
        s"""CAST(CASE WHEN c_$n > 0 THEN (2 * 1000000 * m_$n + c_$n)
           |  // (2 * c_$n) ELSE 0 END AS BIGINT) AS p${n}_x1e6""".stripMargin,
        s"""CAST(CASE WHEN r_$n > 0 THEN (2 * 1000000 * m_$n + r_$n)
           |  // (2 * r_$n) ELSE 0 END AS BIGINT) AS rc${n}_x1e6""".stripMargin))
        .mkString(",\n")
      val sums = ns.flatMap(n => Seq(
        s"CAST(coalesce(sum(CASE WHEN n = $n THEN m END), 0) AS BIGINT) AS m_$n",
        s"CAST(coalesce(sum(CASE WHEN n = $n THEN c END), 0) AS BIGINT) AS c_$n",
        s"CAST(coalesce(sum(CASE WHEN n = $n THEN r END), 0) AS BIGINT) AS r_$n"))
        .mkString(",\n")
      s"""WITH t AS (SELECT doc_id,
         |    list_filter(string_split_regex(trim(text), '\\s+'),
         |      x -> x <> '') AS tk
         |  FROM documents),
         |rt AS (SELECT doc_id, array_to_string(tk, '') AS t FROM t),
         |ct AS (SELECT doc_id, array_to_string(
         |         list_slice(tk, 1, greatest(len(tk) - 3, 1)), '') AS t
         |       FROM t),
         |rg AS (SELECT doc_id, n, unnest(CASE WHEN length(t) >= n
         |         THEN list_transform(generate_series(1, length(t) - n + 1),
         |                             i -> substr(t, i, n))
         |         ELSE [] END) AS g
         |       FROM (SELECT doc_id, t, unnest([1, 2, 3]) AS n FROM rt)),
         |cg AS (SELECT doc_id, n, unnest(CASE WHEN length(t) >= n
         |         THEN list_transform(generate_series(1, length(t) - n + 1),
         |                             i -> substr(t, i, n))
         |         ELSE [] END) AS g
         |       FROM (SELECT doc_id, t, unnest([1, 2, 3]) AS n FROM ct)),
         |rcn AS (SELECT doc_id, n, g, count(*) AS cr FROM rg GROUP BY 1, 2, 3),
         |ccn AS (SELECT doc_id, n, g, count(*) AS cc FROM cg GROUP BY 1, 2, 3),
         |mm AS (SELECT doc_id, n, sum(least(cr, cc)) AS m
         |       FROM rcn JOIN ccn USING (doc_id, n, g) GROUP BY 1, 2),
         |rs AS (SELECT doc_id, n, sum(cr) AS r FROM rcn GROUP BY 1, 2),
         |cs AS (SELECT doc_id, n, sum(cc) AS c FROM ccn GROUP BY 1, 2),
         |pn AS (SELECT coalesce(rs.doc_id, cs.doc_id) AS doc_id,
         |         coalesce(rs.n, cs.n) AS n,
         |         coalesce(rs.r, 0) AS r, coalesce(cs.c, 0) AS c,
         |         coalesce(mm.m, 0) AS m
         |       FROM rs FULL JOIN cs USING (doc_id, n)
         |       LEFT JOIN mm USING (doc_id, n)),
         |agg AS (SELECT doc_id,
         |$sums
         |        FROM pn GROUP BY 1),
         |cell AS (SELECT doc_id,
         |$cells
         |         FROM agg),
         |pr AS (SELECT *,
         |         (2 * (p1_x1e6 + p2_x1e6 + p3_x1e6) + 3) // 6 AS chrp_x1e6,
         |         (2 * (rc1_x1e6 + rc2_x1e6 + rc3_x1e6) + 3) // 6 AS chrr_x1e6
         |       FROM cell)
         |SELECT *,
         |  CAST(CASE WHEN 4 * chrp_x1e6 + chrr_x1e6 > 0 THEN
         |    (2 * 5 * chrp_x1e6 * chrr_x1e6 + (4 * chrp_x1e6 + chrr_x1e6))
         |    // (2 * (4 * chrp_x1e6 + chrr_x1e6))
         |  ELSE 0 END AS BIGINT) AS chrf_x1e6
         |FROM pr""".stripMargin
    },

    // rouge_n: the same clipped-multiset counting and HALF_UP F cells,
    // candidate built by the identical token slice.
    "rouge_n" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> x <> '') AS tk
        |  FROM documents),
        |cnd AS (SELECT doc_id,
        |    list_slice(tk, 1, greatest(len(tk) - 3, 1)) AS tk FROM t),
        |ru AS (SELECT doc_id, unnest(tk) AS g FROM t),
        |cu AS (SELECT doc_id, unnest(tk) AS g FROM cnd),
        |rp AS (SELECT doc_id, unnest(tk) AS w,
        |         generate_subscripts(tk, 1) AS pos FROM t),
        |cp AS (SELECT doc_id, unnest(tk) AS w,
        |         generate_subscripts(tk, 1) AS pos FROM cnd),
        |rb AS (SELECT doc_id, concat_ws(' ', w, nx) AS g FROM (
        |         SELECT doc_id, w, lead(w) OVER (PARTITION BY doc_id
        |           ORDER BY pos) AS nx FROM rp) WHERE nx IS NOT NULL),
        |cb AS (SELECT doc_id, concat_ws(' ', w, nx) AS g FROM (
        |         SELECT doc_id, w, lead(w) OVER (PARTITION BY doc_id
        |           ORDER BY pos) AS nx FROM cp) WHERE nx IS NOT NULL),
        |r1c AS (SELECT doc_id, g, count(*) AS cr FROM ru GROUP BY 1, 2),
        |c1c AS (SELECT doc_id, g, count(*) AS cc FROM cu GROUP BY 1, 2),
        |r2c AS (SELECT doc_id, g, count(*) AS cr FROM rb GROUP BY 1, 2),
        |c2c AS (SELECT doc_id, g, count(*) AS cc FROM cb GROUP BY 1, 2),
        |m1 AS (SELECT doc_id, sum(least(cr, cc)) AS m
        |       FROM r1c JOIN c1c USING (doc_id, g) GROUP BY 1),
        |m2 AS (SELECT doc_id, sum(least(cr, cc)) AS m
        |       FROM r2c JOIN c2c USING (doc_id, g) GROUP BY 1),
        |s1 AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
        |         CAST(coalesce(a.nr, 0) AS BIGINT) AS nref_1,
        |         CAST(coalesce(b.nc, 0) AS BIGINT) AS ncand_1
        |       FROM (SELECT doc_id, sum(cr) AS nr FROM r1c GROUP BY 1) a
        |       FULL JOIN (SELECT doc_id, sum(cc) AS nc FROM c1c
        |                  GROUP BY 1) b USING (doc_id)),
        |s2 AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
        |         CAST(coalesce(a.nr, 0) AS BIGINT) AS nref_2,
        |         CAST(coalesce(b.nc, 0) AS BIGINT) AS ncand_2
        |       FROM (SELECT doc_id, sum(cr) AS nr FROM r2c GROUP BY 1) a
        |       FULL JOIN (SELECT doc_id, sum(cc) AS nc FROM c2c
        |                  GROUP BY 1) b USING (doc_id)),
        |f1 AS (SELECT s1.doc_id, nref_1, ncand_1,
        |         CAST(coalesce(m1.m, 0) AS BIGINT) AS m_1,
        |         CAST(CASE WHEN nref_1 + ncand_1 > 0
        |           THEN (2 * 1000000 * coalesce(m1.m, 0)
        |                 + (nref_1 + ncand_1))
        |                // (2 * (nref_1 + ncand_1)) ELSE 0 END AS BIGINT)
        |           AS rouge1_f_x1e6
        |       FROM s1 LEFT JOIN m1 USING (doc_id)),
        |f2 AS (SELECT s2.doc_id, nref_2, ncand_2,
        |         CAST(coalesce(m2.m, 0) AS BIGINT) AS m_2,
        |         CAST(CASE WHEN nref_2 + ncand_2 > 0
        |           THEN (2 * 1000000 * coalesce(m2.m, 0)
        |                 + (nref_2 + ncand_2))
        |                // (2 * (nref_2 + ncand_2)) ELSE 0 END AS BIGINT)
        |           AS rouge2_f_x1e6
        |       FROM s2 LEFT JOIN m2 USING (doc_id))
        |SELECT coalesce(f1.doc_id, f2.doc_id) AS doc_id,
        |       coalesce(nref_1, 0) AS nref_1,
        |       coalesce(ncand_1, 0) AS ncand_1,
        |       coalesce(m_1, 0) AS m_1,
        |       coalesce(rouge1_f_x1e6, 0) AS rouge1_f_x1e6,
        |       coalesce(nref_2, 0) AS nref_2,
        |       coalesce(ncand_2, 0) AS ncand_2,
        |       coalesce(m_2, 0) AS m_2,
        |       coalesce(rouge2_f_x1e6, 0) AS rouge2_f_x1e6
        |FROM f1 FULL JOIN f2 USING (doc_id)""".stripMargin,

    "ngram_jaccard" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |u AS (SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS pos FROM t),
        |sh AS (SELECT doc_id, concat_ws(' ', w, lead(w,1) OVER win, lead(w,2) OVER win) AS s,
        |              lead(w,2) OVER win AS w2
        |       FROM u WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
        |ds AS (SELECT DISTINCT doc_id, s FROM sh WHERE w2 IS NOT NULL),
        |sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |          FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
        |inter AS (SELECT p.doc_a, p.doc_b, count(*) AS ni
        |          FROM pairs p JOIN ds x ON x.doc_id = p.doc_a
        |                       JOIN ds y ON y.doc_id = p.doc_b AND y.s = x.s
        |          GROUP BY 1, 2)
        |SELECT p.doc_a, p.doc_b,
        |       round(CAST(coalesce(i.ni, 0) AS DOUBLE) /
        |             (sa.n + sb.n - coalesce(i.ni, 0)), 4) AS jaccard
        |FROM pairs p
        |JOIN sizes sa ON sa.doc_id = p.doc_a
        |JOIN sizes sb ON sb.doc_id = p.doc_b
        |LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b""".stripMargin,

    // cohens_kappa: rater A replays the quality_filter rule replica;
    // rater B is the same crisp integer rule; the chance-corrected
    // cell is exact HUGEINT algebra.
    "cohens_kappa" ->
      """WITH aug AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000000,
        |         array_to_string(
        |           (list_filter(string_split_regex(trim(text), '\s+'),
        |             x -> x <> ''))[1:2], ' ')
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 3000000000,
        |         text || ' ' || repeat('.', length(text) // 2)
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 4000000000, replace(text, ' ', '')
        |  FROM documents),
        |m AS (SELECT text,
        |        list_filter(string_split_regex(trim(text), '\s+'),
        |          x -> x <> '') AS toks,
        |        CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g'))
        |          AS BIGINT) AS n_punct
        |      FROM aug),
        |r AS (SELECT CAST(len(toks) AS BIGINT) AS n_words,
        |        CAST(length(array_to_string(toks, '')) AS BIGINT)
        |          AS char_sum,
        |        n_punct,
        |        CAST(length(text) AS BIGINT) AS text_len
        |      FROM m),
        |f AS (SELECT
        |        NOT ((n_words < 5) OR (n_words > 50000) OR
        |             (n_words > 0 AND
        |              (CAST(char_sum AS DOUBLE) / n_words < 2.0 OR
        |               CAST(char_sum AS DOUBLE) / n_words > 15.0)) OR
        |             (text_len > 0 AND
        |              CAST(n_punct AS DOUBLE) / text_len > 0.2)) AS a,
        |        (n_words >= 10 AND n_punct * 5 <= text_len) AS b
        |      FROM r),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS a1,
        |        CAST(sum(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS b1,
        |        CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT)
        |          AS agree
        |      FROM f),
        |x AS (SELECT n, a1, b1, agree,
        |        CAST(a1 AS HUGEINT) * b1
        |          + CAST(n - a1 AS HUGEINT) * (n - b1) AS pe2
        |      FROM s)
        |SELECT n, a1, b1, agree,
        |  CAST(CASE WHEN CAST(n AS HUGEINT) * n - pe2 = 0 THEN 0
        |    WHEN CAST(n AS HUGEINT) * agree - pe2 >= 0 THEN
        |      (2 * 1000000 * (CAST(n AS HUGEINT) * agree - pe2)
        |       + (CAST(n AS HUGEINT) * n - pe2))
        |      // (2 * (CAST(n AS HUGEINT) * n - pe2))
        |    ELSE -((2 * 1000000 * (pe2 - CAST(n AS HUGEINT) * agree)
        |       + (CAST(n AS HUGEINT) * n - pe2))
        |      // (2 * (CAST(n AS HUGEINT) * n - pe2)))
        |    END AS BIGINT) AS kappa_x1e6
        |FROM x""".stripMargin,

    // mmr_rerank: ten unrolled argmax CTEs over the 30x30 exact dot
    // matrix — machine-generated, no recursion, identical tie-break.
    "mmr_rerank" -> {
      val steps = (2 to 10).map { i =>
        val p = i - 1
        s"""cand$i AS MATERIALIZED (SELECT c.id, c.rel, max(d.dot) AS ms
           |  FROM cand c JOIN dots d ON d.a = c.id
           |    AND d.b IN (SELECT id FROM sel$p)
           |  WHERE c.id NOT IN (SELECT id FROM sel$p)
           |  GROUP BY 1, 2),
           |s$i AS MATERIALIZED (SELECT id, rel, ms FROM cand$i
           |  ORDER BY 7 * rel - 3 * ms DESC, id LIMIT 1),
           |sel$i AS MATERIALIZED (SELECT id FROM sel$p
           |  UNION ALL SELECT id FROM s$i)"""
          .stripMargin
      }.mkString(",\n")
      val unions = (2 to 10).map(i =>
        s"UNION ALL SELECT $i, id, rel, ms, 7 * rel - 3 * ms FROM s$i")
        .mkString("\n")
      s"""WITH vecs AS MATERIALIZED (SELECT vec_id,
         |    list_transform(CAST(embedding AS DOUBLE[]),
         |      x -> CAST(floor(x * 1000 + 0.5) AS BIGINT)) AS q
         |  FROM embeddings),
         |qv AS (SELECT q FROM vecs WHERE vec_id = 0),
         |rels AS (SELECT v.vec_id AS id,
         |    CAST(list_sum(list_transform(generate_series(1, len(v.q)),
         |      i -> v.q[i] * qv.q[i])) AS BIGINT) AS rel
         |  FROM vecs v, qv WHERE v.vec_id <> 0),
         |cand AS MATERIALIZED (SELECT r.id, r.rel, v.q
         |         FROM rels r JOIN vecs v ON v.vec_id = r.id
         |         ORDER BY r.rel DESC, r.id LIMIT 30),
         |dims AS (SELECT id, unnest(q) AS val,
         |           generate_subscripts(q, 1) AS dim FROM cand),
         |dots AS MATERIALIZED (SELECT a.id AS a, b.id AS b,
         |    CAST(sum(a.val * b.val) AS BIGINT) AS dot
         |  FROM dims a JOIN dims b USING (dim) WHERE a.id <> b.id
         |  GROUP BY 1, 2),
         |s1 AS MATERIALIZED (SELECT id, rel FROM cand
         |  ORDER BY rel DESC, id LIMIT 1),
         |sel1 AS MATERIALIZED (SELECT id FROM s1),
         |$steps
         |SELECT CAST(1 AS BIGINT) AS rank, id AS vec_id,
         |       rel AS rel_dot, CAST(0 AS BIGINT) AS maxsim_dot,
         |       7 * rel AS mmr_score
         |FROM s1
         |$unions""".stripMargin
    },

    "cosine_topk" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id,
        |       round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv), 4) AS cos_sim
        |FROM embeddings, q
        |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,

    // ann_binary: the same bit packing (32 machine-generated CASE
    // terms per half over the shared milli quantization), exact
    // Hamming shortlist, cosine rerank.
    "ann_binary" -> {
      def half(off: Int) = (0 until 32).map { j =>
        s"(CASE WHEN coalesce(q[${off + j + 1}], 0) > 0 " +
          s"THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH qz AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
         |              list_transform(embedding,
         |                x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5)
         |                          AS BIGINT)) AS q
         |            FROM embeddings),
         |codes AS (SELECT vec_id, e, CAST(${half(0)} AS BIGINT) AS lo,
         |                 CAST(${half(32)} AS BIGINT) AS hi
         |          FROM qz),
         |qc AS (SELECT e AS qe, lo AS qlo, hi AS qhi
         |       FROM codes WHERE vec_id = 0),
         |short AS (SELECT vec_id, e, qe,
         |            CAST(bit_count(xor(lo, qlo)) + bit_count(xor(hi, qhi))
         |                 AS BIGINT) AS hamming
         |          FROM codes, qc WHERE vec_id <> 0
         |          ORDER BY hamming, vec_id LIMIT 64)
         |SELECT vec_id, hamming,
         |       round(list_cosine_similarity(e, qe), 4) AS cos_sim
         |FROM short
         |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin
    },

    // Every similarity decision in exact integers (see the query's
    // comment); the only floats are the +0.1 perturbation and the
    // ·1000 quantization input — identical IEEE ops in both engines.
    // The cl2 CTE mirrors Dedup.MaxSemCluster's re-anchor split:
    // clusters over 1000 rows sub-split by vec_id mod ceil(n/1000),
    // exactly as the Spark side does (identity at test SF — largest
    // sf0.1 cluster is 301 — but part of the contract, like the
    // MaxBandBucket cap in dedup_minhash).
    "semdedup" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |              FROM embeddings),
        |synth AS (SELECT vec_id + 100000 AS vec_id,
        |                 list_transform(e, x -> x + 0.001) AS e
        |          FROM base WHERE vec_id % 10 = 0),
        |corpus AS (SELECT vec_id,
        |             list_transform(e,
        |               x -> CAST(floor(x * 1000 + 0.5) AS BIGINT)) AS q
        |           FROM (SELECT * FROM base UNION ALL SELECT * FROM synth)),
        |anc AS (SELECT vec_id AS anchor_id, q AS aq
        |        FROM corpus
        |        ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)
        |                      AS BIGINT), vec_id
        |        LIMIT 8),
        |asg AS (SELECT vec_id, q, anchor_id,
        |          list_sum(list_transform(generate_series(1, len(q)),
        |            i -> (q[i] - aq[i]) * (q[i] - aq[i]))) AS d2
        |        FROM corpus CROSS JOIN anc),
        |cl AS (SELECT vec_id, q, anchor_id AS cluster
        |       FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
        |                        ORDER BY d2, anchor_id) AS rn
        |             FROM asg)
        |       WHERE rn = 1),
        |cs AS (SELECT cluster, count(*) AS cn FROM cl GROUP BY 1),
        |cl2 AS (SELECT cl.*,
        |          cl.vec_id % CAST(floor((cs.cn + 999) / 1000) AS BIGINT) AS sub
        |        FROM cl JOIN cs USING (cluster)),
        |pairs AS (SELECT a.cluster, a.vec_id AS ka, b.vec_id AS dropped_id,
        |            list_sum(list_transform(generate_series(1, len(a.q)),
        |              i -> a.q[i] * b.q[i])) AS dot,
        |            list_sum(list_transform(generate_series(1, len(a.q)),
        |              i -> a.q[i] * a.q[i])) AS na,
        |            list_sum(list_transform(generate_series(1, len(a.q)),
        |              i -> b.q[i] * b.q[i])) AS nb
        |          FROM cl2 a JOIN cl2 b
        |            ON a.cluster = b.cluster AND a.sub = b.sub
        |               AND a.vec_id < b.vec_id)
        |SELECT dropped_id, min(ka) AS kept_id,
        |       count(*) AS n_similar, min(cluster) AS cluster
        |FROM pairs
        |WHERE dot > 0 AND 100 * dot * dot >= 81 * na * nb
        |GROUP BY 1""".stripMargin,

    "embed_neardup" ->
      """SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                                    CAST(b.embedding AS DOUBLE[])), 4) AS cos_sim
        |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1""".stripMargin,

    "multimodal_meta" ->
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
        |       CAST(strlen(text) AS BIGINT) % 64 + 1 AS fake_width,
        |       CAST(strlen(text) AS BIGINT) % 48 + 1 AS fake_height
        |FROM documents""".stripMargin,

    "tfidf_topk" ->
      s"""WITH toks AS (SELECT doc_id,
         |                     unnest(list_transform($ToksSql, t -> lower(t))) AS term
         |              FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
         |sc AS (SELECT doc_id, tf.term, tf, df,
         |         CAST(floor(tf * ln(n_docs / df) * 1e6 + 0.5) AS BIGINT) AS score_x1e6
         |       FROM tf JOIN dfreq USING (term) CROSS JOIN n),
         |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |                                   ORDER BY score_x1e6 DESC, term) AS rn
         |      FROM sc)
         |SELECT doc_id, term, tf, df, score_x1e6 FROM r WHERE rn <= 3""".stripMargin,

    "embed_centroid" ->
      """WITH e AS (SELECT label, CAST(unnest(embedding) AS DOUBLE) AS x,
        |                  CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim
        |           FROM embeddings),
        |q AS (SELECT label, dim, CAST(floor(x * 1000.0 + 0.5) AS BIGINT) AS q FROM e),
        |a AS (SELECT label, dim, CAST(sum(q) AS BIGINT) AS sum_q, count(*) AS n,
        |             sum(q) * 1000 AS num
        |      FROM q GROUP BY label, dim)
        |SELECT label, dim, sum_q, n,
        |       CAST(CASE WHEN num >= 0 THEN (2 * num + n) // (2 * n)
        |            ELSE -((2 * -num + n) // (2 * n)) END AS DOUBLE)
        |         / 1000000.0 AS centroid_q
        |FROM a""".stripMargin,

    // embed_drift: the same quantize → micro-mean → projection →
    // div-1e6 bucket chain, then the exact-KS algebra (the ks_drift
    // oracle shape on the single 'embedding' key).
    "embed_drift" ->
      """WITH e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |             CAST(generate_subscripts(embedding, 1) AS BIGINT)
        |               AS dim
        |           FROM embeddings),
        |q AS (SELECT vec_id, dim,
        |        CAST(floor(x * 1000.0 + 0.5) AS BIGINT) AS q FROM e),
        |c AS (SELECT dim, CAST(sum(q) AS BIGINT) AS sum_q,
        |        count(*) AS n, sum(q) * 1000 AS num
        |      FROM q GROUP BY 1),
        |c6 AS (SELECT dim,
        |         CAST(CASE WHEN num >= 0 THEN (2 * num + n) // (2 * n)
        |              ELSE -((2 * -num + n) // (2 * n)) END AS BIGINT)
        |           AS c6
        |       FROM c),
        |p AS (SELECT vec_id, CAST(sum(q * c6) AS BIGINT) AS dot
        |      FROM q JOIN c6 USING (dim) GROUP BY 1),
        |vv AS (SELECT vec_id,
        |         CASE WHEN dot >= 0 THEN dot // 1000000
        |              ELSE -((-dot) // 1000000) END AS v
        |       FROM p),
        |cc AS (SELECT v,
        |         CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)
        |              AS BIGINT) AS ca,
        |         CAST(sum(CASE WHEN vec_id % 2 <> 0 THEN 1 ELSE 0 END)
        |              AS BIGINT) AS cb
        |       FROM vv GROUP BY 1),
        |w AS (SELECT sum(ca) OVER () AS na, sum(cb) OVER () AS nb,
        |        abs(sum(cb) OVER ()
        |              * sum(ca) OVER (ORDER BY v
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            - sum(ca) OVER ()
        |              * sum(cb) OVER (ORDER BY v
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |          AS gap
        |      FROM cc),
        |g AS (SELECT CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
        |        CAST(max(gap) AS BIGINT) AS d_num
        |      FROM w GROUP BY 1, 2)
        |SELECT 'embedding' AS space, na, nb, d_num,
        |       CAST((2000000 * CAST(d_num AS HUGEINT)
        |             + CAST(na AS HUGEINT) * nb)
        |            // (2 * CAST(na AS HUGEINT) * nb) AS BIGINT) AS d_x1e6
        |FROM g WHERE na > 0 AND nb > 0""".stripMargin,

    "pack_sequences" ->
      s"""WITH t AS (SELECT doc_id,
         |    CAST(len($ToksSql) AS BIGINT) AS n_tokens,
         |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
         |  FROM documents),
         |w AS (SELECT doc_id, n_tokens, h % 8 AS shard,
         |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY h % 8 ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS offset_toks
         |  FROM t)
         |SELECT doc_id, n_tokens, shard, offset_toks,
         |       offset_toks // 256 AS pack_seq
         |FROM w""".stripMargin,

    "chunk_docs" ->
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |s AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n,
         |        CASE WHEN len(toks) <= 64 THEN 1
         |             ELSE 1 + (len(toks) - 64 + 47) // 48 END AS n_chunks
         |      FROM t),
         |c AS (SELECT doc_id, toks,
         |        unnest(generate_series(0, n_chunks - 1)) AS chunk_idx
         |      FROM s)
         |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
         |       CAST(chunk_idx * 48 AS BIGINT) AS start_tok,
         |       CAST(len(list_slice(toks, chunk_idx * 48 + 1,
         |                           chunk_idx * 48 + 64)) AS BIGINT)
         |         AS n_chunk_tokens,
         |       array_to_string(list_slice(toks, chunk_idx * 48 + 1,
         |                                  chunk_idx * 48 + 64), ' ')
         |         AS chunk_text
         |FROM c""".stripMargin,

    "doc_repetition" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |u AS (SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS pos FROM t),
        |bi AS (SELECT doc_id, w || ' ' || lead(w, 1) OVER win AS b,
        |              lead(w, 1) OVER win AS w1
        |       FROM u WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
        |bs AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |              CAST(count(DISTINCT b) AS BIGINT) AS n_db
        |       FROM bi WHERE w1 IS NOT NULL GROUP BY 1),
        |tc AS (SELECT doc_id, w, count(*) AS c FROM u GROUP BY 1, 2),
        |ts AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |              CAST(count(*) AS BIGINT) AS n_distinct,
        |              CAST(max(c) AS BIGINT) AS top_cnt
        |       FROM tc GROUP BY 1)
        |SELECT ts.doc_id, ts.n_tokens, ts.n_distinct,
        |  round(CAST(ts.n_distinct AS DOUBLE) / ts.n_tokens, 4) AS distinct_ratio,
        |  ts.top_cnt,
        |  round(CAST(ts.top_cnt AS DOUBLE) / ts.n_tokens, 4) AS top_token_frac,
        |  coalesce(bs.n_bigrams, 0) AS n_bigrams,
        |  CASE WHEN coalesce(bs.n_bigrams, 0) = 0 THEN 0.0
        |       ELSE round(CAST(bs.n_bigrams - bs.n_db AS DOUBLE) / bs.n_bigrams, 4)
        |  END AS dup_bigram_frac
        |FROM ts LEFT JOIN bs ON bs.doc_id = ts.doc_id""".stripMargin,

    // URL curation family: the normalize chain is the SAME anchored
    // single-match regex sequence as UrlOps.normalize — DuckDB's
    // non-global regexp_replace ≡ Spark's global one because every
    // pattern is anchored. The synthesis CTE shares its SQL template
    // with the Spark side (messyUrlSql; '//' is DuckDB's integer div).
    "url_dedup" ->
      s"""WITH u AS (SELECT doc_id, ${messyUrlSql("//")} AS url
         |           FROM documents),
         |s AS (SELECT doc_id,
         |        regexp_replace(regexp_replace(regexp_replace(url,
         |          '#.*$$', ''), '\\?.*$$', ''), '(?i)^https?://', '') AS t
         |      FROM u),
         |n AS (SELECT doc_id,
         |        regexp_replace(regexp_replace(
         |          lower(regexp_extract(t, '^([^/]*)', 1)),
         |          ':(80|443)$$', ''), '^www\\.', '') ||
         |        regexp_replace(regexp_replace(t, '^[^/]*', ''),
         |          '/$$', '') AS canon_url
         |      FROM s)
         |SELECT canon_url, min(doc_id) AS keep_doc_id,
         |       count(*) AS n_copies
         |FROM n GROUP BY 1""".stripMargin,

    "domain_cap" ->
      s"""WITH u AS (SELECT doc_id, ${messyUrlSql("//")} AS url
         |           FROM documents),
         |s AS (SELECT doc_id,
         |        regexp_replace(regexp_replace(regexp_replace(url,
         |          '#.*$$', ''), '\\?.*$$', ''), '(?i)^https?://', '') AS t
         |      FROM u),
         |h AS (SELECT doc_id,
         |        string_split(regexp_replace(regexp_replace(
         |          lower(regexp_extract(t, '^([^/]*)', 1)),
         |          ':(80|443)$$', ''), '^www\\.', ''), '.') AS parts
         |      FROM s),
         |dom AS (SELECT doc_id,
         |          CASE WHEN len(parts) >= 3
         |                AND (parts[-2] || '.' || parts[-1]) IN
         |                    ('co.uk','org.uk','ac.uk','gov.uk','co.jp',
         |                     'com.au','com.br','co.in','com.cn','co.nz')
         |               THEN parts[-3] || '.' || parts[-2] || '.' || parts[-1]
         |               ELSE parts[-2] || '.' || parts[-1] END AS domain
         |        FROM h),
         |r AS (SELECT doc_id, domain,
         |        row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS rn
         |      FROM dom)
         |SELECT doc_id, domain FROM r WHERE rn <= 10""".stripMargin,

    // contam_expand: plants + contamination + the shared minhash chain
    // (corpus CTE = train docs) + 2 unrolled BFS hops.
    "contam_expand" ->
      s"""WITH dt AS (SELECT doc_id, text, $ToksSql AS t,
         |              CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
         |                   AS BIGINT) % 20 AS shard
         |            FROM documents),
         |dp AS (SELECT *,
         |         CAST('0x' || substr(md5('pair:' || CAST(doc_id AS VARCHAR)), 1, 15)
         |              AS BIGINT) AS ph,
         |         CAST('0x' || substr(md5('pair:' || CAST(doc_id AS VARCHAR)), 1, 15)
         |              AS BIGINT) % 8 AS ps
         |       FROM dt),
         |ev AS (SELECT ps,
         |         row_number() OVER (PARTITION BY ps ORDER BY ph, doc_id) AS rn,
         |         t AS et
         |       FROM dp WHERE shard < 2 AND len(t) >= 8),
         |tr AS (SELECT ps,
         |         row_number() OVER (PARTITION BY ps ORDER BY ph, doc_id) AS rn,
         |         t AS tt
         |       FROM dp WHERE shard >= 2 AND len(t) >= 38),
         |b AS (SELECT ps * 100000000 + rn AS pid, list_concat(et[1:8], tt[1:38]) AS bt
         |      FROM ev JOIN tr USING (ps, rn)),
         |plants AS (
         |  SELECT pid + 7000000000 AS doc_id, array_to_string(bt[1:30], ' ') AS text
         |  FROM b
         |  UNION ALL SELECT pid + 8000000000, array_to_string(bt[9:38], ' ') FROM b
         |  UNION ALL SELECT pid + 9000000000, array_to_string(bt[17:46], ' ') FROM b),
         |fulldocs AS (SELECT doc_id, text FROM documents
         |             UNION ALL SELECT doc_id, text FROM plants),
         |ftk AS (SELECT doc_id, $ToksSql AS toks,
         |          (doc_id < 7000000000 AND
         |           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
         |                AS BIGINT) % 20 < 2) AS is_eval
         |        FROM fulldocs),
         |fu AS (SELECT doc_id, is_eval, unnest(toks) AS w,
         |              generate_subscripts(toks, 1) AS pos
         |       FROM ftk),
         |fsh AS (SELECT doc_id, is_eval,
         |          concat_ws(' ', w, lead(w,1) OVER win, lead(w,2) OVER win) AS s,
         |          lead(w,2) OVER win AS w2
         |        FROM fu WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
         |fhv AS (SELECT doc_id, is_eval,
         |               CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS sh
         |        FROM fsh WHERE w2 IS NOT NULL),
         |evsh AS (SELECT DISTINCT sh FROM fhv WHERE is_eval),
         |trsh AS (SELECT DISTINCT doc_id, sh FROM fhv WHERE NOT is_eval),
         |seeds AS (SELECT doc_id FROM (
         |            SELECT trsh.doc_id, count(*) AS ns,
         |                   sum(CASE WHEN evsh.sh IS NOT NULL THEN 1 ELSE 0 END) AS nc
         |            FROM trsh LEFT JOIN evsh ON evsh.sh = trsh.sh GROUP BY 1)
         |          WHERE 5 * nc >= ns),
         |corpus AS (SELECT doc_id, text FROM fulldocs
         |           WHERE NOT (doc_id < 7000000000 AND
         |             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
         |                  AS BIGINT) % 20 < 2)),
         |$minhashChainCtes,
         |und AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |        UNION ALL SELECT doc_b, doc_a FROM pairs),
         |h1 AS (SELECT DISTINCT dst AS doc_id
         |       FROM und JOIN seeds ON und.src = seeds.doc_id
         |       WHERE dst NOT IN (SELECT doc_id FROM seeds)),
         |h2 AS (SELECT DISTINCT dst AS doc_id
         |       FROM und JOIN h1 ON und.src = h1.doc_id
         |       WHERE dst NOT IN (SELECT doc_id FROM seeds)
         |         AND dst NOT IN (SELECT doc_id FROM h1))
         |SELECT doc_id, CAST(0 AS BIGINT) AS hop FROM seeds
         |UNION ALL SELECT doc_id, CAST(1 AS BIGINT) FROM h1
         |UNION ALL SELECT doc_id, CAST(2 AS BIGINT) FROM h2""".stripMargin,

    "contam_check" ->
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |u AS (SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS pos FROM t),
         |shg AS (SELECT doc_id, concat_ws(' ', w, lead(w,1) OVER win, lead(w,2) OVER win) AS s,
         |               lead(w,2) OVER win AS w2
         |        FROM u WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
         |hv AS (SELECT doc_id,
         |         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 20 AS shard,
         |         CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS h
         |       FROM shg WHERE w2 IS NOT NULL),
         |ev AS (SELECT DISTINCT h FROM hv WHERE shard < 2),
         |tr AS (SELECT DISTINCT doc_id, h FROM hv WHERE shard >= 2),
         |agg AS (SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |          CAST(sum(CASE WHEN ev.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contam
         |        FROM tr LEFT JOIN ev ON ev.h = tr.h GROUP BY 1)
         |SELECT doc_id, n_shingles, n_contam,
         |       round(CAST(n_contam AS DOUBLE) / n_shingles, 4) AS contam_frac
         |FROM agg""".stripMargin,

    // bloom_contam: the bitset probe replayed relationally — a train
    // shingle bloom-hits iff ALL k of its Kirsch–Mitzenmacher
    // positions ((h%m + i·(2·((h>>20)%2^19)+1)) % m, m = 2^20, k = 3)
    // appear in the distinct position set of the eval shingles; the
    // position arithmetic is the same integer ops both engines run.
    "bloom_contam" ->
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |u AS (SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS pos FROM t),
         |shg AS (SELECT doc_id, concat_ws(' ', w, lead(w,1) OVER win, lead(w,2) OVER win) AS s,
         |               lead(w,2) OVER win AS w2
         |        FROM u WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
         |hv AS (SELECT doc_id,
         |         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 20 AS shard,
         |         CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS h
         |       FROM shg WHERE w2 IS NOT NULL),
         |ev AS (SELECT DISTINCT h FROM hv WHERE shard < 2),
         |bpos AS (SELECT DISTINCT
         |           ((h % 1048576) + i * (2 * ((h >> 20) % 524288) + 1)) % 1048576 AS p
         |         FROM ev CROSS JOIN (VALUES (0), (1), (2)) AS ii(i)),
         |tr AS (SELECT DISTINCT doc_id, h FROM hv WHERE shard >= 2),
         |trpos AS (SELECT doc_id, h,
         |            ((h % 1048576) + i * (2 * ((h >> 20) % 524288) + 1)) % 1048576 AS p
         |          FROM tr CROSS JOIN (VALUES (0), (1), (2)) AS ii(i)),
         |bh AS (SELECT doc_id, h FROM trpos JOIN bpos USING (p)
         |       GROUP BY doc_id, h HAVING count(*) = 3),
         |agg AS (SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |          CAST(sum(CASE WHEN ev.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contam
         |        FROM tr LEFT JOIN ev ON ev.h = tr.h GROUP BY 1),
         |bagg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bloom_hits
         |         FROM bh GROUP BY 1)
         |SELECT agg.doc_id, n_shingles, n_contam,
         |       coalesce(n_bloom_hits, CAST(0 AS BIGINT)) AS n_bloom_hits
         |FROM agg LEFT JOIN bagg ON bagg.doc_id = agg.doc_id""".stripMargin,

    // temp_mixture: 2^60 = 1152921504606846976; HUGEINT cross-multiply
    // mirrors Spark's decimal(38,0) compare bit-for-bit.
    "temp_mixture" ->
      """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
        |           FROM documents GROUP BY 1),
        |w AS (SELECT lang, n_docs,
        |        CAST(floor(1000000 * sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT) AS wl
        |      FROM c),
        |mn AS (SELECT min(wl) AS wmin FROM w),
        |k AS (SELECT d.lang, w.n_docs, w.wl, mn.wmin,
        |        CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
        |      FROM documents d JOIN w USING (lang) CROSS JOIN mn)
        |SELECT lang, max(n_docs) AS n_docs,
        |       CAST(sum(CASE WHEN CAST(h AS HUGEINT) * wl <
        |                          CAST(wmin AS HUGEINT) * 1152921504606846976
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS kept
        |FROM k GROUP BY 1""".stripMargin,

    "bpe_pairs" ->
      s"""WITH w AS (SELECT unnest(list_transform($ToksSql, t -> lower(t))) AS w
         |           FROM documents),
         |wc AS (SELECT w, CAST(count(*) AS BIGINT) AS wn FROM w GROUP BY 1),
         |pr AS (SELECT wn,
         |         unnest(CASE WHEN len(w) >= 2
         |           THEN list_transform(generate_series(1, len(w) - 1),
         |                               i -> substr(w, i, 2))
         |           ELSE [] END) AS pair
         |       FROM wc),
         |agg AS (SELECT pair, CAST(sum(wn) AS BIGINT) AS pair_count
         |        FROM pr GROUP BY 1)
         |SELECT pair, pair_count FROM agg
         |ORDER BY pair_count DESC, pair LIMIT 50""".stripMargin,

    // bpe_train: the N merge rounds replay as chained CTEs — same
    // double-separator string representation (sep = chr(1)), same
    // literal left-to-right replace, same (cnt DESC, p1, p2) top-1.
    "bpe_train" -> {
      val rounds = (1 to 4).map { i =>
        s"""sy$i AS (SELECT wn, list_filter(string_split(rep, bb), x -> x <> '') AS sy
           |         FROM r${i - 1} CROSS JOIN sep),
           |pc$i AS (SELECT p1, p2, CAST(sum(wn) AS BIGINT) AS cnt FROM (
           |           SELECT wn, sy[k] AS p1, sy[k + 1] AS p2
           |           FROM (SELECT wn, sy, unnest(generate_series(1, len(sy) - 1)) AS k
           |                 FROM sy$i))
           |         GROUP BY 1, 2),
           |t$i AS (SELECT p1, p2, cnt FROM pc$i ORDER BY cnt DESC, p1, p2 LIMIT 1),
           |r$i AS (SELECT wn, replace(rep, s1 || p1 || bb || p2 || s1,
           |                           s1 || p1 || p2 || s1) AS rep
           |        FROM r${i - 1} CROSS JOIN t$i CROSS JOIN sep)""".stripMargin
      }.mkString(",\n")
      val out = (1 to 4).map(i =>
        s"SELECT $i AS round, p1, p2, p1 || p2 AS merged, cnt AS pair_count FROM t$i")
        .mkString("\nUNION ALL ")
      s"""WITH sep AS (SELECT chr(1) AS s1, chr(1) || chr(1) AS bb),
         |w AS (SELECT unnest(list_transform($ToksSql, t -> lower(t))) AS w
         |      FROM documents),
         |wc0 AS (SELECT w, CAST(count(*) AS BIGINT) AS wn FROM w GROUP BY 1),
         |r0 AS (SELECT wn, bb || array_to_string(
         |         list_transform(generate_series(1, len(w)), j -> substr(w, j, 1)),
         |         chr(1) || chr(1)) || bb AS rep
         |       FROM wc0 CROSS JOIN sep),
         |$rounds
         |$out""".stripMargin
    },

    // bpe_encode: the same 4-round chain, but the rep table keeps its
    // word key (rW chain) so round 4 yields the word → symbol-count
    // encoder; per-doc totals are exact integer sums over the tf CTE.
    "bpe_encode" ->
      s"""WITH $bpeEncCtes,
         |agg AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_words,
         |               CAST(sum(tf * n_sym) AS BIGINT) AS n_tokens
         |        FROM tf JOIN enc USING (w) GROUP BY 1)
         |SELECT doc_id, n_words, n_tokens,
         |       (200 * n_tokens + n_words) // (2 * n_words) AS tpw_x100
         |FROM agg""".stripMargin,

    // wordpiece_encode: same vocab derivation (top-256 weighted 2..4
    // substrings, (cnt DESC, piece) total order), greedy segmentation
    // replayed by recursive CTE with the identical 4/3/2/else-1 CASE
    // ladder (incl. the truncated end-of-word probe semantics).
    "wordpiece_encode" ->
      s"""WITH RECURSIVE
         |wx AS (SELECT doc_id,
         |         unnest(list_transform($ToksSql, t -> lower(t))) AS w
         |       FROM documents),
         |tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
         |       FROM wx GROUP BY 1, 2),
         |wc AS (SELECT w, CAST(sum(tf) AS BIGINT) AS wn FROM tf GROUP BY 1),
         |wl AS (SELECT w, wn, unnest([2, 3, 4]) AS l FROM wc),
         |wi AS (SELECT w, wn, l,
         |         unnest(generate_series(1, length(w) - l + 1)) AS i
         |       FROM wl),
         |pieces AS (SELECT substr(w, i, l) AS piece, sum(wn) AS cnt
         |           FROM wi GROUP BY 1),
         |vocab AS (SELECT piece FROM pieces ORDER BY cnt DESC, piece LIMIT 256),
         |seg AS (SELECT w, 1 AS pos, 0 AS n FROM wc
         |        UNION ALL
         |        SELECT w,
         |          pos + CASE
         |            WHEN substr(w, pos, 4) IN (SELECT piece FROM vocab) THEN 4
         |            WHEN substr(w, pos, 3) IN (SELECT piece FROM vocab) THEN 3
         |            WHEN substr(w, pos, 2) IN (SELECT piece FROM vocab) THEN 2
         |            ELSE 1 END,
         |          n + 1
         |        FROM seg WHERE pos <= length(w)),
         |enc AS (SELECT w, CAST(max(n) AS BIGINT) AS n_pieces
         |        FROM seg GROUP BY 1),
         |agg AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_words,
         |               CAST(sum(tf * n_pieces) AS BIGINT) AS n_tokens
         |        FROM tf JOIN enc USING (w) GROUP BY 1)
         |SELECT doc_id, n_words, n_tokens,
         |       (200 * n_tokens + n_words) // (2 * n_words) AS tpw_x100
         |FROM agg""".stripMargin,

    // unigram_train: seed → 2 EM rounds (shift-state forward +
    // smallest-l backward Viterbi recursions) → pruned final vocab
    // with add-1 ln-cell scores.
    "unigram_train" ->
      s"""WITH RECURSIVE
         |$uniTrainCtes,
         |tot2 AS MATERIALIZED (SELECT CAST(sum(usage) AS BIGINT) AS t,
         |            CAST(count(*) AS BIGINT) AS v FROM v2)
         |SELECT piece, CAST(length(piece) AS BIGINT) AS piece_len, usage,
         |       ${uniLn("usage + 1")}
         |       - (SELECT ${uniLn("t + v")} FROM tot2) AS logp_x1e6
         |FROM v2""".stripMargin,

    // unigram_encode: the same chain + a third Viterbi pass under the
    // final scores; per-doc rollup identical to bpe/wordpiece encode.
    "unigram_encode" ->
      s"""WITH RECURSIVE
         |$uniTrainCtes,
         |${uniScoreCtes("2", "v2")},
         |${uniViterbiCtes("3", "sc2")},
         |enc AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS n_pieces
         |        FROM pieces3 GROUP BY 1),
         |agg AS MATERIALIZED (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_words,
         |               CAST(sum(tf * n_pieces) AS BIGINT) AS n_tokens
         |        FROM tf JOIN enc USING (w) GROUP BY 1)
         |SELECT doc_id, n_words, n_tokens,
         |       (200 * n_tokens + n_words) // (2 * n_words) AS tpw_x100
         |FROM agg""".stripMargin,

    // tokenizer_fertility: the same encoder chain, rolled up per lang
    // with char counts.
    "tokenizer_fertility" ->
      s"""WITH $bpeEncCtes,
         |lg AS (SELECT doc_id, lang FROM documents),
         |agg AS (SELECT lang, CAST(sum(tf) AS BIGINT) AS n_words,
         |               CAST(sum(tf * n_sym) AS BIGINT) AS n_tokens,
         |               CAST(sum(tf * length(w)) AS BIGINT) AS n_chars
         |        FROM tf JOIN enc USING (w) JOIN lg USING (doc_id)
         |        GROUP BY 1)
         |SELECT lang, n_words, n_tokens, n_chars,
         |       (200 * n_tokens + n_words) // (2 * n_words) AS fertility_x100,
         |       (200 * n_chars + n_tokens) // (2 * n_tokens) AS chars_per_tok_x100
         |FROM agg""".stripMargin,

    // ngram_novelty: same 60-bit shingle hash as cms_freq, first
    // occurrence by min(doc_id), exact-integer HALF_UP percentage.
    "ngram_novelty" ->
      s"""WITH ct AS (SELECT doc_id, list_transform($ToksSql, t -> lower(t)) AS toks
         |            FROM documents),
         |pos AS (SELECT doc_id, toks,
         |          unnest(generate_series(1, len(toks) - 2)) AS s
         |        FROM ct),
         |sh AS (SELECT DISTINCT doc_id, CAST('0x' || substr(md5(
         |         array_to_string(list_slice(toks, s, s + 2), ' ')), 1, 15)
         |         AS BIGINT) AS h
         |       FROM pos),
         |first AS (SELECT h, min(doc_id) AS first_doc FROM sh GROUP BY 1),
         |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |          CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_novel
         |        FROM sh JOIN first USING (h) GROUP BY 1)
         |SELECT doc_id, n_shingles, n_novel,
         |       (200 * n_novel + n_shingles) // (2 * n_shingles) AS novelty_x100
         |FROM agg""".stripMargin,

    // char_entropy: same explicit substr char explode, 1e6-floored
    // ln's over exact counts, HALF_UP mean.
    "char_entropy" ->
      """WITH ch AS (SELECT doc_id,
        |              unnest(list_transform(generate_series(1, length(text)),
        |                                    i -> substr(text, i, 1))) AS c
        |            FROM documents),
        |cc AS (SELECT doc_id, c, CAST(count(*) AS BIGINT) AS cc FROM ch GROUP BY 1, 2),
        |n AS (SELECT doc_id, CAST(sum(cc) AS BIGINT) AS n_chars,
        |             CAST(count(*) AS BIGINT) AS n_distinct
        |      FROM cc GROUP BY 1),
        |e AS (SELECT cc.doc_id, n_chars, n_distinct,
        |        CAST(sum(cc * (CAST(floor(ln(CAST(n_chars AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
        |                       - CAST(floor(ln(CAST(cc AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)))
        |          AS BIGINT) AS ent_num
        |      FROM cc JOIN n USING (doc_id) GROUP BY 1, 2, 3)
        |SELECT doc_id, n_chars, n_distinct,
        |       (2 * ent_num + n_chars) // (2 * n_chars) AS entropy_x1e6
        |FROM e""".stripMargin,

    // pps_sample: identical HUGEINT keep test and exact-integer HT
    // estimator; k = 100, 2^60 = 1152921504606846976.
    "pps_sample" ->
      """WITH s AS (SELECT lang, CAST(sum(n_chars) AS BIGINT) AS w_tot,
        |                  CAST(count(*) AS BIGINT) AS n_docs
        |           FROM documents GROUP BY 1),
        |t AS (SELECT d.lang, d.n_chars, s.w_tot, s.n_docs,
        |        (100 * d.n_chars >= s.w_tot) AS certain,
        |        ((100 * d.n_chars >= s.w_tot) OR
        |         CAST(CAST('0x' || substr(md5('pps:' || CAST(d.doc_id AS VARCHAR)),
        |                                  1, 15) AS BIGINT) AS HUGEINT) * s.w_tot
        |         < CAST(100 * d.n_chars AS HUGEINT) * 1152921504606846976) AS keep
        |      FROM documents d JOIN s USING (lang))
        |SELECT lang, n_docs,
        |       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       CAST(sum(CASE WHEN certain THEN 1 ELSE 0 END) AS BIGINT) AS n_certain,
        |       w_tot AS true_chars,
        |       CAST(sum(CASE WHEN certain THEN n_chars ELSE 0 END)
        |            + (2 * (sum(CASE WHEN keep THEN 1 ELSE 0 END)
        |                    - sum(CASE WHEN certain THEN 1 ELSE 0 END)) * w_tot + 100)
        |              // 200
        |            AS BIGINT) AS est_chars
        |FROM t GROUP BY lang, n_docs, w_tot""".stripMargin,

    // cms_freq: the 4×2048 Count-Min sketch replayed relationally —
    // cell (i, p) is the occurrence count mapping there under the same
    // Kirsch–Mitzenmacher positions, estimate = min over the 4 cells.
    "cms_freq" ->
      s"""WITH ct AS (SELECT doc_id, list_transform($ToksSql, t -> lower(t)) AS toks
         |           FROM documents),
         |pos AS (SELECT doc_id, toks,
         |          unnest(generate_series(1, len(toks) - 2)) AS s
         |        FROM ct),
         |occ AS (SELECT CAST('0x' || substr(md5(
         |          array_to_string(list_slice(toks, s, s + 2), ' ')), 1, 15)
         |          AS BIGINT) AS h
         |        FROM pos),
         |hp AS (SELECT h, i,
         |         ((h % 2048) + i * (2 * ((h >> 20) % 524288) + 1)) % 2048 AS p
         |       FROM (SELECT DISTINCT h FROM occ)
         |       CROSS JOIN (VALUES (0), (1), (2), (3)) AS ii(i)),
         |cells AS (SELECT i, p, CAST(count(*) AS BIGINT) AS c
         |          FROM occ JOIN hp USING (h) GROUP BY i, p),
         |est AS (SELECT hp.h, min(c) AS cms_est
         |        FROM hp JOIN cells USING (i, p) GROUP BY hp.h),
         |exact AS (SELECT h, CAST(count(*) AS BIGINT) AS exact_count
         |          FROM occ GROUP BY h),
         |top AS (SELECT h, exact_count FROM exact
         |        ORDER BY exact_count DESC, h LIMIT 50)
         |SELECT top.h AS shingle_hash, exact_count, cms_est,
         |       cms_est - exact_count AS overcount
         |FROM top JOIN est ON est.h = top.h""".stripMargin,

    "zorder_cluster" -> {
      val z = ZOrder.interleave16Sql("(l_partkey % 65536)", "(l_suppkey % 65536)")
      s"""SELECT l_orderkey, l_linenumber,
         |  l_partkey % 65536 AS zx, l_suppkey % 65536 AS zy,
         |  $z AS zkey
         |FROM lineitem""".stripMargin
    },

    // bm25_topk: the double formula is written with the SAME op tree as
    // the Spark side (left-assoc products/divisions), so every IEEE op
    // rounds identically; ln is the only libm call (tfidf convention).
    "bm25_topk" ->
      s"""WITH toks AS (SELECT doc_id,
         |                     unnest(list_transform($ToksSql, t -> lower(t))) AS term
         |              FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |tot AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         |               CAST(sum(dl) AS DOUBLE) AS tot FROM dl),
         |sc AS (SELECT doc_id, tf.term, tf, df, dl,
         |         CAST(floor(
         |           ln(1.0 + (n_docs - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
         |           * (CAST(tf AS DOUBLE) * 2.2)
         |           / (CAST(tf AS DOUBLE) + 0.3 + 0.9 * CAST(dl AS DOUBLE) * n_docs / tot)
         |           * 1e6 + 0.5) AS BIGINT) AS score_x1e6
         |       FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN tot),
         |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |                                   ORDER BY score_x1e6 DESC, term) AS rn
         |      FROM sc)
         |SELECT doc_id, term, tf, df, dl, score_x1e6 FROM r WHERE rn <= 3""".stripMargin,

    // unigram_logprob: ln scaled to BIGINT once per distinct term; doc
    // totals and the mean are exact integer math (HALF_UP via the
    // embed_centroid div convention — Spark `div` ≡ DuckDB `//` on the
    // sign-guarded non-negative numerators).
    "unigram_logprob" ->
      s"""WITH toks AS (SELECT doc_id,
         |                     unnest(list_transform($ToksSql, t -> lower(t))) AS term
         |              FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         |ctf AS (SELECT term, CAST(sum(tf) AS BIGINT) AS ctf FROM tf GROUP BY 1),
         |tot AS (SELECT CAST(sum(ctf) AS DOUBLE) AS t_tokens FROM ctf),
         |lp AS (SELECT term,
         |         CAST(floor(ln(CAST(ctf AS DOUBLE) / t_tokens) * 1e6 + 0.5) AS BIGINT)
         |           AS lp_x1e6
         |       FROM ctf CROSS JOIN tot),
         |a AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
         |             CAST(sum(tf * lp_x1e6) AS BIGINT) AS sum_lp_x1e6
         |      FROM tf JOIN lp USING (term) GROUP BY 1)
         |SELECT doc_id, n_tokens, sum_lp_x1e6,
         |  CAST(CASE WHEN sum_lp_x1e6 >= 0
         |       THEN (2 * sum_lp_x1e6 + n_tokens) // (2 * n_tokens)
         |       ELSE -((2 * -sum_lp_x1e6 + n_tokens) // (2 * n_tokens)) END
         |    AS BIGINT) AS avg_lp_x1e6
         |FROM a""".stripMargin,

    // bigram_logprob: mirrors the Spark plan — bigrams via 1-based
    // adjacent list indexing (range(1, len) = positions 1..len-1),
    // add-1-smoothed conditional lp scaled to BIGINT once per distinct
    // bigram, exact-integer doc sums + signed HALF_UP mean.
    "bigram_logprob" ->
      s"""WITH toks AS (SELECT doc_id,
         |                     list_transform($ToksSql, t -> lower(t)) AS toks
         |              FROM documents),
         |v AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS v
         |      FROM (SELECT unnest(toks) AS term FROM toks)),
         |bg AS (SELECT doc_id,
         |         unnest(list_transform(range(1, len(toks)),
         |                i -> toks[i] || ' ' || toks[i + 1])) AS bigram
         |       FROM toks),
         |tf AS (SELECT doc_id, bigram, count(*) AS tf FROM bg GROUP BY 1, 2),
         |cbf AS (SELECT bigram, CAST(sum(tf) AS BIGINT) AS cbf,
         |               split_part(bigram, ' ', 1) AS head
         |        FROM tf GROUP BY 1),
         |heads AS (SELECT head, CAST(sum(cbf) AS BIGINT) AS hc
         |          FROM cbf GROUP BY 1),
         |lp AS (SELECT bigram,
         |         CAST(floor(ln(CAST(cbf + 1 AS DOUBLE) /
         |                       CAST(hc + v AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
         |           AS lp_x1e6
         |       FROM cbf JOIN heads USING (head) CROSS JOIN v),
         |a AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
         |             CAST(sum(tf * lp_x1e6) AS BIGINT) AS sum_lp_x1e6
         |      FROM tf JOIN lp USING (bigram) GROUP BY 1)
         |SELECT doc_id, n_bigrams, sum_lp_x1e6,
         |  CAST(CASE WHEN sum_lp_x1e6 >= 0
         |       THEN (2 * sum_lp_x1e6 + n_bigrams) // (2 * n_bigrams)
         |       ELSE -((2 * -sum_lp_x1e6 + n_bigrams) // (2 * n_bigrams)) END
         |    AS BIGINT) AS avg_lp_x1e6
         |FROM a""".stripMargin,

    "link_rank" -> {
      val hash = "CAST('0x' || substr(md5(CAST(src AS VARCHAR) || ':' || " +
        "CAST(k AS VARCHAR)), 1, 15) AS BIGINT)"
      val iters = (1 to 5).map { i =>
        s"""c$i AS (SELECT dst, sum(r // 3) AS cs
           |        FROM edges JOIN r${i - 1} ON r${i - 1}.doc_id = edges.src
           |        GROUP BY 1),
           |r$i AS (SELECT ids.doc_id,
           |          150000 // nn.n + (85 * coalesce(cs, 0)) // 100 AS r
           |        FROM ids CROSS JOIN nn LEFT JOIN c$i ON c$i.dst = ids.doc_id)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |ids AS (SELECT doc_id FROM documents),
         |edges AS (SELECT doc_id AS src, $hash % nn.n AS dst
         |          FROM (SELECT doc_id AS src, doc_id FROM ids)
         |          CROSS JOIN nn
         |          CROSS JOIN (VALUES (1), (2), (3)) t(k)),
         |r0 AS (SELECT doc_id, 1000000 // nn.n AS r FROM ids CROSS JOIN nn),
         |$iters
         |SELECT doc_id, CAST(r AS BIGINT) AS rank_x1e6 FROM r5""".stripMargin
    },

    // trust_rank: link_rank's chain with the restart mass on the
    // md5-selected seed set only.
    "trust_rank" -> {
      val hash = "CAST('0x' || substr(md5(CAST(src AS VARCHAR) || ':' || " +
        "CAST(k AS VARCHAR)), 1, 15) AS BIGINT)"
      val iters = (1 to 5).map { i =>
        s"""c$i AS (SELECT dst, sum(r // 3) AS cs
           |        FROM edges JOIN r${i - 1} ON r${i - 1}.doc_id = edges.src
           |        GROUP BY 1),
           |r$i AS (SELECT sd.doc_id,
           |          CASE WHEN sd.is_seed THEN 150000 // ns.ns ELSE 0 END
           |            + (85 * coalesce(cs, 0)) // 100 AS r
           |        FROM sd CROSS JOIN ns LEFT JOIN c$i ON c$i.dst = sd.doc_id)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |ids AS (SELECT doc_id FROM documents),
         |sd AS (SELECT doc_id,
         |         (CAST('0x' || substr(md5('trust:' || CAST(doc_id AS VARCHAR)),
         |               1, 15) AS BIGINT) % 10 = 0) AS is_seed
         |       FROM ids),
         |ns AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM sd WHERE is_seed),
         |edges AS (SELECT doc_id AS src, $hash % nn.n AS dst
         |          FROM (SELECT doc_id AS src, doc_id FROM ids)
         |          CROSS JOIN nn
         |          CROSS JOIN (VALUES (1), (2), (3)) t(k)),
         |r0 AS (SELECT sd.doc_id,
         |         CASE WHEN sd.is_seed THEN 1000000 // ns.ns ELSE 0 END AS r
         |       FROM sd CROSS JOIN ns),
         |$iters
         |SELECT doc_id, CAST(r AS BIGINT) AS trust_x1e6 FROM r5""".stripMargin
    },

    "graph_triangles" -> {
      val hash = "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || " +
        "CAST(k AS VARCHAR)), 1, 15) AS BIGINT)"
      s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |ids AS (SELECT doc_id FROM documents),
         |raw AS (SELECT doc_id AS u, $hash % nn.n AS v
         |        FROM ids CROSS JOIN nn
         |        CROSS JOIN (VALUES (1), (2), (3)) t(k)),
         |und AS (SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
         |        FROM raw WHERE u <> v),
         |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg
         |        FROM (SELECT a AS v FROM und
         |              UNION ALL SELECT b AS v FROM und)
         |        GROUP BY 1),
         |o AS (SELECT CASE WHEN da.deg < db.deg
         |                    OR (da.deg = db.deg AND a < b)
         |                  THEN a ELSE b END AS src,
         |             CASE WHEN da.deg < db.deg
         |                    OR (da.deg = db.deg AND a < b)
         |                  THEN b ELSE a END AS dst,
         |             CASE WHEN da.deg < db.deg
         |                    OR (da.deg = db.deg AND a < b)
         |                  THEN db.deg ELSE da.deg END AS ddeg
         |      FROM und JOIN deg da ON da.v = und.a
         |               JOIN deg db ON db.v = und.b),
         |tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
         |        FROM o o1 JOIN o o2 ON o1.src = o2.src
         |          AND (o1.ddeg < o2.ddeg
         |               OR (o1.ddeg = o2.ddeg AND o1.dst < o2.dst))
         |        WHERE EXISTS (SELECT 1 FROM o o3
         |                      WHERE o3.src = o1.dst AND o3.dst = o2.dst))
         |SELECT (SELECT CAST(count(*) AS BIGINT) FROM ids) AS n_vertices,
         |       (SELECT CAST(count(*) AS BIGINT) FROM und) AS n_edges,
         |       n_triangles
         |FROM tri""".stripMargin
    },

    "substring_dedup" ->
      s"""WITH $CorpusCte,
         |ct AS (SELECT doc_id,
         |         list_transform($ToksSql, t -> lower(t)) AS toks
         |       FROM corpus),
         |pos AS (SELECT doc_id, toks,
         |          unnest(generate_series(1, len(toks) - 7)) AS s
         |        FROM ct),
         |wins AS (SELECT doc_id,
         |           CAST('0x' || substr(md5(
         |             array_to_string(list_slice(toks, s, s + 7), ' ')), 1, 15)
         |             AS BIGINT) AS h
         |         FROM pos),
         |hc AS (SELECT h, count(*) AS n FROM wins GROUP BY 1)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
         |       CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS dup_windows,
         |       CAST((2 * 1000000 * CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END)
         |               AS BIGINT) + count(*)) // (2 * count(*)) AS BIGINT)
         |         AS dup_frac_x1e6
         |FROM wins JOIN hc USING (h)
         |GROUP BY 1""".stripMargin,

    // substring_scrub: same window hashing as substring_dedup, then
    // first-occurrence keep rule (min-struct per hash), islands merge,
    // and a relational token-level anti-range reconstruction (the
    // Spark side's indexed-filter equivalent).
    "substring_scrub" ->
      s"""WITH $CorpusCte,
         |ct AS (SELECT doc_id,
         |         list_transform($ToksSql, t -> lower(t)) AS toks
         |       FROM corpus),
         |pos AS (SELECT doc_id, toks,
         |          unnest(generate_series(1, len(toks) - 7)) AS s
         |        FROM ct),
         |wins AS (SELECT doc_id, s,
         |           CAST('0x' || substr(md5(
         |             array_to_string(list_slice(toks, s, s + 7), ' ')), 1, 15)
         |             AS BIGINT) AS h
         |         FROM pos),
         |fst AS (SELECT h, min(struct_pack(d := doc_id, s := s)) AS m
         |        FROM wins GROUP BY 1),
         |rem AS (SELECT w.doc_id, w.s, w.s + 7 AS e
         |        FROM wins w JOIN fst USING (h)
         |        WHERE NOT (w.doc_id = fst.m.d AND w.s = fst.m.s)),
         |i0 AS (SELECT doc_id, s, e,
         |         CASE WHEN s > coalesce(max(e) OVER
         |                (PARTITION BY doc_id ORDER BY s
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |                CAST(-1 AS BIGINT))
         |              THEN 1 ELSE 0 END AS newi
         |       FROM rem),
         |i1 AS (SELECT doc_id, s, e,
         |         sum(newi) OVER (PARTITION BY doc_id ORDER BY s
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
         |       FROM i0),
         |isl AS (SELECT doc_id, island, min(s) AS s, max(e) AS e
         |        FROM i1 GROUP BY 1, 2),
         |tp AS (SELECT doc_id, unnest(toks) AS tok,
         |              generate_subscripts(toks, 1) AS p
         |       FROM ct),
         |kept AS (SELECT t.doc_id, t.p, t.tok FROM tp t
         |         WHERE NOT EXISTS (SELECT 1 FROM isl i
         |           WHERE i.doc_id = t.doc_id AND t.p BETWEEN i.s AND i.e)),
         |ka AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |         string_agg(tok, ' ' ORDER BY p) AS scrubbed
         |       FROM kept GROUP BY 1)
         |SELECT ct.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         |       CAST(len(toks) - coalesce(n_kept, 0) AS BIGINT) AS n_removed,
         |       coalesce(scrubbed, '') AS scrubbed_text
         |FROM ct LEFT JOIN ka USING (doc_id)""".stripMargin,

    "dsir_weights" ->
      s"""WITH toks AS (SELECT doc_id, lang,
         |                unnest(list_transform($ToksSql, t -> lower(t))) AS term
         |              FROM documents),
         |tf AS (SELECT doc_id, lang, term, count(*) AS tf
         |       FROM toks GROUP BY 1, 2, 3),
         |cc AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cc FROM tf GROUP BY 1),
         |tc AS (SELECT term, CAST(sum(tf) AS BIGINT) AS tc
         |       FROM tf WHERE lang = 'en' GROUP BY 1),
         |tot AS (SELECT CAST(sum(cc) AS BIGINT) AS c_tot,
         |               CAST(count(*) AS BIGINT) AS v
         |        FROM cc),
         |ttot AS (SELECT CAST(sum(tc) AS BIGINT) AS t_tot FROM tc),
         |dlp AS (SELECT cc.term,
         |          CAST(floor(ln(CAST(coalesce(tc.tc, 0) + 1 AS DOUBLE) /
         |                        CAST(t_tot + v AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
         |          - CAST(floor(ln(CAST(cc.cc + 1 AS DOUBLE) /
         |                          CAST(c_tot + v AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
         |            AS dlp_x1e6
         |        FROM cc LEFT JOIN tc ON tc.term = cc.term
         |        CROSS JOIN tot CROSS JOIN ttot)
         |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
         |       CAST(sum(tf * dlp_x1e6) AS BIGINT) AS weight_x1e6
         |FROM tf JOIN dlp USING (term)
         |GROUP BY 1""".stripMargin,

    // domain_reweight: global vs own-domain unigram LM losses, excess,
    // and 4 linearized-MWU rounds replayed with HUGEINT intermediates.
    "domain_reweight" -> {
      val rounds = (1 to 4).map { r =>
        s"""r$r AS (SELECT * EXCLUDE (w, u, su),
           |          CAST((2 * u * 1000000 + su) // (2 * su) AS BIGINT) AS w
           |        FROM (SELECT *, sum(u) OVER () AS su FROM (
           |          SELECT *, CAST(w AS HUGEINT) * (1000000 + excess_x1e6) AS u
           |          FROM r${r - 1})))""".stripMargin
      }.mkString(",\n")
      s"""WITH toks AS (SELECT source,
         |                unnest(list_transform($ToksSql, t -> lower(t))) AS term
         |              FROM documents),
         |tf AS (SELECT source, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         |cc AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cc FROM tf GROUP BY 1),
         |tot AS (SELECT CAST(sum(cc) AS BIGINT) AS c_tot,
         |               CAST(count(*) AS BIGINT) AS v
         |        FROM cc),
         |dt AS (SELECT source, CAST(sum(tf) AS BIGINT) AS d_tot
         |       FROM tf GROUP BY 1),
         |sc AS (SELECT tf.source, tf.tf,
         |         CAST(floor(ln(CAST(cc.cc + 1 AS DOUBLE) /
         |               CAST(c_tot + v AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
         |           AS lp_g,
         |         CAST(floor(ln(CAST(tf.tf + 1 AS DOUBLE) /
         |               CAST(d_tot + v AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
         |           AS lp_d
         |       FROM tf JOIN cc USING (term) JOIN dt USING (source)
         |       CROSS JOIN tot),
         |ls AS (SELECT source, CAST(sum(tf) AS BIGINT) AS n_tokens,
         |         sum(-CAST(tf * lp_g AS HUGEINT)) AS ng,
         |         sum(-CAST(tf * lp_d AS HUGEINT)) AS nd
         |       FROM sc GROUP BY 1),
         |ex AS (SELECT source, n_tokens,
         |         CAST((2 * ng + n_tokens) // (2 * n_tokens) AS BIGINT)
         |           AS loss_global_x1e6,
         |         CAST((2 * nd + n_tokens) // (2 * n_tokens) AS BIGINT)
         |           AS loss_own_x1e6
         |       FROM ls),
         |r0 AS (SELECT *, CAST((2 * 1000000 + ndom) // (2 * ndom) AS BIGINT)
         |           AS w
         |       FROM (SELECT *,
         |               greatest(loss_global_x1e6 - loss_own_x1e6, 0)
         |                 AS excess_x1e6,
         |               CAST(count(*) OVER () AS BIGINT) AS ndom
         |             FROM ex)),
         |$rounds
         |SELECT source, n_tokens, loss_global_x1e6, loss_own_x1e6,
         |       excess_x1e6, w AS weight_x1e6
         |FROM r4""".stripMargin
    },

    // kmeans_train: the 2 Lloyd rounds replayed (shared lloydCtes) —
    // same quantization, (dist, cid) argmin, signed HALF_UP per-dim
    // means, empty-cluster fallback, centroid md5.
    "kmeans_train" -> {
      val outs = (1 to 2).map { r =>
        s"""out$r AS (SELECT $r AS round, st$r.cid, n_assigned, inertia,
           |                 md5(array_to_string(list_transform(c$r.cv,
           |                   x -> CAST(x AS VARCHAR)), ',')) AS centroid_md5
           |          FROM st$r JOIN c$r ON c$r.cid = st$r.cid)""".stripMargin
      }.mkString(",\n")
      s"""WITH $lloydCtes,
         |$outs
         |SELECT round, cid, n_assigned, inertia, centroid_md5 FROM out1
         |UNION ALL
         |SELECT round, cid, n_assigned, inertia, centroid_md5 FROM out2"""
        .stripMargin
    },

    // ivf_trained_topk: the same chain, then serving — final-centroid
    // bucketing, nProbe=2 routing on exact integer distances, cosine
    // rerank of the probed buckets (ivf_topk's rounding convention).
    "ivf_trained_topk" ->
      s"""WITH $lloydCtes,
         |bkt AS (SELECT vec_id, cid AS bucket FROM (
         |          SELECT vec_id, cid,
         |                 row_number() OVER (PARTITION BY vec_id
         |                                    ORDER BY dist, cid) AS rn
         |          FROM (SELECT v.vec_id, c.cid,
         |                  CAST(list_sum(list_transform(
         |                    generate_series(1, len(v.q)),
         |                    i -> (v.q[i] - c.cv[i]) * (v.q[i] - c.cv[i])))
         |                    AS BIGINT) AS dist
         |                FROM vecs v CROSS JOIN c2 c))
         |        WHERE rn = 1),
         |qq AS (SELECT q FROM vecs WHERE vec_id = 0),
         |qp AS (SELECT cid AS bucket FROM (
         |         SELECT c.cid,
         |                CAST(list_sum(list_transform(
         |                  generate_series(1, len(qq.q)),
         |                  i -> (qq.q[i] - c.cv[i]) * (qq.q[i] - c.cv[i])))
         |                  AS BIGINT) AS dist
         |         FROM c2 c CROSS JOIN qq)
         |       ORDER BY dist, cid LIMIT 2),
         |qraw AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
         |         FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id,
         |       round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
         |                                    qraw.qv), 4) AS cos_sim
         |FROM embeddings e
         |JOIN bkt ON bkt.vec_id = e.vec_id
         |JOIN qp ON bkt.bucket = qp.bucket, qraw
         |ORDER BY cos_sim DESC, e.vec_id LIMIT 10""".stripMargin,

    // heldout_perplexity: train-shard bigram/head counts, held-out
    // scoring with the same backoff, identical ln/floor tree.
    "heldout_perplexity" ->
      s"""WITH tk AS (SELECT doc_id,
         |              (CAST('0x' || substr(md5('lm:' || CAST(doc_id AS VARCHAR)),
         |                    1, 15) AS BIGINT) % 10 < 8) AS is_train,
         |              list_transform($ToksSql, t -> lower(t)) AS toks
         |            FROM documents),
         |v AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS v
         |      FROM (SELECT unnest(toks) AS term FROM tk WHERE is_train)),
         |bg AS (SELECT doc_id, is_train, toks[k] || ' ' || toks[k + 1] AS bigram
         |       FROM (SELECT doc_id, is_train, toks,
         |               unnest(generate_series(1, len(toks) - 1)) AS k
         |             FROM tk)),
         |btf AS (SELECT doc_id, is_train, bigram, CAST(count(*) AS BIGINT) AS tf
         |        FROM bg GROUP BY 1, 2, 3),
         |trainbg AS (SELECT bigram, CAST(sum(tf) AS BIGINT) AS c12,
         |                   string_split(bigram, ' ')[1] AS head
         |            FROM btf WHERE is_train GROUP BY 1),
         |heads AS (SELECT head, CAST(sum(c12) AS BIGINT) AS hc
         |          FROM trainbg GROUP BY 1),
         |hel AS (SELECT DISTINCT bigram, string_split(bigram, ' ')[1] AS head
         |        FROM btf WHERE NOT is_train),
         |lp AS (SELECT hel.bigram,
         |         CAST(floor(ln(CAST(coalesce(c12, 0) + 1 AS DOUBLE) /
         |                       CAST(coalesce(hc, 0) + v AS DOUBLE)) * 1e6 + 0.5)
         |           AS BIGINT) AS lp_x1e6
         |       FROM hel
         |       LEFT JOIN trainbg ON trainbg.bigram = hel.bigram
         |       LEFT JOIN heads ON heads.head = hel.head
         |       CROSS JOIN v),
         |agg AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
         |               CAST(sum(tf * lp_x1e6) AS BIGINT) AS sum_lp_x1e6
         |        FROM btf JOIN lp USING (bigram)
         |        WHERE NOT is_train GROUP BY 1)
         |SELECT doc_id, n_bigrams, sum_lp_x1e6,
         |       CASE WHEN sum_lp_x1e6 >= 0
         |            THEN (2 * sum_lp_x1e6 + n_bigrams) // (2 * n_bigrams)
         |            ELSE -((2 * -sum_lp_x1e6 + n_bigrams) // (2 * n_bigrams)) END
         |         AS avg_lp_x1e6
         |FROM agg""".stripMargin,

    // vocab_coverage: same single-explode derivation, (cc DESC, term)
    // top-100 cut, HALF_UP basis points.
    "vocab_coverage" ->
      s"""WITH tw AS (SELECT doc_id,
         |              unnest(list_transform($ToksSql, t -> lower(t))) AS term
         |            FROM documents),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         |       FROM tw GROUP BY 1, 2),
         |cc AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cc FROM tf GROUP BY 1),
         |top AS (SELECT term, 1 AS is_top FROM cc
         |        ORDER BY cc DESC, term LIMIT 100),
         |agg AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
         |          CAST(sum(CASE WHEN is_top = 1 THEN tf ELSE 0 END) AS BIGINT)
         |            AS top_tok,
         |          CAST(sum(CASE WHEN cc = 1 THEN tf ELSE 0 END) AS BIGINT)
         |            AS hapax_tok
         |        FROM tf JOIN cc USING (term)
         |        LEFT JOIN top USING (term)
         |        GROUP BY 1)
         |SELECT doc_id, n_tokens,
         |       (20000 * top_tok + n_tokens) // (2 * n_tokens) AS top100_x1e4,
         |       (20000 * hapax_tok + n_tokens) // (2 * n_tokens) AS hapax_x1e4
         |FROM agg""".stripMargin,

    // phrase_detect: identical PMI op tree (left-assoc mults, one
    // div, one ln), min-support 5, (pmi DESC, bigram) top-50.
    "phrase_detect" ->
      s"""WITH tk AS (SELECT doc_id, list_transform($ToksSql, t -> lower(t)) AS toks
         |            FROM documents),
         |u AS (SELECT unnest(toks) AS w FROM tk),
         |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM u GROUP BY 1),
         |tu AS (SELECT CAST(sum(c) AS BIGINT) AS tu FROM uni),
         |tb AS (SELECT CAST(sum(CASE WHEN len(toks) > 1 THEN len(toks) - 1
         |                            ELSE 0 END) AS BIGINT) AS tb
         |       FROM tk),
         |bg AS (SELECT toks[k] || ' ' || toks[k + 1] AS bigram
         |       FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS k
         |             FROM tk)),
         |bi AS (SELECT bigram, CAST(count(*) AS BIGINT) AS c12
         |       FROM bg GROUP BY 1 HAVING count(*) >= 5),
         |sc AS (SELECT bigram, c12, u1.c AS c1, u2.c AS c2,
         |         CAST(floor(ln((CAST(c12 AS DOUBLE) * tu * tu) /
         |                       (CAST(tb AS DOUBLE) * u1.c * u2.c)) * 1e6 + 0.5)
         |           AS BIGINT) AS pmi_x1e6
         |       FROM bi JOIN uni u1 ON u1.w = string_split(bigram, ' ')[1]
         |               JOIN uni u2 ON u2.w = string_split(bigram, ' ')[2]
         |       CROSS JOIN tu CROSS JOIN tb)
         |SELECT bigram, c12, c1, c2, pmi_x1e6 FROM sc
         |ORDER BY pmi_x1e6 DESC, bigram LIMIT 50""".stripMargin,

    // textrank_keywords: same filtered-token co-occurrence graph,
    // 4 unrolled exact-integer PR rounds (link_rank's constants),
    // top-20 under the (rank desc, word) total order.
    "textrank_keywords" -> {
      def round(i: Int): String = {
        val prev = if (i == 1) "r0" else s"r${i - 1}"
        s"""c$i AS (SELECT u.dst, CAST(sum(r.r // d.deg) AS BIGINT) AS cs
           |  FROM und u JOIN deg d ON d.src = u.src
           |       JOIN $prev r ON r.w = u.src
           |  GROUP BY 1),
           |r$i AS (SELECT d.src AS w,
           |          150000 // n + (85 * coalesce(c.cs, 0)) // 100 AS r
           |        FROM deg d CROSS JOIN nv LEFT JOIN c$i c ON c.dst = d.src)"""
          .stripMargin
      }
      s"""WITH tk AS (
         |  SELECT list_filter(list_transform($ToksSql, t -> lower(t)),
         |                     t -> length(t) >= 4) AS ws
         |  FROM documents),
         |bg AS (SELECT least(ws[k], ws[k + 1]) AS wa,
         |              greatest(ws[k], ws[k + 1]) AS wb
         |       FROM (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS k
         |             FROM tk WHERE len(ws) >= 2)),
         |ed AS (SELECT DISTINCT wa, wb FROM bg WHERE wa <> wb),
         |und AS (SELECT wa AS src, wb AS dst FROM ed
         |        UNION ALL SELECT wb, wa FROM ed),
         |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
         |        FROM und GROUP BY 1),
         |nv AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
         |r0 AS (SELECT src AS w, 1000000 // n AS r FROM deg CROSS JOIN nv),
         |${(1 to 4).map(round).mkString(",\n")}
         |SELECT r4.w AS word, deg.deg AS degree,
         |       CAST(r4.r AS BIGINT) AS rank_x1e6
         |FROM r4 JOIN deg ON deg.src = r4.w
         |ORDER BY rank_x1e6 DESC, word LIMIT 20""".stripMargin
    },

    // quality_classifier: the full supervised loop replayed — same
    // perturbed corpus as quality_filter, md5 train split, top-300
    // train-term vocab, 1e6-floored NB log-odds + prior, confusion
    // cells with exact score sums.
    "quality_classifier" ->
      s"""WITH $nbScoreCtes
         |SELECT is_train, actual_keep, (score > 0) AS predicted_keep,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(score) AS BIGINT) AS sum_score_x1e6
         |FROM sc GROUP BY 1, 2, 3""".stripMargin,

    // classifier_auc: same chain, held-out split, score axis
    // quantized into AucBuckets equal-width integer buckets (HUGEINT
    // product ≡ Spark's DECIMAL(38,0)), midrank×2 cumulative over the
    // ≤-4096-row bucket frame, Mann–Whitney HALF_UP cell.
    "classifier_auc" ->
      s"""WITH $nbScoreCtes,
         |held AS (SELECT score, actual_keep FROM sc WHERE NOT is_train),
         |bounds AS (SELECT min(score) AS lo, max(score) AS hi FROM held),
         |bysc AS (SELECT CAST(CAST(score - lo AS HUGEINT) * $AucBuckets
         |                     // (hi - lo + 1) AS BIGINT) AS bucket,
         |           CAST(count(*) AS BIGINT) AS cnt,
         |           CAST(sum(CASE WHEN actual_keep THEN 1 ELSE 0 END) AS BIGINT)
         |             AS pos
         |         FROM held CROSS JOIN bounds GROUP BY 1),
         |cw AS (SELECT bucket, cnt, pos,
         |         coalesce(sum(cnt) OVER (ORDER BY bucket
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
         |       FROM bysc),
         |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_buckets,
         |               CAST(sum(pos) AS BIGINT) AS n_pos,
         |               CAST(sum(cnt - pos) AS BIGINT) AS n_neg,
         |               CAST(sum(pos * (2 * below + cnt + 1)) AS BIGINT)
         |                 AS sum_rank2_pos
         |        FROM cw)
         |SELECT n_buckets, n_pos, n_neg, sum_rank2_pos,
         |       CAST((2 * 1000000 * CAST(sum_rank2_pos - n_pos * (n_pos + 1)
         |                                AS HUGEINT)
         |             + 2 * CAST(n_pos AS HUGEINT) * n_neg)
         |            // (2 * 2 * CAST(n_pos AS HUGEINT) * n_neg) AS BIGINT)
         |         AS auc_x1e6
         |FROM agg""".stripMargin,

    // active_learning: same held-out frame, smallest-|score| top-20.
    "active_learning" ->
      s"""WITH $nbScoreCtes
         |SELECT doc_id, score, abs(score) AS margin, actual_keep
         |FROM sc WHERE NOT is_train
         |ORDER BY margin, doc_id LIMIT 20""".stripMargin,

    // classifier_calibration: same held-out frame, 10 equal-width
    // bins, running-max monotonicity over the ≤ 10 bin rows.
    "classifier_calibration" ->
      s"""WITH $nbScoreCtes,
         |held AS (SELECT score, actual_keep FROM sc WHERE NOT is_train),
         |bounds AS (SELECT min(score) AS lo, max(score) AS hi FROM held),
         |bins AS (SELECT CAST(CAST(score - lo AS HUGEINT) * 10
         |                     // (hi - lo + 1) AS BIGINT) AS bin,
         |           CAST(count(*) AS BIGINT) AS n_docs,
         |           CAST(sum(CASE WHEN actual_keep THEN 1 ELSE 0 END)
         |                AS BIGINT) AS n_pos
         |         FROM held CROSS JOIN bounds GROUP BY 1),
         |rt AS (SELECT bin, n_docs, n_pos,
         |         CAST((2 * 1000000 * n_pos + n_docs) // (2 * n_docs)
         |              AS BIGINT) AS pos_rate_x1e6
         |       FROM bins)
         |SELECT bin, n_docs, n_pos, pos_rate_x1e6,
         |       coalesce(pos_rate_x1e6 >= max(pos_rate_x1e6) OVER (
         |         ORDER BY bin
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), TRUE)
         |         AS monotone_so_far
         |FROM rt""".stripMargin,

    // auc_pr: the same bucketed held-out axis walked from the best
    // score down; per-bucket HALF_UP precision terms replay in
    // HUGEINT, prevalence compare is pure-integer.
    "auc_pr" ->
      s"""WITH $nbScoreCtes,
         |held AS (SELECT score, actual_keep FROM sc WHERE NOT is_train),
         |bounds AS (SELECT min(score) AS lo, max(score) AS hi FROM held),
         |bysc AS (SELECT CAST(CAST(score - lo AS HUGEINT) * ${AucBuckets}
         |                     // (hi - lo + 1) AS BIGINT) AS bucket,
         |           CAST(count(*) AS BIGINT) AS cnt,
         |           CAST(sum(CASE WHEN actual_keep THEN 1 ELSE 0 END)
         |                AS BIGINT) AS pos
         |         FROM held CROSS JOIN bounds GROUP BY 1),
         |ptot AS (SELECT CAST(sum(pos) AS BIGINT) AS tot_pos FROM bysc),
         |cw AS (SELECT bucket, cnt, pos,
         |         sum(pos) OVER (ORDER BY bucket DESC
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS cum_pos,
         |         sum(cnt) OVER (ORDER BY bucket DESC
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS cum_cnt
         |       FROM bysc),
         |terms AS (SELECT cnt, pos,
         |            CASE WHEN pos > 0 THEN
         |              CAST((2 * 1000000 * CAST(pos AS HUGEINT) * cum_pos
         |                    + CAST(tot_pos AS HUGEINT) * cum_cnt)
         |                   // (2 * CAST(tot_pos AS HUGEINT) * cum_cnt)
         |                AS BIGINT) ELSE 0 END AS term_x1e6
         |          FROM cw CROSS JOIN ptot),
         |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_buckets,
         |          CAST(sum(pos) AS BIGINT) AS n_pos,
         |          CAST(sum(cnt - pos) AS BIGINT) AS n_neg,
         |          CAST(sum(term_x1e6) AS BIGINT) AS ap_x1e6
         |        FROM terms)
         |SELECT n_buckets, n_pos, n_neg, ap_x1e6,
         |       CAST((2 * 1000000 * n_pos + (n_pos + n_neg))
         |            // (2 * (n_pos + n_neg)) AS BIGINT) AS prevalence_x1e6,
         |       ap_x1e6 > (2 * 1000000 * n_pos + (n_pos + n_neg))
         |            // (2 * (n_pos + n_neg)) AS lifts
         |FROM agg""".stripMargin,

    // brier_score: the train-half calibration table applied to the
    // held half, clamped bins, base-rate fallback; every cell replays
    // in HUGEINT (// ≡ div on the non-negative operands).
    "brier_score" ->
      s"""WITH $nbScoreCtes,
         |tr AS (SELECT score, actual_keep FROM sc WHERE is_train),
         |bounds AS (SELECT min(score) AS lo, max(score) AS hi FROM tr),
         |rates AS (SELECT least(9, greatest(0,
         |            CAST(CAST(score - lo AS HUGEINT) * 10
         |                 // (hi - lo + 1) AS BIGINT))) AS bin,
         |            CAST(count(*) AS BIGINT) AS n_docs,
         |            CAST(sum(CASE WHEN actual_keep THEN 1 ELSE 0 END)
         |                 AS BIGINT) AS n_pos
         |          FROM tr CROSS JOIN bounds GROUP BY 1),
         |rt AS (SELECT bin,
         |         CAST((2 * 1000000 * n_pos + n_docs) // (2 * n_docs)
         |              AS BIGINT) AS rate_x1e6
         |       FROM rates),
         |tb AS (SELECT CAST((2 * 1000000
         |           * sum(CASE WHEN actual_keep THEN 1 ELSE 0 END)
         |           + count(*)) // (2 * count(*)) AS BIGINT)
         |           AS base_rate_x1e6
         |       FROM tr),
         |hd AS (SELECT least(9, greatest(0,
         |            CAST(CAST(score - lo AS HUGEINT) * 10
         |                 // (hi - lo + 1) AS BIGINT))) AS bin,
         |            actual_keep
         |        FROM sc CROSS JOIN bounds WHERE NOT is_train),
         |err AS (SELECT coalesce(rate_x1e6, base_rate_x1e6) AS p,
         |          actual_keep
         |        FROM hd LEFT JOIN rt USING (bin) CROSS JOIN tb),
         |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_held,
         |          CAST(sum(CASE WHEN actual_keep THEN 1 ELSE 0 END)
         |               AS BIGINT) AS n_pos,
         |          sum(CAST(p - CASE WHEN actual_keep THEN 1000000
         |                        ELSE 0 END AS HUGEINT)
         |              * (p - CASE WHEN actual_keep THEN 1000000
         |                      ELSE 0 END)) AS sq_sum
         |        FROM err),
         |c1 AS (SELECT n_held, n_pos,
         |         CAST((2 * sq_sum + n_held)
         |              // (2 * CAST(n_held AS HUGEINT)) AS BIGINT)
         |           AS brier_x1e12,
         |         CAST((2 * 1000000 * n_pos + n_held) // (2 * n_held)
         |              AS BIGINT) AS pbar_x1e6
         |       FROM agg)
         |SELECT n_held, n_pos, brier_x1e12,
         |       CAST((2 * (CAST(n_pos AS HUGEINT)
         |              * (1000000 - pbar_x1e6) * (1000000 - pbar_x1e6)
         |              + CAST(n_held - n_pos AS HUGEINT)
         |              * pbar_x1e6 * pbar_x1e6) + n_held)
         |            // (2 * CAST(n_held AS HUGEINT)) AS BIGINT)
         |         AS base_brier_x1e12,
         |       brier_x1e12 < CAST((2 * (CAST(n_pos AS HUGEINT)
         |              * (1000000 - pbar_x1e6) * (1000000 - pbar_x1e6)
         |              + CAST(n_held - n_pos AS HUGEINT)
         |              * pbar_x1e6 * pbar_x1e6) + n_held)
         |            // (2 * CAST(n_held AS HUGEINT)) AS BIGINT)
         |         AS skillful
         |FROM c1""".stripMargin,

    // Mirrors Fuzzy.blockedMatch exactly: oversized blocks re-split
    // into ceil(cn/1000) sub-blocks keyed by md5Hash60(id) mod nsplit
    // — a hash of the id, so adversarial id residue patterns (shared
    // offsets/multipliers) can't collapse a hot block into one
    // sub-block (identity at this SF — largest block ≈ 30 rows).
    "fuzzy_match" ->
      s"""WITH base AS (SELECT c_custkey AS id, c_name AS name FROM customer),
        |synth AS (SELECT id + 1000000 AS id,
        |                 substring(name, 1, 10) || 'X' || substring(name, 12) AS name
        |          FROM base),
        |pool AS (SELECT id, name,
        |                substring(name, length(name) - 3, 4) AS blk
        |         FROM (SELECT * FROM base UNION ALL SELECT * FROM synth)),
        |sizes AS (SELECT blk, CAST(count(*) AS BIGINT) AS cn
        |          FROM pool GROUP BY 1),
        |sp AS (SELECT p.id, p.name, p.blk,
        |              CAST('0x' || substr(md5(CAST(p.id AS VARCHAR)), 1, 15)
        |                   AS BIGINT)
        |              % CAST(floor((cn + ${Fuzzy.MaxBlock - 1}) /
        |                           ${Fuzzy.MaxBlock}.0) AS BIGINT) AS sub
        |       FROM pool p JOIN sizes USING (blk)),
        |pairs AS (SELECT a.id AS id_a, b.id AS id_b,
        |                 a.name AS name_a, b.name AS name_b,
        |                 levenshtein(a.name, b.name) AS lev
        |          FROM sp a JOIN sp b
        |            ON a.blk = b.blk AND a.sub = b.sub AND a.id < b.id)
        |SELECT id_a, id_b, name_a, name_b, lev
        |FROM pairs WHERE lev <= 2""".stripMargin,

    // percolate: same derived stored queries, ALL-terms conjunctive
    // match via count-equals.
    "percolate" ->
      s"""WITH t AS (SELECT DISTINCT doc_id,
         |             unnest(list_transform($ToksSql, x -> lower(x))) AS term
         |           FROM documents),
         |qd AS (SELECT CAST(doc_id / 37 AS BIGINT) AS query_id, term FROM (
         |         SELECT doc_id, term,
         |                row_number() OVER (PARTITION BY doc_id
         |                                   ORDER BY term) AS rn
         |         FROM t WHERE doc_id % 37 = 0 AND doc_id < 370)
         |       WHERE rn <= 3),
         |qs AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_terms
         |       FROM qd GROUP BY 1),
         |m AS (SELECT qd.query_id, t.doc_id, CAST(count(*) AS BIGINT) AS hit
         |      FROM t JOIN qd USING (term) GROUP BY 1, 2)
         |SELECT m.query_id, n_terms,
         |       CAST(count(*) AS BIGINT) AS n_matching_docs,
         |       min(doc_id) AS first_match
         |FROM m JOIN qs ON qs.query_id = m.query_id
         |WHERE hit = n_terms
         |GROUP BY 1, 2""".stripMargin,

    // fuzzy_clusters: fuzzy_match's pair chain + the recursive-CTE CC
    // replay (dedup_corpus convention) + arg_min canonical rollup.
    "fuzzy_clusters" ->
      s"""WITH RECURSIVE
        |base AS (SELECT c_custkey AS id, c_name AS name FROM customer),
        |synth AS (SELECT id + 1000000 AS id,
        |                 substring(name, 1, 10) || 'X' || substring(name, 12) AS name
        |          FROM base),
        |pool AS (SELECT id, name,
        |                substring(name, length(name) - 3, 4) AS blk
        |         FROM (SELECT * FROM base UNION ALL SELECT * FROM synth)),
        |sizes AS (SELECT blk, CAST(count(*) AS BIGINT) AS cn
        |          FROM pool GROUP BY 1),
        |sp AS (SELECT p.id, p.name, p.blk,
        |              CAST('0x' || substr(md5(CAST(p.id AS VARCHAR)), 1, 15)
        |                   AS BIGINT)
        |              % CAST(floor((cn + ${Fuzzy.MaxBlock - 1}) /
        |                           ${Fuzzy.MaxBlock}.0) AS BIGINT) AS sub
        |       FROM pool p JOIN sizes USING (blk)),
        |fpairs AS (SELECT a.id AS id_a, b.id AS id_b
        |           FROM sp a JOIN sp b
        |             ON a.blk = b.blk AND a.sub = b.sub AND a.id < b.id
        |           WHERE levenshtein(a.name, b.name) <= 2),
        |und AS (SELECT id_a AS s, id_b AS d FROM fpairs
        |        UNION SELECT id_b, id_a FROM fpairs),
        |reach(node, r) AS (
        |  SELECT s, d FROM und
        |  UNION
        |  SELECT u.s, re.r FROM und u JOIN reach re ON re.node = u.d),
        |lbl AS (SELECT node, least(node, min(r)) AS grp FROM reach GROUP BY node),
        |nm AS (SELECT lbl.grp AS entity_id, lbl.node, p.name
        |       FROM lbl JOIN pool p ON p.id = lbl.node)
        |SELECT entity_id, CAST(count(*) AS BIGINT) AS cluster_size,
        |       arg_min(name, node) AS canonical_name,
        |       CAST(count(DISTINCT name) AS BIGINT) AS n_variants
        |FROM nm GROUP BY 1 HAVING count(*) >= 2""".stripMargin,

    // pq_codes: the per-subspace squared distance is the explicit
    // 8-term integer sum (machine-generated below) — identical to the
    // Spark side's LongDist2 over the same milli-unit quantization.
    "pq_codes" -> {
      val d2 = (1 to 8).map(j =>
        s"(q[s*8+$j] - cq[s*8+$j]) * (q[s*8+$j] - cq[s*8+$j])").mkString(" + ")
      s"""WITH q AS (SELECT vec_id,
         |    list_transform(embedding,
         |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS q
         |  FROM embeddings),
         |cbsel AS (SELECT vec_id, q,
         |    CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
         |  FROM q ORDER BY h, vec_id LIMIT 16),
         |cb AS (SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS code_id,
         |              q AS cq
         |       FROM cbsel),
         |pairs AS (SELECT vec_id, s, code_id, $d2 AS d2
         |          FROM q CROSS JOIN cb CROSS JOIN generate_series(0, 7) t(s)),
         |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id, s
         |                                   ORDER BY d2, code_id) AS rn
         |      FROM pairs)
         |SELECT vec_id, s AS subspace, code_id AS code, d2
         |FROM r WHERE rn <= 1""".stripMargin
    },

    "pq_topk" -> {
      val d2 = (1 to 8).map(j =>
        s"(qv.q[s*8+$j] - cq[s*8+$j]) * (qv.q[s*8+$j] - cq[s*8+$j])").mkString(" + ")
      val cd2 = (1 to 8).map(j =>
        s"(q.q[s*8+$j] - cq[s*8+$j]) * (q.q[s*8+$j] - cq[s*8+$j])").mkString(" + ")
      val ed2 = (1 to 64).map(j =>
        s"(q.q[$j] - qv.q[$j]) * (q.q[$j] - qv.q[$j])").mkString(" + ")
      s"""WITH q AS (SELECT vec_id,
         |    list_transform(embedding,
         |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS q
         |  FROM embeddings),
         |cbsel AS (SELECT vec_id, q,
         |    CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
         |  FROM q ORDER BY h, vec_id LIMIT 16),
         |cb AS (SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS code_id,
         |              q AS cq
         |       FROM cbsel),
         |pairs AS (SELECT vec_id, s, code_id, $cd2 AS d2
         |          FROM q CROSS JOIN cb CROSS JOIN generate_series(0, 7) t(s)),
         |codes AS (SELECT vec_id, s, code_id FROM (
         |            SELECT *, row_number() OVER (PARTITION BY vec_id, s
         |                                         ORDER BY d2, code_id) AS rn
         |            FROM pairs) WHERE rn <= 1),
         |qv AS (SELECT q FROM q WHERE vec_id = 0),
         |lut AS (SELECT s, code_id, CAST($d2 AS BIGINT) AS qd2
         |        FROM cb CROSS JOIN qv CROSS JOIN generate_series(0, 7) t(s)),
         |cand AS (SELECT c.vec_id, CAST(sum(l.qd2) AS BIGINT) AS adc_d2
         |         FROM codes c JOIN lut l ON c.s = l.s AND c.code_id = l.code_id
         |         GROUP BY 1 ORDER BY adc_d2, vec_id LIMIT 40)
         |SELECT cand.vec_id, adc_d2, CAST($ed2 AS BIGINT) AS exact_d2
         |FROM cand JOIN q ON q.vec_id = cand.vec_id CROSS JOIN qv
         |ORDER BY exact_d2, cand.vec_id LIMIT 10""".stripMargin
    },

    // pq_trained_topk: pq_topk's chain with 2 per-subspace Lloyd
    // rounds between the sampled init and the encode/serve — the
    // lloydCtes pattern generalized to (subspace, code) granularity;
    // sub-vector distances expand to literal 8-term sums.
    "pq_trained_topk" -> {
      def ld2(a: String, b: String) = (1 to 8).map(j =>
        s"($a.sq[$j] - $b.scv[$j]) * ($a.sq[$j] - $b.scv[$j])").mkString(" + ")
      val ed2 = (1 to 64).map(j =>
        s"(q.q[$j] - qv.q[$j]) * (q.q[$j] - qv.q[$j])").mkString(" + ")
      val lloyd = (1 to 2).map { r =>
        val p = r - 1
        s"""pa$r AS (SELECT vec_id, s, sq, code_id FROM (
           |          SELECT v.vec_id, v.s, v.sq, c.code_id,
           |                 row_number() OVER (PARTITION BY v.vec_id, v.s
           |                                    ORDER BY ${ld2("v", "c")},
           |                                             c.code_id) AS rn
           |          FROM subs v JOIN s$p c ON c.s = v.s)
           |        WHERE rn = 1),
           |pu$r AS (SELECT s, code_id, list(m ORDER BY dim) AS scv FROM (
           |          SELECT s, code_id, dim,
           |                 CASE WHEN sv >= 0 THEN (2 * sv + cn) // (2 * cn)
           |                      ELSE -((2 * -sv + cn) // (2 * cn)) END AS m
           |          FROM (SELECT s, code_id, dim, CAST(sum(v2) AS BIGINT) AS sv,
           |                       CAST(count(*) AS BIGINT) AS cn
           |                FROM (SELECT s, code_id, unnest(sq) AS v2,
           |                             generate_subscripts(sq, 1) AS dim
           |                      FROM pa$r)
           |                GROUP BY 1, 2, 3))
           |        GROUP BY 1, 2),
           |s$r AS (SELECT p.code_id, p.s, coalesce(u.scv, p.scv) AS scv
           |        FROM s$p p LEFT JOIN pu$r u
           |          ON u.s = p.s AND u.code_id = p.code_id)""".stripMargin
      }.mkString(",\n")
      s"""WITH q AS (SELECT vec_id,
         |    list_transform(embedding,
         |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS q
         |  FROM embeddings),
         |subs AS (SELECT vec_id, s, list_slice(q, s*8+1, s*8+8) AS sq
         |         FROM q CROSS JOIN generate_series(0, 7) t(s)),
         |cbsel AS (SELECT vec_id, q,
         |    CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
         |  FROM q ORDER BY h, vec_id LIMIT 16),
         |s0 AS (SELECT code_id, s, list_slice(cq, s*8+1, s*8+8) AS scv FROM (
         |         SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS code_id,
         |                q AS cq
         |         FROM cbsel) CROSS JOIN generate_series(0, 7) t(s)),
         |$lloyd,
         |codes AS (SELECT vec_id, s, code_id FROM (
         |            SELECT v.vec_id, v.s, c.code_id,
         |                   row_number() OVER (PARTITION BY v.vec_id, v.s
         |                                      ORDER BY ${ld2("v", "c")},
         |                                               c.code_id) AS rn
         |            FROM subs v JOIN s2 c ON c.s = v.s) WHERE rn = 1),
         |qsub AS (SELECT s, sq FROM subs WHERE vec_id = 0),
         |lut AS (SELECT c.s, c.code_id, CAST(${ld2("qv", "c")} AS BIGINT) AS qd2
         |        FROM s2 c JOIN qsub qv ON qv.s = c.s),
         |cand AS (SELECT c.vec_id, CAST(sum(l.qd2) AS BIGINT) AS adc_d2
         |         FROM codes c JOIN lut l ON c.s = l.s AND c.code_id = l.code_id
         |         GROUP BY 1 ORDER BY adc_d2, vec_id LIMIT 40),
         |qv AS (SELECT q FROM q WHERE vec_id = 0)
         |SELECT cand.vec_id, adc_d2, CAST($ed2 AS BIGINT) AS exact_d2
         |FROM cand JOIN q ON q.vec_id = cand.vec_id CROSS JOIN qv
         |ORDER BY exact_d2, cand.vec_id LIMIT 10""".stripMargin
    },

    // winnow_fingerprint: same 60-bit shingle hashes, the same
    // split-criterion predicate over ROWS-PRECEDING/FOLLOWING frames
    // (l left-neighbors ≥ h, r right-neighbors > h, l + r = 3, frames
    // in bounds), shared set over distinct selected hashes.
    "winnow_fingerprint" ->
      s"""WITH ct AS (SELECT doc_id, list_transform($ToksSql, t -> lower(t)) AS toks
         |            FROM documents),
         |sh AS (SELECT doc_id, s AS pos, CAST('0x' || substr(md5(
         |         array_to_string(list_slice(toks, s, s + 2), ' ')), 1, 15)
         |         AS BIGINT) AS h
         |       FROM (SELECT doc_id, toks,
         |               unnest(generate_series(1, len(toks) - 2)) AS s
         |             FROM ct)),
         |f AS (SELECT doc_id, pos, h,
         |        ${(1 to 3).map(k =>
               s"""min(h) OVER (PARTITION BY doc_id ORDER BY pos
         |          ROWS BETWEEN $k PRECEDING AND 1 PRECEDING) AS lmin$k,
         |        count(*) OVER (PARTITION BY doc_id ORDER BY pos
         |          ROWS BETWEEN $k PRECEDING AND 1 PRECEDING) AS lcnt$k,
         |        min(h) OVER (PARTITION BY doc_id ORDER BY pos
         |          ROWS BETWEEN 1 FOLLOWING AND $k FOLLOWING) AS rmin$k,
         |        count(*) OVER (PARTITION BY doc_id ORDER BY pos
         |          ROWS BETWEEN 1 FOLLOWING AND $k FOLLOWING) AS rcnt$k""")
               .mkString(",\n         |        ")}
         |      FROM sh),
         |sel AS (SELECT doc_id, h,
         |          (${(0 to 3).map { l =>
                 val r = 3 - l
                 val okL = if (l == 0) "TRUE" else s"(lcnt$l = $l AND lmin$l >= h)"
                 val okR = if (r == 0) "TRUE" else s"(rcnt$r = $r AND rmin$r > h)"
                 s"($okL AND $okR)"
               }.mkString("\n         |           OR ")}) AS sel
         |        FROM f),
         |stats AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kgrams,
         |            CAST(sum(CASE WHEN sel THEN 1 ELSE 0 END) AS BIGINT) AS n_fp
         |          FROM sel GROUP BY 1),
         |sf AS (SELECT DISTINCT doc_id, h FROM sel WHERE sel),
         |multi AS (SELECT h FROM sf GROUP BY 1 HAVING count(*) >= 2),
         |shared AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS ns
         |           FROM sf JOIN multi USING (h) GROUP BY 1)
         |SELECT stats.doc_id, n_kgrams, n_fp,
         |       CAST(coalesce(ns, 0) AS BIGINT) AS n_shared_fp,
         |       (2000000 * n_fp + n_kgrams) // (2 * n_kgrams) AS density_x1e6
         |FROM stats LEFT JOIN shared ON stats.doc_id = shared.doc_id""".stripMargin,

    // hits_scores: link_rank's edge CTE, three unrolled unnormalized
    // mutual-reinforcement half-round pairs — pure BIGINT sums.
    "hits_scores" -> {
      val hash = "CAST('0x' || substr(md5(CAST(src AS VARCHAR) || ':' || " +
        "CAST(k AS VARCHAR)), 1, 15) AS BIGINT)"
      val iters = (1 to 3).map { i =>
        s"""a$i AS (SELECT ids.doc_id, CAST(coalesce(t.v, 0) AS BIGINT) AS av
           |        FROM ids LEFT JOIN (
           |          SELECT dst, sum(hs) AS v FROM edges
           |          JOIN h${i - 1} ON h${i - 1}.doc_id = edges.src
           |          GROUP BY 1) t ON t.dst = ids.doc_id),
           |h$i AS (SELECT ids.doc_id, CAST(coalesce(t.v, 0) AS BIGINT) AS hs
           |        FROM ids LEFT JOIN (
           |          SELECT src, sum(av) AS v FROM edges
           |          JOIN a$i ON a$i.doc_id = edges.dst
           |          GROUP BY 1) t ON t.src = ids.doc_id)""".stripMargin
      }.mkString(",\n")
      s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |ids AS (SELECT doc_id FROM documents),
         |edges AS (SELECT doc_id AS src, $hash % nn.n AS dst
         |          FROM (SELECT doc_id AS src, doc_id FROM ids)
         |          CROSS JOIN nn
         |          CROSS JOIN (VALUES (1), (2), (3)) t(k)),
         |h0 AS (SELECT doc_id, CAST(1 AS BIGINT) AS hs FROM ids),
         |$iters
         |SELECT a3.doc_id, a3.av AS auth_score, h3.hs AS hub_score
         |FROM a3 JOIN h3 ON a3.doc_id = h3.doc_id""".stripMargin
    },

    // feature_mi: quality_classifier's aug corpus + labels, distinct
    // term presence, top-300-df vocab, 1e6-floored pointwise lns over
    // the exact 2×2 cells, clamped HALF_UP per-doc scale.
    "feature_mi" ->
      s"""WITH aug AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 2000000000,
         |         array_to_string(($ToksSql)[1:2], ' ')
         |  FROM documents
         |  UNION ALL
         |  SELECT doc_id + 3000000000,
         |         text || ' ' || repeat('.', length(text) // 2)
         |  FROM documents
         |  UNION ALL
         |  SELECT doc_id + 4000000000, replace(text, ' ', '') FROM documents),
         |m AS (SELECT doc_id, text, $ToksSql AS rtoks,
         |        CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS BIGINT)
         |          AS n_punct
         |      FROM aug),
         |lab AS (SELECT doc_id,
         |          NOT ((len(rtoks) < 5) OR (len(rtoks) > 50000)
         |            OR (len(rtoks) > 0 AND
         |                (CAST(length(array_to_string(rtoks, '')) AS DOUBLE) / len(rtoks) < 2.0
         |                 OR CAST(length(array_to_string(rtoks, '')) AS DOUBLE) / len(rtoks) > 15.0))
         |            OR (length(text) > 0 AND CAST(n_punct AS DOUBLE) / length(text) > 0.2))
         |            AS keep,
         |          list_transform(rtoks, t -> lower(t)) AS toks
         |        FROM m),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |               CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS npos
         |        FROM lab),
         |pres AS (SELECT DISTINCT doc_id, keep, term
         |         FROM (SELECT doc_id, keep, unnest(toks) AS term FROM lab)),
         |tc AS (SELECT term, CAST(count(*) AS BIGINT) AS df,
         |              CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n11
         |       FROM pres GROUP BY 1 ORDER BY df DESC, term LIMIT 300),
         |cells AS (SELECT term, n11, df - n11 AS n10, npos - n11 AS n01,
         |                 n - npos - (df - n11) AS n00, n, npos, df
         |          FROM tc CROSS JOIN tot),
         |mi AS (SELECT term, n11, n10, n01, n00, n,
         |         CAST(CASE WHEN n11 > 0 THEN n11 * CAST(floor(ln(
         |                CAST(n * n11 AS DOUBLE) / CAST(df * npos AS DOUBLE))
         |                * 1e6 + 0.5) AS BIGINT) ELSE 0 END
         |           + CASE WHEN n10 > 0 THEN n10 * CAST(floor(ln(
         |                CAST(n * n10 AS DOUBLE) / CAST(df * (n - npos) AS DOUBLE))
         |                * 1e6 + 0.5) AS BIGINT) ELSE 0 END
         |           + CASE WHEN n01 > 0 THEN n01 * CAST(floor(ln(
         |                CAST(n * n01 AS DOUBLE) / CAST((n - df) * npos AS DOUBLE))
         |                * 1e6 + 0.5) AS BIGINT) ELSE 0 END
         |           + CASE WHEN n00 > 0 THEN n00 * CAST(floor(ln(
         |                CAST(n * n00 AS DOUBLE) / CAST((n - df) * (n - npos) AS DOUBLE))
         |                * 1e6 + 0.5) AS BIGINT) ELSE 0 END AS BIGINT) AS mi_num
         |       FROM cells)
         |SELECT term, n11, n10, n01, n00, mi_num,
         |       (2 * greatest(mi_num, 0) + n) // (2 * n) AS mi_x1e6
         |FROM mi ORDER BY mi_num DESC, term LIMIT 50""".stripMargin,

    // kcore_decomp: same deterministic graph, 6 unrolled peeling
    // rounds (matching the Spark side's rounds = 6), final degrees +
    // the fixpoint certificate.
    "kcore_decomp" -> {
      val hash = "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || " +
        "CAST(k AS VARCHAR)), 1, 15) AS BIGINT)"
      val roundsSql = (1 to 6).map { r =>
        val p = r - 1
        s"""d$r AS (SELECT a, CAST(count(*) AS BIGINT) AS deg FROM und
           |        JOIN s$p x ON x.v = und.a JOIN s$p y ON y.v = und.b
           |        GROUP BY 1),
           |s$r AS (SELECT a AS v FROM d$r WHERE deg >= 4)""".stripMargin
      }.mkString(",\n")
      s"""WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |dir AS (SELECT doc_id AS src, $hash % n.n AS dst
         |        FROM documents CROSS JOIN n
         |        CROSS JOIN (VALUES (1), (2), (3)) t(k)),
         |und AS (SELECT DISTINCT a, b FROM (
         |          SELECT src AS a, dst AS b FROM dir WHERE src <> dst
         |          UNION ALL SELECT dst, src FROM dir WHERE src <> dst)),
         |s0 AS (SELECT doc_id AS v FROM documents),
         |$roundsSql,
         |df AS (SELECT a, CAST(count(*) AS BIGINT) AS deg FROM und
         |       JOIN s6 x ON x.v = und.a JOIN s6 y ON y.v = und.b
         |       GROUP BY 1),
         |u AS (SELECT CAST(coalesce(max(CASE WHEN deg < 4 THEN 1 ELSE 0 END), 0)
         |             AS BIGINT) AS unstable FROM df)
         |SELECT a AS doc_id, deg, (unstable = 0) AS stable
         |FROM df CROSS JOIN u""".stripMargin
    },

    // label_prop: same undirected edge set, three unrolled synchronous
    // LPA rounds, mode via row_number (count desc, label asc).
    "label_prop" -> {
      val hash = "CAST('0x' || substr(md5(CAST(src AS VARCHAR) || ':' || " +
        "CAST(k AS VARCHAR)), 1, 15) AS BIGINT)"
      val iters = (1 to 3).map { i =>
        s"""c$i AS (SELECT node, lab, CAST(count(*) AS BIGINT) AS c
           |        FROM nbr JOIN l${i - 1} ON l${i - 1}.doc_id = nbr.other
           |        GROUP BY 1, 2),
           |p$i AS (SELECT node, lab FROM (
           |          SELECT node, lab, row_number() OVER (
           |            PARTITION BY node ORDER BY c DESC, lab) AS rn
           |          FROM c$i) WHERE rn = 1),
           |l$i AS (SELECT ids.doc_id, coalesce(p$i.lab, ids.doc_id) AS lab
           |        FROM ids LEFT JOIN p$i ON p$i.node = ids.doc_id)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |ids AS (SELECT doc_id FROM documents),
         |raw AS (SELECT src AS u, $hash % nn.n AS v
         |        FROM (SELECT doc_id AS src FROM ids)
         |        CROSS JOIN nn
         |        CROSS JOIN (VALUES (1), (2), (3)) t(k)),
         |ue AS (SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
         |       FROM raw WHERE u <> v),
         |nbr AS (SELECT a AS node, b AS other FROM ue
         |        UNION ALL SELECT b, a FROM ue),
         |l0 AS (SELECT doc_id, doc_id AS lab FROM ids),
         |$iters,
         |sizes AS (SELECT lab, CAST(count(*) AS BIGINT) AS csize
         |          FROM l3 GROUP BY 1)
         |SELECT l3.doc_id, l3.lab AS community, csize
         |FROM l3 JOIN sizes USING (lab)""".stripMargin
    }
    // heavy_hitters (AnalyticsQueries) oracles in guaranteed-set form
    // since round 16: exact counts of tokens above the n/k threshold
    // plus TRUE-asserted Misra–Gries guarantee cells — the same
    // discipline as approx_distinct / approx_quantiles /
    // hll_daily_union's error-bound booleans.
  )
}
