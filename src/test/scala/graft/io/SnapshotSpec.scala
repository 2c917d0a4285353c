package graft.io

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, IsNotNull,
  IsNull, LessThanOrEqual}
import graft.SparkSpec

/** Snapshot-lake contract: as-of reads replay the log exactly, delta
  * reads surface only the inter-snapshot increment, the commit
  * protocol is crash-safe (orphan data + stale tmp are invisible;
  * version conflicts lose cleanly), and the zone-map manifest +
  * clusterBy compact turn range predicates into file pruning.
  */
class SnapshotSpec extends SparkSpec with graft.LowStatePartitions {

  private def freshLake(statsCols: Seq[String] = Seq("k")) =
    Snapshot.Lake(spark,
      Files.createTempDirectory("snap-spec-").toString, statsCols)

  /** `lo ≤ c ≤ hi` as a filter conjunction. */
  private def between(c: String, lo: Any, hi: Any) =
    Seq(GreaterThanOrEqual(c, lo), LessThanOrEqual(c, hi))

  private def fsOf(root: String) =
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def kv(lo: Long, hi: Long) = {
    import spark.implicits._
    (lo until hi).map(k => (k, s"row$k")).toDF("k", "v")
  }

  test("as-of reads: every snapshot replays exactly, overwrite included") {
    val lake = freshLake()
    assert(lake.latestVersion === -1)
    val v0 = lake.append(kv(0, 100))
    val v1 = lake.append(kv(100, 130))
    val v2 = lake.overwrite(kv(0, 130).filter(col("k") % 7 =!= 0))
    assert(Seq(v0, v1, v2) === Seq(0, 1, 2))
    assert(lake.readAsOf(0).count() === 100)
    assert(lake.readAsOf(1).count() === 130)
    val expected2 = (0L until 130L).filter(_ % 7 != 0)
    val got2 = lake.readAsOf(2).select("k").collect().map(_.getLong(0)).sorted
    assert(got2.toSeq === expected2)
    // latest == as-of latest
    assert(lake.read().count() === expected2.size)
    // time travel is STABLE after later commits
    assert(lake.readAsOf(0).count() === 100)
  }

  test("delta reads: only the inter-snapshot increment, removed files excluded") {
    val lake = freshLake()
    lake.append(kv(0, 100))
    lake.append(kv(100, 130))
    lake.overwrite(kv(500, 510))
    // v-1 → v0: the whole base
    assert(lake.readDelta(-1, 0).count() === 100)
    // v0 → v1: exactly the appended rows
    val d01 = lake.readDelta(0, 1).select("k").collect().map(_.getLong(0)).sorted
    assert(d01.toSeq === (100L until 130L))
    // v1 → v2: the overwrite's new files only
    val d12 = lake.readDelta(1, 2).select("k").collect().map(_.getLong(0)).sorted
    assert(d12.toSeq === (500L until 510L))
    // v-1 → v2 spans the overwrite: files added then removed inside the
    // window never surface — only v2's live files remain
    val dAll = lake.readDelta(-1, 2).select("k").collect().map(_.getLong(0)).sorted
    assert(dAll.toSeq === (500L until 510L))
    // empty window
    assert(lake.readDelta(1, 1).count() === 0)
  }

  test("crash-safe commit: orphan data and stale tmp are invisible; conflicts lose") {
    val lake = freshLake()
    lake.append(kv(0, 50))
    val root = new org.apache.hadoop.fs.Path(
      lake.root)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Simulate a crash between data write and publish: orphan data dir…
    kv(900, 950).write.parquet(s"${lake.root}/data/c99-deadbeef")
    // …and a stale tmp commit record.
    val tmp = new org.apache.hadoop.fs.Path(s"${lake.root}/_log/.tmp-dead")
    val out = fs.create(tmp, false)
    out.write("v\t99\nadd\tdata/c99-deadbeef/nothing.parquet\t50\n".getBytes("UTF-8"))
    out.close()
    // Readers see none of it.
    assert(lake.latestVersion === 0)
    assert(lake.read().count() === 50)
    // The next commit is unaffected and picks the next version.
    assert(lake.append(kv(50, 60)) === 1)
    assert(lake.read().count() === 60)
    // A racing writer that loses the publish gets a conflict error and
    // the log keeps the winner's record: both contend for version 2
    // via the publish primitive (two interleaved writers both read
    // latestVersion = 1).
    lake.publish(Seq("v\t2"), 2)
    val err = intercept[RuntimeException] { lake.publish(Seq("v\t2"), 2) }
    assert(err.getMessage.contains("commit conflict"))
    assert(lake.latestVersion === 2)
    // Single-writer operation simply continues past the winner.
    assert(lake.append(kv(60, 70)) === 3)
  }

  test("zone-map pruning: manifest ranges answer range predicates; clusterBy compact makes them disjoint") {
    val lake = freshLake()
    // Round-robin layout: 16 files each spanning ~the whole k range.
    lake.append(kv(0, 1600).repartition(16))
    val before = lake.pruneFiles(lake.latestVersion, between("k", 100, 199))
    val allBefore = lake.liveFiles(lake.latestVersion)
    assert(allBefore.size === 16)
    // Hash-round-robin files each span nearly the full range — pruning
    // cannot drop (almost) anything.
    assert(before.size >= 14, s"round-robin should barely prune, got ${before.size}")
    // ClusterBy compact: same rows, 16 range-ordered files.
    val v = Compact.clusterBy(lake, "k", 16)
    val files = lake.liveFiles(v)
    assert(files.size === 16)
    assert(lake.read().count() === 1600)
    // Per-file [lo, hi] are pairwise disjoint after the compact.
    val ranges = files.map(f => (f.lo("k"), f.hi("k"))).sortBy(_._1)
    ranges.zip(ranges.tail).foreach { case ((_, h1), (l2, _)) =>
      assert(h1 < l2, s"overlapping post-compact ranges: $ranges")
    }
    // The pruning experiment: a 1/16-selectivity range now touches ~1
    // file (±1 for a boundary straddle) instead of ~16.
    val after = lake.pruneFiles(v, between("k", 100, 199))
    assert(after.size <= 2, s"clustered layout should prune to ~1 file, got ${after.size}")
    // And the pruned read is correct: readWhere yields every
    // qualifying row from just the survivor files.
    assert(lake.readWhere(v, between("k", 100, 199)).count() === 100)
    // Boundary straddle + fully-out-of-range: exact rows / empty-with-schema.
    assert(lake.readWhere(v, between("k", 1590, 9999)).count() === 10)
    val out = lake.readWhere(v, between("k", 100000, 200000))
    assert(out.count() === 0 && out.columns.toSeq === Seq("k", "v"))
    // Pre-compact snapshots still read the old layout (time travel
    // across a compact).
    assert(lake.readAsOf(0).count() === 1600)
  }

  test("z-order compact: range predicates prune on BOTH dimensions") {
    import spark.implicits._
    val lake = Snapshot.Lake(spark,
      Files.createTempDirectory("snap-z-").toString, statsCols = Seq("x", "y"))
    val grid = for { x <- 0L until 64L; y <- 0L until 64L } yield (x, y)
    lake.append(grid.toDF("x", "y").repartition(16))
    val v0 = lake.latestVersion
    // Round-robin layout: slices on either dimension touch ~every file.
    assert(lake.pruneFiles(v0, between("x", 8, 23)).size >= 14)
    assert(lake.pruneFiles(v0, between("y", 8, 23)).size >= 14)
    // 1-D clusterBy on x: x prunes hard, y not at all.
    val v1 = Compact.clusterBy(lake, "x", 16)
    assert(lake.pruneFiles(v1, between("x", 8, 23)).size <= 6)
    assert(lake.pruneFiles(v1, between("y", 8, 23)).size >= 15,
      "x-clustered files all span the full y range")
    // Z-order: BOTH dimensions prune (files are ~16×16 Morton tiles;
    // a 16-wide slice crosses ~2 of 4 tile columns/rows ⇒ ~8 files).
    val v2 = Compact.zOrderBy(lake, "x", "y", 16)
    assert(lake.read().count() === 64 * 64)
    val px = lake.pruneFiles(v2, between("x", 8, 23)).size
    val py = lake.pruneFiles(v2, between("y", 8, 23)).size
    assert(px <= 10 && py <= 10,
      s"z-order must prune both dimensions: x=$px y=$py of 16")
    // The pruned read is still exact.
    assert(lake.readWhere(v2, between("x", 8, 23)).count() === 16 * 64)
    assert(lake.readWhere(v2, between("y", 8, 23)).count() === 16 * 64)
    // Time travel across the z-order compact reads the old layouts.
    assert(lake.readAsOf(v0).count() === 64 * 64)
  }

  test("upsert/delete: copy-on-write rewrites only zone-intersecting files") {
    import spark.implicits._
    val lake = freshLake()
    lake.append(kv(0, 1600).repartition(16))
    val v1 = Compact.clusterBy(lake, "k", 16) // disjoint ~100-wide ranges
    val before = lake.liveFiles(v1).map(_.path).toSet
    assert(before.size === 16)
    // Update two keys inside ONE file's range; insert two brand-new keys.
    val up = Seq((150L, "updated150"), (155L, "updated155"),
      (5000L, "new5000"), (5001L, "new5001")).toDF("k", "v")
    val v2 = lake.upsert(up, "k")
    val after = lake.liveFiles(v2).map(_.path).toSet
    assert((before intersect after).size === 15,
      "exactly one file (the 100-199 range) is rewritten; 15 keep identity")
    val r = lake.read()
    assert(r.count() === 1602)
    assert(r.filter(col("k") === 150L).select("v").head().getString(0)
      === "updated150")
    assert(r.filter(col("k") === 151L).select("v").head().getString(0)
      === "row151", "non-matched rows of the rewritten file survive")
    // Copy-on-write DELETE by key.
    val v3 = lake.deleteKeys(Seq(150L, 5000L).toDF("k"), "k")
    assert(lake.read().count() === 1600)
    assert(lake.read().filter(col("k").isin(150L, 5000L)).count() === 0)
    // Time travel across the merge: pre-upsert values intact.
    assert(lake.readAsOf(v1).filter(col("k") === 150L)
      .select("v").head().getString(0) === "row150")
    // A delete matching no zone map publishes an explicit no-op version.
    val v4 = lake.deleteKeys(Seq(99999L).toDF("k"), "k")
    assert(v4 === v3 + 1)
    assert(lake.liveFiles(v4).map(_.path).toSet
      === lake.liveFiles(v3).map(_.path).toSet)
  }

  test("changes: row-level CDC feed reads only touched files; update = delete+insert") {
    import spark.implicits._
    val lake = freshLake()
    lake.append(kv(0, 100)) // v0
    lake.append(kv(100, 130)) // v1
    val v2 = lake.upsert(
      Seq((5L, "upd5"), (500L, "new500")).toDF("k", "v"), "k")
    // v0: the whole base surfaces as inserts.
    val c0 = lake.changes(-1, 0)
    assert(c0.filter(col("_op") === "insert").count() === 100)
    assert(c0.filter(col("_op") === "delete").count() === 0)
    // v1 append: exactly the increment, no deletes.
    val c1 = lake.changes(0, 1)
    assert(c1.filter(col("_op") === "insert").select("k").collect()
      .map(_.getLong(0)).sorted.toSeq === (100L until 130L))
    assert(c1.filter(col("_op") === "delete").count() === 0)
    // v2 upsert: the rewrite's carried-over rows cancel in the diff;
    // the in-place update surfaces as its delete + insert pair.
    val c2 = lake.changes(1, v2)
    val ins = c2.filter(col("_op") === "insert").select("k", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val del = c2.filter(col("_op") === "delete").select("k", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(ins === Seq((5L, "upd5"), (500L, "new500")))
    assert(del === Seq((5L, "row5")))
    // Semantic gate independent of the file algebra: the feed equals
    // the as-of multiset diff in both directions.
    assert(lake.readAsOf(v2).exceptAll(lake.readAsOf(1)).count()
      === ins.size)
    assert(lake.readAsOf(1).exceptAll(lake.readAsOf(v2)).count()
      === del.size)
    // Incremental-scan gate: files live at BOTH ends never enter the
    // feed's scan set.
    val untouched = (lake.liveFiles(1).map(_.path).toSet
      intersect lake.liveFiles(v2).map(_.path).toSet)
    assert(untouched.nonEmpty, "fixture must have carried files")
    val scanned = c2.inputFiles.toSet
    untouched.foreach { p =>
      assert(!scanned.exists(_.endsWith(p)), s"untouched $p was scanned")
    }
    // A no-op commit (delete matching no zone map) yields an empty feed.
    val v3 = lake.deleteKeys(Seq(99999L).toDF("k"), "k")
    assert(lake.changes(v2, v3).count() === 0)
    // Empty window on the same version.
    assert(lake.changes(1, 1).count() === 0)
  }

  test("vacuum: unreferenced + orphan files go, retained snapshots still read") {
    val lake = freshLake()
    lake.append(kv(0, 100)) // v0
    lake.overwrite(kv(200, 250)) // v1 — v0's files now unreferenced at v1
    lake.append(kv(250, 260)) // v2
    // Orphan from a crashed commit: data written, never published.
    kv(900, 950).write.parquet(s"${lake.root}/data/c99-orphan")
    val deleted = lake.vacuum(keepSnapshots = 2) // keep v1..v2
    assert(deleted > 0, "must delete v0's files and the orphan")
    // Retained snapshots read fully.
    assert(lake.readAsOf(1).count() === 50)
    assert(lake.readAsOf(2).count() === 60)
    // The horizon is real: v0's data is gone (log remains, data doesn't).
    val v0Live = lake.liveFiles(0)
    val fs = new org.apache.hadoop.fs.Path(lake.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(v0Live.forall(f => !fs.exists(
      new org.apache.hadoop.fs.Path(s"${lake.root}/${f.path}"))))
    // Idempotent: nothing else to delete.
    assert(lake.vacuum(keepSnapshots = 2) === 0)
  }

  test("optimistic concurrency: racing pure appends all land; rewrites still lose loudly") {
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val lake = freshLake()
    // 8 writers race 8 disjoint appends — appends commute (Delta's
    // conflict rule), so every one must land, retrying through version
    // conflicts rather than failing.
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = (0 until 8).map { i =>
        Future(lake.append(kv(i * 100L, i * 100L + 100L)))
      }
      val versions = Await.result(Future.sequence(futures), 120.seconds)
      assert(versions.sorted === (0 until 8))
      assert(lake.read().count() === 800)
      assert(lake.read().select("k").distinct().count() === 800)
    } finally pool.shutdown()
    // A REMOVING commit computed against a stale head must not retry
    // blindly: steal its version slot and watch it fail loudly.
    val lv = lake.latestVersion
    lake.publish(Seq(s"v\t${lv + 1}"), lv + 1) // the racing writer wins
    // overwrite recomputes from the CURRENT head internally, so to
    // pin the stale-slot failure we race at the publish layer again:
    val thrown = intercept[RuntimeException] {
      lake.publish(Seq(s"v\t${lv + 1}", "rm\tdata/nope"), lv + 1)
    }
    assert(thrown.getMessage.contains("commit conflict"))
  }

  test("MOR delete: deletion vectors skip rows, nothing rewrites, CDC/COW/restore/vacuum compose") {
    import spark.implicits._
    val lake = freshLake()
    lake.append(kv(0, 100)) // v0
    lake.append(kv(100, 130)) // v1
    val filesAt1 = lake.liveFiles(1).map(_.path)
    val v2 = lake.deleteKeysMor(Seq(5L, 50L, 105L).toDF("k"), "k")
    assert(v2 === 2)
    // No data file rewritten: same live paths, rows now skip via DV.
    assert(lake.liveFiles(2).map(_.path) === filesAt1)
    assert(lake.read().count() === 127)
    assert(lake.read().filter(col("k").isin(5L, 50L, 105L)).count() === 0)
    // Time travel below the DV still sees the rows.
    assert(lake.readAsOf(1).count() === 130)
    // CDC across a MOR commit = exactly the deleted rows, as deletes.
    val cdc2 = lake.changes(1, 2)
    assert(cdc2.filter(col("_op") === "insert").count() === 0)
    assert(cdc2.filter(col("_op") === "delete")
      .select("k").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(5L, 50L, 105L))
    // A second MOR delete carries the first's positions forward.
    lake.deleteKeysMor(Seq(6L, 106L).toDF("k"), "k") // v3
    assert(lake.read().count() === 125)
    assert(lake.read().filter(col("k").isin(5L, 6L, 50L, 105L, 106L))
      .count() === 0)
    // Zone-pruned range reads apply the DV too.
    assert(lake.readWhere(3, between("k", 0, 10)).select("k")
      .collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(0L, 1L, 2L, 3L, 4L, 7L, 8L, 9L, 10L))
    // COW upsert over DV'd files must not resurrect MOR-deleted rows.
    lake.upsert(Seq((7L, "upd")).toDF("k", "v"), "k") // v4
    assert(lake.read().count() === 125)
    assert(lake.read().filter(col("k").isin(5L, 6L)).count() === 0)
    assert(lake.read().filter(col("v") === "upd").count() === 1)
    // No-match MOR delete publishes an audit no-op version.
    val v5 = lake.deleteKeysMor(Seq(999999L).toDF("k"), "k")
    assert(v5 === 5 && lake.read().count() === 125)
    // Restore to a DV'd snapshot round-trips the pointers.
    val v6 = lake.restore(3)
    assert(lake.read().orderBy("k").collect().toSeq ===
      lake.readAsOf(3).orderBy("k").collect().toSeq)
    assert(v6 === 6 && lake.read().count() === 125)
    // Vacuum keeps DV files the horizon references; reads stay whole.
    lake.vacuum(keepSnapshots = 1)
    assert(lake.read().count() === 125)
    assert(lake.read().filter(col("k").isin(5L, 6L, 50L)).count() === 0)
    // A rewrite commit purges DVs (the compact-retires-DVs contract).
    Compact.clusterBy(lake, "k", 4)
    assert(lake.liveState(lake.latestVersion).forall(_._2.isEmpty))
    assert(lake.read().count() === 125)
  }

  test("MOR upsert: DV-mask + append in one atomic commit; CDC emits the update pair") {
    import spark.implicits._
    val lake = freshLake()
    lake.append(kv(0, 100)) // v0
    val v1 = lake.upsertMor(Seq((5L, "upd"), (200L, "new")).toDF("k", "v"), "k")
    assert(v1 === 1)
    // Old data files untouched (MOR: mask + append, never rewrite).
    assert(lake.liveFiles(0).map(_.path).toSet
      .subsetOf(lake.liveFiles(1).map(_.path).toSet))
    assert(lake.read().count() === 101)
    val got = lake.read().filter(col("k").isin(5L, 200L)).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq === Seq((5L, "upd"), (200L, "new")))
    // CDC across the merge: the update is its delete + insert pair,
    // the fresh key is insert-only.
    val cdc = lake.changes(0, 1)
    assert(cdc.filter(col("_op") === "delete").select("k", "v")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((5L, "row5")))
    assert(cdc.filter(col("_op") === "insert").count() === 2)
    // MOR ops chain: a later MOR delete masks the UPSERTED row too
    // (the new file carries k stats and zone-touches like any other).
    lake.deleteKeysMor(Seq(5L).toDF("k"), "k") // v2
    assert(lake.read().filter(col("k") === 5L).count() === 0)
    assert(lake.read().count() === 100)
  }

  test("restore: metadata-only rollback, history kept, inverse CDC, zone maps carried") {
    val lake = freshLake()
    lake.append(kv(0, 100)) // v0
    lake.append(kv(100, 130)) // v1
    import spark.implicits._
    lake.deleteKeys(Seq(5L, 50L, 105L).toDF("k"), "k") // v2
    lake.upsert((0L until 10L).map(k => (k, "upd")).toDF("k", "v"), "k") // v3
    val dataDirs = {
      val fs = new org.apache.hadoop.fs.Path(lake.root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      () => fs.listStatus(
        new org.apache.hadoop.fs.Path(s"${lake.root}/data")).count(_.isDirectory)
    }
    val before = dataDirs()
    val v4 = lake.restore(1)
    assert(v4 === 4)
    // Metadata-only: the rollback wrote NO data directory.
    assert(dataDirs() === before)
    // The restored head equals snapshot 1 exactly.
    assert(lake.read().orderBy("k").collect().toSeq ===
      lake.readAsOf(1).orderBy("k").collect().toSeq)
    assert(lake.read().count() === 130)
    // History kept: versions under the rollback still time-travel.
    assert(lake.readAsOf(2).count() === 127)
    assert(lake.readAsOf(3).filter(col("v") === "upd").count() === 10)
    // CDC across the restore is the INVERSE of commits 2+3: the three
    // deleted keys resurrect as inserts with their original rows, the
    // ten updated rows flip back (delete "upd", insert "rowK").
    val cdc = lake.changes(3, 4)
    val ins = cdc.filter(col("_op") === "insert")
    val del = cdc.filter(col("_op") === "delete")
    assert(ins.filter(col("v") === "upd").count() === 0)
    assert(del.filter(col("v") === "upd").count() === 10)
    assert(ins.filter(col("k").isin(5L, 50L, 105L)).count() === 3)
    // Zone maps survive the addLine round-trip: the restored manifest
    // still prunes (k ranges were statted at the original commits).
    val pruned = lake.pruneFiles(4, between("k", 100, 105))
    assert(pruned.nonEmpty && pruned.size < lake.liveFiles(4).size,
      "restored head must keep per-file k stats and prune on them")
    // Restore past the vacuum horizon fails loudly.
    lake.vacuum(keepSnapshots = 1)
    intercept[IllegalArgumentException](lake.restore(3))
  }

  test("nested additive evolution: struct columns gain fields metadata-only; old files null-fill; rename/drop of inner fields refuse") {
    import spark.implicits._
    import org.apache.spark.sql.types.StructType
    val root = Files.createTempDirectory("snap-nested-").toString
    def open() = Snapshot.Lake(spark, root, statsCols = Seq("k"),
      checkpointInterval = 2)
    val lake = open()
    lake.append(Seq((1L, ("a1", 10L)), (2L, ("a2", 20L)))
      .toDF("k", "props")
      .selectExpr("k", "named_struct('a', props._1, 'n', props._2) AS props")) // v0
    val cur = lake.tableSchema.get
    // widen props with a new nested field `b` — ONE metadata commit
    val widened = StructType(cur.fields.map { f =>
      if (f.name == "props") f.copy(dataType = StructType(
        f.dataType.asInstanceOf[StructType].fields :+
          org.apache.spark.sql.types.StructField("b",
            org.apache.spark.sql.types.StringType)))
      else f
    })
    val filesBefore = lake.liveFiles(lake.latestVersion).map(_.path)
    val v1 = lake.evolveSchema(widened) // v1
    assert(lake.liveFiles(v1).map(_.path) === filesBefore,
      "nested evolution must be metadata-only")
    // post-evolution appends carry the widened struct; the OLD shape
    // now refuses (the write gate is exact)
    lake.append(Seq((3L, ("a3", 30L, "b3"))).toDF("k", "props")
      .selectExpr("k", "named_struct('a', props._1, 'n', props._2, " +
        "'b', props._3) AS props")) // v2 (crosses the interval-2 checkpoint)
    intercept[Exception](lake.append(
      Seq((4L, ("a4", 40L))).toDF("k", "props")
        .selectExpr("k",
          "named_struct('a', props._1, 'n', props._2) AS props")))
    // old files NULL-FILL the new nested field (parquet schema
    // clipping under the explicit read schema), new files carry it —
    // through a REOPENED handle, so the widened meta line survived the
    // checkpoint render→parse round-trip
    val re = open()
    val rows = re.read().selectExpr("k", "props.a", "props.n", "props.b")
      .as[(Long, String, Long, Option[String])].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq(1L, 2L, 3L))
    assert(rows.map(_._4).toSeq === Seq(None, None, Some("b3")))
    assert(rows.map(_._2).toSeq === Seq("a1", "a2", "a3"),
      "pre-evolution nested values must survive the widening")
    // time travel reads pre-evolution snapshots under their own shape
    assert(!re.readAsOf(0).selectExpr("props.*").columns.contains("b"))
    // non-additive nested changes refuse: dropping or retyping an
    // inner field is a type change
    intercept[IllegalArgumentException](re.evolveSchema(StructType(
      widened.fields.map(f => if (f.name == "props")
        f.copy(dataType = StructType(f.dataType
          .asInstanceOf[StructType].fields.filter(_.name != "a")))
      else f))))
    // top-level rename of the whole struct column still works (the
    // mapping tier is top-level); zone pruning on k unaffected
    re.renameColumn("props", "attrs")
    assert(open().read().selectExpr("attrs.b").count() === 3)
    // ADDED fields record deep-nullable even when the caller spells
    // them NOT NULL: old files null-fill, so a recorded non-null flag
    // would lie to readers (deepNullable/mergeWidened — exercised
    // DIRECTLY here with nullable = false, which the SQL door never
    // sends)
    val h = open()
    val cur2 = h.tableSchema.get
    h.evolveSchema(StructType(cur2.fields.map { f =>
      if (f.name == "attrs") f.copy(dataType = StructType(
        f.dataType.asInstanceOf[StructType].fields :+
          org.apache.spark.sql.types.StructField("c",
            org.apache.spark.sql.types.LongType, nullable = false)))
      else f
    } :+ org.apache.spark.sql.types.StructField("top",
      org.apache.spark.sql.types.LongType, nullable = false)))
    val rec = open().tableSchema.get
    assert(rec.fields.find(_.name == "top").get.nullable,
      "added top-level columns record nullable")
    assert(rec.fields.find(_.name == "attrs").get.dataType
      .asInstanceOf[StructType].fields.find(_.name == "c").get.nullable,
      "added nested fields record nullable")
  }

  test("restore reinstates table properties (Delta's metaData.configuration rollback)") {
    val lake = freshLake()
    lake.append(kv(0, 10)) // v0
    lake.setProperties(Map("tier" -> "bronze", "keep" -> "x")) // v1
    lake.setProperties(Map("tier" -> "gold")) // v2: changed after v1
    lake.setProperties(Map("owner" -> "etl")) // v3: added after v1
    lake.unsetProperties(Seq("keep")) // v4: removed after v1
    assert(lake.tableProperties ===
      Map("tier" -> "gold", "owner" -> "etl"))
    val rv = lake.restore(1) // v5
    assert(lake.tableProperties ===
      Map("tier" -> "bronze", "keep" -> "x"),
      "restore(v) must reinstate v's properties: changed keys roll " +
        "back, later-added keys unset, later-removed keys return")
    // History still reads the intermediate configurations, and a
    // property-only restore survives the checkpoint fold.
    assert(rv === 5)
    lake.append(kv(10, 20)) // v6 (interval-4 lakes checkpoint here)
    assert(lake.tableProperties("tier") === "bronze")
  }

  test("Bloom manifest: point lookups skip hash-scattered files zone maps can't") {
    import spark.implicits._
    val lake = Snapshot.Lake(spark,
      Files.createTempDirectory("snap-bloom-").toString,
      statsCols = Seq("k"), bloomCols = Seq("tag"))
    // 16 appends whose `tag` sets are disjoint by construction — a
    // string column has no zone map, so range pruning gets nothing;
    // the per-file Bloom is the only manifest-level skip available.
    (0 until 16).foreach { i =>
      lake.append((0 until 50).map(j => (i * 100L + j, s"tag-$i-$j"))
        .toDF("k", "tag"))
    }
    val lv = lake.latestVersion
    val total = lake.liveFiles(lv).size
    val pruned = lake.pruneFiles(lv, Seq(EqualTo("tag", "tag-7-13")))
    assert(pruned.nonEmpty && pruned.size < total / 2,
      s"bloom must skip most of $total files, kept ${pruned.size}")
    // No false negatives: the pruned read finds exactly the row.
    assert(lake.readWhere(lv, Seq(EqualTo("tag", "tag-7-13"))).select("k")
      .collect().map(_.getLong(0)).toSeq === Seq(713L))
    // Absent value: zero rows, whatever the false-positive draw.
    assert(lake.readWhere(lv, Seq(EqualTo("tag", "tag-99-99"))).count() === 0)
    // Deletion vectors apply inside the pruned read.
    lake.deleteKeysMor(Seq(713L).toDF("k"), "k")
    assert(lake.readWhere(lake.latestVersion, Seq(EqualTo("tag", "tag-7-13"))).count() === 0)
    // Restore round-trips the serialized filters bit-exactly.
    val rv = lake.restore(lv)
    assert(lake.pruneFiles(rv, Seq(EqualTo("tag", "tag-7-13"))).map(_.path).sorted ===
      pruned.map(_.path).sorted)
    assert(lake.readWhere(rv, Seq(EqualTo("tag", "tag-7-13"))).count() === 1)
  }

  test("CHECK constraints: validate-then-publish, violating writes never become versions") {
    import spark.implicits._
    val lake = freshLake()
    lake.append(kv(0, 100)) // v0
    // ADD CONSTRAINT validates the EXISTING table first (Delta's
    // contract) — k reaches 99, so k < 50 must be refused.
    intercept[IllegalArgumentException](
      lake.addConstraint("k_small", "k < 50"))
    val v1 = lake.addConstraint("k_nonneg", "k >= 0")
    assert(v1 === 1)
    assert(lake.constraints === Seq(("k_nonneg", "k >= 0")))
    // Duplicate names refused; clean appends pass.
    intercept[IllegalArgumentException](
      lake.addConstraint("k_nonneg", "k >= 0"))
    lake.append(kv(100, 110)) // v2
    assert(lake.read().count() === 110)
    // A violating append throws, publishes NO version, leaves no rows.
    val before = lake.latestVersion
    intercept[RuntimeException](
      lake.append(Seq((-1L, "bad")).toDF("k", "v")))
    assert(lake.latestVersion === before)
    assert(lake.read().count() === 110)
    // NULL counts as a violation (stricter than SQL CHECK, by design).
    intercept[RuntimeException](
      lake.append(Seq((Option.empty[Long], "n")).toDF("k", "v")))
    assert(lake.latestVersion === before)
    // The guard covers every data-writing path — MOR merge included.
    intercept[RuntimeException](
      lake.upsertMor(Seq((-5L, "bad")).toDF("k", "v"), "k"))
    assert(lake.latestVersion === before)
    assert(lake.read().count() === 110)
    // Constraints replay from the log: a fresh handle sees them.
    val reopened = Snapshot.Lake(spark, lake.root, Seq("k"))
    assert(reopened.constraints === Seq(("k_nonneg", "k >= 0")))
    intercept[RuntimeException](
      reopened.append(Seq((-2L, "bad")).toDF("k", "v")))
  }

  test("CHECK constraints: a zero-data-file commit (delete-only CDC batch) is not aborted") {
    import spark.implicits._
    val lake = freshLake()
    lake.append(kv(0, 100)) // v0
    lake.addConstraint("k_nonneg", "k >= 0") // v1
    // A delete-only CDC micro-batch writes NO data files; zero rows
    // cannot violate a constraint, so the commit must land instead of
    // aborting on schema inference over a part-less directory.
    val delOnly = Seq((5L, "row5", "delete"), (50L, "row50", "delete"))
      .toDF("k", "v", "_op")
    val v = lake.applyCdcMor(delOnly, "k", "wA", 0L)
    assert(v === Some(2))
    assert(lake.read().count() === 98)
    assert(lake.read().filter(col("k").isin(5L, 50L)).count() === 0)
    // Same guard on a no-match MOR upsert whose frame is empty.
    val v2 = lake.upsertMor(
      Seq.empty[(Long, String)].toDF("k", "v"), "k")
    assert(v2 === 3)
    assert(lake.read().count() === 98)
  }

  test("schema evolution: added column reads as union, null-filled for old files") {
    import spark.implicits._
    val lake = freshLake()
    lake.append(kv(0, 10)) // v0: (k, v) — records the table schema
    val wide = Seq((10L, "row10", "amber"), (11L, "row11", "basalt"))
      .toDF("k", "v", "tag")
    // Write-side enforcement (Delta's contract): the widened append is
    // refused until an explicit additive evolution commit lands.
    val e = intercept[RuntimeException](lake.append(wide))
    assert(e.getMessage.contains("schema mismatch") &&
      e.getMessage.contains("tag"))
    assert(lake.latestVersion === 0, "refused write published no version")
    lake.evolveSchema(wide.schema) // v1: metadata-only evolution commit
    lake.append(wide) // v2 adds `tag` data
    val r = lake.read()
    assert(r.columns.sorted.toSeq === Seq("k", "tag", "v"))
    assert(r.count() === 12)
    assert(r.filter(col("k") < 10 && col("tag").isNull).count() === 10,
      "pre-evolution rows null-fill the new column")
    assert(r.filter(col("k") === 10L).select("tag").head().getString(0)
      === "amber")
    // Time travel to the pre-evolution snapshot sees the narrow schema.
    assert(lake.readAsOf(0).columns.sorted.toSeq === Seq("k", "v"))
    // The CDC feed over the evolving window carries the union schema.
    val c = lake.changes(0, 2)
    assert(c.columns.contains("tag") &&
      c.filter(col("_op") === "insert").count() === 2)
    // Type-changing writes and evolutions are refused, not coerced.
    val retyped = Seq((12L, "row12", 9L)).toDF("k", "v", "tag")
    val e2 = intercept[RuntimeException](lake.append(retyped))
    assert(e2.getMessage.contains("type change"))
    intercept[IllegalArgumentException](lake.evolveSchema(retyped.schema))
    // A missing column is refused too (appends carry the full schema).
    val e3 = intercept[RuntimeException](
      lake.append(Seq(13L).toDF("k")))
    assert(e3.getMessage.contains("missing column"))
    // Dropping a column is not additive.
    intercept[IllegalArgumentException](
      lake.evolveSchema(Seq((1L, "x")).toDF("k", "v").schema))
    // The recorded schema replays from the log for a fresh handle.
    val reopened = Snapshot.Lake(spark, lake.root, Seq("k"))
    assert(reopened.tableSchema.map(_.fieldNames.sorted.toSeq)
      === Some(Seq("k", "tag", "v")))
    intercept[RuntimeException](reopened.append(retyped))
    // PRIMITIVE evolved column: the frame that records it is
    // non-nullable (Scala Double), but pre-evolution rows still
    // null-fill — the read schema must relax nullability or IS NULL
    // constant-folds to false over genuine backfill.
    val scored = Seq((20L, "row20", "zinc", 9.5))
      .toDF("k", "v", "tag", "score")
    lake.evolveSchema(scored.schema)
    lake.append(scored)
    assert(lake.read().filter(col("k") < 20 && col("score").isNull)
      .count() === 12, "pre-evolution rows must read NULL score")
  }

  test("column mapping: rename/drop are metadata-only; history, pruning and MOR compose") {
    import spark.implicits._
    val lake = freshLake()
    lake.append(kv(0, 100))   // v0: (k, v), records schema
    lake.append(kv(100, 200)) // v1
    def dataFiles() = {
      val it = fsOf(lake.root).listFiles(
        new org.apache.hadoop.fs.Path(lake.root, "data"), true)
      val b = Seq.newBuilder[String]
      while (it.hasNext) b += it.next().getPath.toString
      b.result().filter(_.endsWith(".parquet")).sorted
    }
    val filesBefore = dataFiles()

    // RENAME is metadata-only: no data file added, removed or touched.
    val vr = lake.renameColumn("v", "label") // v2
    assert(vr === 2)
    assert(dataFiles() === filesBefore, "rename must not touch data files")
    val h = lake.describeHistory(vr, vr).head()
    assert(h.getAs[Int]("n_added") === 0 && h.getAs[Int]("n_removed") === 0)
    // Reads surface the NEW logical name with the same values.
    val r = lake.read()
    assert(r.columns.sorted.toSeq === Seq("k", "label"))
    assert(r.filter(col("k") === 7L).select("label").head().getString(0)
      === "row7")
    // Time travel BEFORE the rename reads under the OLD name.
    assert(lake.readAsOf(1).columns.sorted.toSeq === Seq("k", "v"))
    assert(lake.readAsOf(1).filter(col("k") === 7L)
      .select("v").head().getString(0) === "row7")
    // CDC across the rename window: no file membership changed, so
    // the feed is EMPTY (a rename never manufactures change rows) —
    // and it carries the post-rename logical columns.
    val cdc = lake.changes(1, 2)
    assert(cdc.count() === 0)
    assert(cdc.columns.sorted.toSeq === Seq("_op", "k", "label"))

    // Appends carry the new logical schema; the OLD name is refused.
    lake.append(Seq((200L, "row200")).toDF("k", "label")) // v3
    val eOld = intercept[RuntimeException](
      lake.append(Seq((201L, "x")).toDF("k", "v")))
    assert(eOld.getMessage.contains("schema mismatch"))
    assert(lake.read().count() === 201)

    // Zone-map pruning on the (stable-physical) stats column still
    // prunes: the k=150 probe must not open v0's file.
    val pruned = lake.pruneFiles(lake.latestVersion, between("k", 150L, 150L))
    assert(pruned.size < lake.liveFiles(lake.latestVersion).size,
      "rename must not invalidate the zone-map tier")
    assert(lake.readWhere(lake.latestVersion, between("k", 150L, 150L)).count() === 1)

    // MOR delete keyed by the RENAMED column composes.
    lake.deleteKeysMor(Seq("row7").toDF("label"), "label") // v4
    assert(lake.read().filter(col("label") === "row7").count() === 0)
    assert(lake.read().count() === 200)
    // CDC across a window containing the rename AND row changes:
    // the feed projects both sides to the window-end LOGICAL schema,
    // so exactly the real changes surface — the v3 insert and the v4
    // MOR delete — under the new name, with zero rename noise.
    val cdc2 = lake.changes(1, 4)
    assert(cdc2.columns.sorted.toSeq === Seq("_op", "k", "label"))
    val ops = cdc2.select(col("_op"), col("k"), col("label")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(ops === Set(("insert", 200L, "row200"), ("delete", 7L, "row7")))

    // DROP hides the column without rewriting anything.
    val before = dataFiles()
    val vd = lake.dropColumn("label") // v5
    assert(dataFiles() === before, "drop must not rewrite data files")
    assert(lake.read().columns.toSeq === Seq("k"))
    // ... but pre-drop snapshots still time-travel WITH it.
    assert(lake.readAsOf(vd - 1).columns.sorted.toSeq === Seq("k", "label"))

    // Re-adding the dropped logical name binds a FRESH physical
    // column: old files' stored values can never resurrect.
    lake.evolveSchema(org.apache.spark.sql.types.StructType(
      lake.tableSchema.get.fields :+
        org.apache.spark.sql.types.StructField("label",
          org.apache.spark.sql.types.StringType))) // v6
    assert(lake.read().filter(col("label").isNotNull).count() === 0,
      "dropped values must not resurrect under the re-added name")
    lake.append(Seq((999L, "fresh")).toDF("k", "label")) // v7
    assert(lake.read().filter(col("label") === "fresh").count() === 1)
    assert(lake.read().filter(col("label").isNotNull).count() === 1)

    // Refusals: collision, unknown column, last column, no-op.
    intercept[IllegalArgumentException](lake.renameColumn("k", "label"))
    intercept[IllegalArgumentException](lake.renameColumn("ghost", "g2"))
    intercept[IllegalArgumentException](lake.renameColumn("k", "k"))
    // A column referenced by an active CHECK constraint can be
    // neither renamed nor dropped (the constraint SQL binds its
    // LOGICAL name; a rename would break analysis on the next commit
    // and a drop would brick every future write — Delta refuses the
    // same way). Unreferenced columns stay free to move.
    lake.addConstraint("k_nonneg", "k >= 0")
    val eRc = intercept[IllegalArgumentException](
      lake.renameColumn("k", "key"))
    assert(eRc.getMessage.contains("k_nonneg"))
    intercept[IllegalArgumentException](lake.dropColumn("k"))
    lake.dropColumn("label") // unreferenced: still allowed
    intercept[IllegalArgumentException](lake.dropColumn("k"))

    // A fresh handle replays the mapping from the log.
    val reopened = Snapshot.Lake(spark, lake.root, Seq("k"))
    assert(reopened.read().columns.toSeq === Seq("k"))
    assert(reopened.readAsOf(1).columns.sorted.toSeq === Seq("k", "v"))
  }

  test("column mapping: partition-column rename and clusterBy compact compose") {
    import spark.implicits._
    // Partitioned lake: rename the partition column, keep appending
    // under the new logical name — the hive layout and the `part:`
    // manifest tier ride the STABLE physical name throughout.
    val root = Files.createTempDirectory("snap-cmap2-").toString
    def open(partCol: String) = Snapshot.Lake(spark, root,
      statsCols = Seq("k"), partitionCols = Seq(partCol))
    val lake = open("bucket")
    def rows(lo: Long, hi: Long) =
      (lo until hi).map(k => (k, k % 3, s"row$k")).toDF("k", "bucket", "v")
    lake.append(rows(0, 60))              // v0, partitioned on bucket
    lake.renameColumn("bucket", "shard")  // v1, metadata-only
    // The STALE handle (partitionCols still says "bucket") keeps
    // appending: the config name translates through the stable
    // physical name at commit time, so a rename never wedges writers
    // holding pre-rename handles. The frame itself must carry the new
    // LOGICAL name (the write-schema gate's contract).
    lake.append(rows(60, 120).withColumnRenamed("bucket", "shard")) // v2
    val renamed = open("shard")           // reopened config: new name
    // ... and the stale handle cannot drop the renamed partition
    // column either (refusal matches by physical name).
    intercept[IllegalArgumentException](lake.dropColumn("shard"))
    // Partition pruning by the NEW logical name spans BOTH eras.
    val v = renamed.latestVersion
    val kept = renamed.pruneFiles(v, Seq(EqualTo("shard", 1L)))
    assert(kept.nonEmpty && kept.size < renamed.liveFiles(v).size,
      "partition tier must keep pruning across the rename")
    val p1 = renamed.readWhere(v, Seq(EqualTo("shard", 1L)))
    assert(p1.count() === 40, "both eras' shard=1 rows must surface")
    assert(p1.columns.sorted.toSeq === Seq("k", "shard", "v"))
    // clusterBy compact AFTER a rename: reads logical, rewrites
    // through commit's logical→physical translation, stays readable
    // and keeps the values.
    val lake2 = Snapshot.Lake(spark,
      Files.createTempDirectory("snap-cmap3-").toString, Seq("k"))
    lake2.append((0L until 200L).map(k => (k, s"p$k")).toDF("k", "payload"))
    lake2.renameColumn("payload", "body")
    Compact.clusterBy(lake2, "k", nFiles = 4)
    assert(lake2.read().columns.sorted.toSeq === Seq("body", "k"))
    assert(lake2.read().count() === 200)
    assert(lake2.read().filter(col("k") === 5L)
      .select("body").head().getString(0) === "p5")
    // The rewrite's zone maps landed under the stable physical key:
    // a narrow range opens a strict subset.
    val keptZ = lake2.pruneFiles(lake2.latestVersion, between("k", 0L, 10L))
    assert(keptZ.size < lake2.liveFiles(lake2.latestVersion).size)
  }

  test("column mapping: a deep rename chain folds through checkpoints at O(interval) parses") {
    import spark.implicits._
    val lake = Snapshot.Lake(spark,
      Files.createTempDirectory("snap-cmap4-").toString,
      statsCols = Seq("k"), checkpointInterval = 10)
    lake.append((0L until 30L).map(k => (k, s"row$k")).toDF("k", "v"))
    // 25 chained renames: v -> v1 -> v2 -> ... (metadata-only commits
    // crossing two checkpoint folds at v10 and v20) — the mapping
    // must survive the checkpoint meta line, and the physical column
    // stays the ORIGINAL `v` throughout.
    (1 to 25).foreach(i =>
      lake.renameColumn(if (i == 1) "v" else s"v${i - 1}", s"v$i"))
    assert(lake.latestVersion === 25)
    val reopened = Snapshot.Lake(spark, lake.root,
      statsCols = Seq("k"), checkpointInterval = 10)
    Snapshot.logFilesParsed.set(0L)
    val r = reopened.read()
    assert(r.columns.sorted.toSeq === Seq("k", "v25"))
    assert(r.filter(col("k") === 7L).select("v25").head().getString(0)
      === "row7")
    assert(Snapshot.logFilesParsed.get() <= 12L,
      s"mapped read parsed ${Snapshot.logFilesParsed.get()} log files; " +
        "checkpoint + suffix must bound this, renames included")
    // Appends under the 25th name still land (physical stays `v`).
    reopened.append(Seq((30L, "row30")).toDF("k", "v25"))
    assert(reopened.read().count() === 31)
    // Time travel to mid-chain reads under THAT era's name.
    assert(reopened.readAsOf(13).columns.sorted.toSeq === Seq("k", "v13"))
  }

  test("dropConstraint: retired CHECKs stop validating, fold survives checkpoints, recovery composes") {
    import spark.implicits._
    val lake = Snapshot.Lake(spark,
      Files.createTempDirectory("snap-uncon-").toString,
      statsCols = Seq("k"), checkpointInterval = 3)
    lake.append((0L until 10L).map(k => (k, s"row$k")).toDF("k", "v")) // v0
    lake.addConstraint("k_cap", "k < 100") // v1
    intercept[RuntimeException](
      lake.append(Seq((500L, "big")).toDF("k", "v")))
    // ... and the constrained column is pinned (the refusal the
    // recovery path exists for).
    intercept[IllegalArgumentException](lake.renameColumn("k", "key"))
    val vd = lake.dropConstraint("k_cap") // v2
    assert(vd === 2 && lake.constraints.isEmpty)
    lake.append(Seq((500L, "big")).toDF("k", "v")) // v3 — lands now
    assert(lake.read().count() === 11)
    // The formerly pinned column is free again.
    lake.renameColumn("k", "key") // v4
    // Re-adding under the new name enforces from here on (validates
    // the existing rows first — 500 passes the looser cap).
    lake.addConstraint("key_cap", "key < 1000") // v5
    intercept[RuntimeException](
      lake.append(Seq((5000L, "huge")).toDF("key", "v")))
    // The drop folds through the v3 checkpoint for a fresh handle.
    val reopened = Snapshot.Lake(spark, lake.root,
      statsCols = Seq("k"), checkpointInterval = 3)
    assert(reopened.constraints.map(_._1) === Seq("key_cap"))
    // History names the operation.
    assert(lake.describeHistory(vd, vd).head().getString(1)
      === "dropConstraint")
    // Unknown names are refused.
    intercept[IllegalArgumentException](lake.dropConstraint("ghost"))
  }

  test("column mapping: RESTORE across a rename rolls the logical names back") {
    import spark.implicits._
    val lake = freshLake()
    lake.append((0L until 50L).map(k => (k, s"row$k")).toDF("k", "v")) // v0
    lake.renameColumn("v", "label") // v1
    lake.append(Seq((50L, "row50")).toDF("k", "label")) // v2
    assert(lake.read().columns.sorted.toSeq === Seq("k", "label"))
    // RESTORE to the pre-rename snapshot: the Delta semantic rolls
    // the TABLE SCHEMA back too — reads and appends return to the
    // old logical name; the physical column (and v0's data files)
    // never moved.
    val rv = lake.restore(0) // v3
    assert(lake.read().columns.sorted.toSeq === Seq("k", "v"))
    assert(lake.read().count() === 50)
    assert(lake.read().filter(col("k") === 7L)
      .select("v").head().getString(0) === "row7")
    // Post-restore appends are validated against the restored shape.
    lake.append(Seq((51L, "row51")).toDF("k", "v")) // v4
    val e = intercept[RuntimeException](
      lake.append(Seq((52L, "x")).toDF("k", "label")))
    assert(e.getMessage.contains("schema mismatch"))
    // The renamed era still time-travels under ITS name.
    assert(lake.readAsOf(2).columns.sorted.toSeq === Seq("k", "label"))
    assert(lake.readAsOf(2).count() === 51)
    assert(rv === 3 && lake.latestVersion === 4)
  }

  test("describeDetail: one manifest-level summary row, zero data I/O") {
    import spark.implicits._
    val lake = freshLake()
    lake.append(kv(0, 100)) // v0
    lake.addConstraint("k_nonneg", "k >= 0") // v1
    lake.deleteKeysMor(Seq(5L).toDF("k"), "k") // v2
    val r = lake.describeDetail().head()
    assert(r.getAs[Int]("version") === 2)
    assert(r.getAs[Long]("num_files") >= 1L)
    assert(r.getAs[Long]("manifest_rows") === 100L,
      "manifest rows are pre-DV (the log's counts, no data read)")
    assert(r.getAs[Long]("num_dv_files") === 1L)
    assert(r.getAs[String]("stats_columns") === "k")
    assert(r.getAs[Long]("num_constraints") === 1L)
    assert(r.getAs[String]("schema").contains("k"))
    assert(r.getAs[Int]("checkpoint_version") === -1,
      "3 commits at interval 10: not yet checkpointed")
    assert(r.getAs[String]("properties") === "")
    lake.setProperties(Map("tier" -> "gold")) // v3
    assert(lake.describeDetail().head().getAs[String]("properties")
      === "tier=gold")
  }

  test("string zone maps: recorded per file, checkpoint round-trip, lexicographic pruning engages") {
    import spark.implicits._
    val root = Files.createTempDirectory("snap-szone-").toString
    def open() = Snapshot.Lake(spark, root, statsCols = Seq("k"),
      checkpointInterval = 2, strStatsCols = Seq("name"))
    val lake = open()
    // 4 appends with DISJOINT name ranges — each file's [slo, shi] is a
    // tight lexicographic box
    (0 until 4).foreach { i =>
      lake.append((0 until 50).map(j =>
        (i * 50L + j, f"Customer#${i * 50 + j}%09d")).toDF("k", "name")
        .coalesce(1))
    }
    // v3 crossed the interval-2 checkpoint: reopened state must carry
    // the szone segments through the checkpoint render/parse round-trip
    val re = open()
    val files = re.liveFiles(re.latestVersion)
    assert(files.forall(f => f.slo.contains("name") && f.shi.contains("name")))
    // prune: the second append's range only
    val pruned = re.pruneFiles(re.latestVersion, between("name",
      "Customer#000000050", "Customer#000000099"))
    assert(pruned.map(_.path).toSet ===
      files.filter(_.slo("name") == "Customer#000000050").map(_.path).toSet)
    assert(pruned.size === 1)
    assert(pruned.size < files.size, "string pruning must drop files")
    // the pruned read is exact
    assert(re.readWhere(re.latestVersion, between("name",
      "Customer#000000050", "Customer#000000099")).count() === 50)
    // a file with an all-null string column stays must-scan
    val nullish = (200L until 210L).map(k => (k, null: String)).toDF("k", "name")
    re.append(nullish.coalesce(1))
    val after = open()
    val nullFile = after.liveFiles(after.latestVersion)
      .filterNot(f => f.slo.contains("name"))
    assert(nullFile.nonEmpty, "all-null file records no szone")
    assert(after.pruneFiles(after.latestVersion, between("name", "zzz", "zzzz"))
      .map(_.path).toSet === nullFile.map(_.path).toSet,
      "out-of-range probe keeps ONLY the must-scan file")
  }

  test("changesByVersion: the batch CDC feed with per-commit attribution") {
    import spark.implicits._
    val lake = freshLake()
    lake.append(kv(0, 10)) // v0
    lake.append(kv(10, 15)) // v1
    lake.deleteKeysMor(Seq(3L).toDF("k"), "k") // v2
    val ch = lake.changesByVersion(-1, 2)
      .groupBy(col("_commit_version"), col("_change_type"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(ch === Set((0L, "insert", 10L), (1L, "insert", 5L),
      (2L, "delete", 1L)))
    // a sub-window attributes only its own versions
    assert(lake.changesByVersion(0, 1)
      .select("_commit_version").distinct()
      .collect().map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("vacuumDryRun: lists exactly what vacuum would delete, touching nothing") {
    val lake = freshLake()
    lake.append(kv(0, 100)) // v0
    lake.overwrite(kv(0, 50)) // v1: v0's files become horizon fodder
    val would = lake.vacuumDryRun(1)
    assert(would.nonEmpty)
    assert(lake.readAsOf(0).count() === 100,
      "dry run must not delete anything")
    val deleted = lake.vacuum(1)
    assert(deleted === would.size,
      "the real vacuum deletes exactly the dry-run listing")
    intercept[Exception](lake.readAsOf(0).count())
  }

  test("vacuumRetain: time-based retention on the in-commit-timestamp clock") {
    val lake = freshLake()
    lake.append(kv(0, 100)) // v0
    lake.overwrite(kv(0, 50)) // v1: v0's files past a 0-ms horizon
    lake.append(kv(50, 60)) // v2
    val tsV1 = lake.commits.find(_.version == 1).get.ts.get
    val headTs = lake.commits.find(_.version == 2).get.ts.get
    // A horizon reaching back past v0 keeps everything.
    assert(lake.vacuumRetainDryRun(java.util.concurrent.TimeUnit
      .DAYS.toMillis(7)).isEmpty)
    // A horizon that lands exactly on v1's stamp keeps v1 and v2's
    // files (timestampAsOf(head − retain) must keep resolving) and
    // deletes only v0's overwritten ones.
    val would = lake.vacuumRetainDryRun(headTs - tsV1)
    assert(would.nonEmpty)
    assert(lake.vacuumRetain(headTs - tsV1) === would.size)
    intercept[Exception](lake.readAsOf(0).count())
    assert(lake.readAsOfTimestamp(tsV1).count() === 50,
      "the horizon-edge snapshot must stay readable")
    assert(lake.read().count() === 60)
    // retain 0 ≡ keep the head only (still nothing NEW to delete here:
    // v2 is a pure append over v1's live files... both stay referenced
    // by the head).
    assert(lake.vacuumRetain(0L) === 0)
    intercept[IllegalArgumentException](lake.vacuumRetain(-1L))
  }

  test("cloneShallow: zero-copy clone reads the source snapshot, then diverges both ways") {
    import spark.implicits._
    val lake = freshLake()
    lake.append(kv(0, 100)) // v0
    lake.deleteKeysMor(Seq(3L, 7L).toDF("k"), "k") // v1: DV masks 2 rows
    lake.addConstraint("k_nonneg", "k >= 0") // v2
    val cloneRoot = Files.createTempDirectory("snap-clone-").toString
    val clone = lake.cloneShallow(cloneRoot)
    // the clone reads the source snapshot exactly — MOR deletes applied
    // through the absolute DV pointer — with ZERO data files copied
    assert(clone.read().select("k").collect().map(_.getLong(0)).sorted
      .toSeq === (0L until 100L).filterNot(Set(3L, 7L)))
    val cloneFs = new org.apache.hadoop.fs.Path(cloneRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!cloneFs.exists(new org.apache.hadoop.fs.Path(cloneRoot, "data")),
      "shallow: no data directory of its own until it diverges")
    // constraints carry over: a violating append is refused on the clone
    intercept[RuntimeException](clone.append(Seq((-1L, "bad")).toDF("k", "v")))
    // divergence is two-way isolated
    clone.append(kv(1000, 1010))
    lake.append(kv(2000, 2020))
    assert(clone.read().count() === 108 && lake.read().count() === 118)
    // a MOR delete ON the clone masks a SHARED (absolute-path) file via
    // the rel→manifest dv mapping, and never touches the source
    clone.deleteKeysMor(Seq(5L, 1005L).toDF("k"), "k")
    assert(clone.read().filter(col("k").isin(5L, 1005L)).count() === 0)
    assert(lake.read().filter(col("k") === 5L).count() === 1,
      "source must not see the clone's deletes")
    // clone vacuum walks only its own data/ — shared source files survive
    clone.overwrite(kv(0, 10))
    clone.vacuum(1)
    assert(lake.readAsOf(1).count() === 98,
      "source files must survive the clone's vacuum")
    assert(clone.read().count() === 10)
  }

  test("cloneShallow: versionAsOf clones a historical snapshot with its schema") {
    import spark.implicits._
    val lake = freshLake()
    lake.append(kv(0, 50)) // v0
    lake.evolveSchema(org.apache.spark.sql.types.StructType(
      kv(0, 1).schema.fields :+ org.apache.spark.sql.types
        .StructField("extra", org.apache.spark.sql.types.LongType))) // v1
    lake.append(kv(50, 60).withColumn("extra", col("k") * 2)) // v2
    val clone = lake.cloneShallow(
      Files.createTempDirectory("snap-clone-v-").toString, versionAsOf = 0)
    assert(clone.read().count() === 50)
    assert(clone.read().columns.toSeq === Seq("k", "v"),
      "pre-evolution snapshot: the narrow schema")
    // the clone's recorded schema is the AS-OF schema — a wide append
    // is refused until the clone itself evolves
    intercept[RuntimeException](
      clone.append(kv(90, 91).withColumn("extra", lit(1L))))
    assert(clone.append(kv(90, 91)) === 1)
  }

  test("timestampAsOf: publish-time stamps resolve to the last version at-or-before, binary-searched") {
    val lake = freshLake()
    val t0 = System.currentTimeMillis() - 1
    lake.append(kv(0, 10)) // v0
    Thread.sleep(5)
    val t1 = System.currentTimeMillis()
    Thread.sleep(5)
    lake.append(kv(10, 30)) // v1
    Thread.sleep(5)
    val t2 = System.currentTimeMillis()
    Thread.sleep(5)
    lake.overwrite(kv(100, 105)) // v2
    // Between v0 and v1 → v0; between v1 and v2 → v1; now → v2.
    assert(lake.versionAtTimestamp(t1) === 0)
    assert(lake.readAsOfTimestamp(t1).count() === 10)
    assert(lake.versionAtTimestamp(t2) === 1)
    assert(lake.readAsOfTimestamp(t2).count() === 30)
    assert(lake.versionAtTimestamp(System.currentTimeMillis()) === 2)
    // Exactly-at-a-commit-timestamp resolves to that commit (≤).
    val v1Ts = lake.commits(1).ts.get
    assert(lake.versionAtTimestamp(v1Ts) === 1)
    // Before the first commit: refused, the Delta contract.
    intercept[IllegalArgumentException](lake.versionAtTimestamp(t0))
    // Resolution is O(log n) parses, not a full replay.
    Snapshot.logFilesParsed.set(0L)
    lake.versionAtTimestamp(t2)
    assert(Snapshot.logFilesParsed.get() <= 4L,
      "binary search must not parse the whole log")
    // RESTORE TO TIMESTAMP: rolls back to the resolved snapshot as a
    // NEW version; history is kept.
    val rv = lake.restoreToTimestamp(t1)
    assert(rv === 3)
    assert(lake.read().count() === 10, "restored to v0's contents")
    assert(lake.readAsOf(2).count() === 5, "pre-restore head still reads")
    // The streaming startingTimestamp twin: first version AT-OR-AFTER.
    import graft.io.v2.SnapshotStreamSource
    assert(SnapshotStreamSource.versionAtOrAfter(lake.root, t1) === 1)
    assert(SnapshotStreamSource.versionAtOrAfter(lake.root, t0) === 0)
    assert(SnapshotStreamSource.versionAtOrAfter(lake.root,
      System.currentTimeMillis() + 60000) === 4,
      "timestamp past the head starts after it (future commits only)")
    // In-commit timestamps: a same-millisecond commit BURST still
    // stamps strictly increasing (max(wall, prev + 1)), so the binary
    // search's ordering precondition holds by construction.
    (0 until 8).foreach(i => lake.append(kv(200L + i, 201L + i)))
    val stamps = lake.commits.flatMap(_.ts)
    assert(stamps === stamps.sorted && stamps.distinct.size === stamps.size,
      s"commit timestamps must be strictly increasing: $stamps")
  }

  test("partition columns: hive layout, manifest partition tier prunes before zone maps, MOR/vacuum compose") {
    import spark.implicits._
    val lake = Snapshot.Lake(spark,
      Files.createTempDirectory("snap-part-").toString,
      statsCols = Seq("k"), partitionCols = Seq("day"))
    val df = (0L until 300L).map(k => (k, k % 3, s"row$k"))
      .toDF("k", "day", "v")
    lake.append(df.repartition(4)) // v0
    // Hive-style layout on disk: __p_day=<v> dirs under the commit dir
    // (duplicated partition column — the data files KEEP `day`).
    val fs = new org.apache.hadoop.fs.Path(lake.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val commitDir = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"${lake.root}/data"))
      .filter(_.isDirectory).head.getPath
    assert(fs.listStatus(commitDir).exists(s =>
      s.isDirectory && s.getPath.getName.startsWith("__p_day=")))
    // Manifest records each file's partition value + its k zone map.
    val files = lake.liveFiles(0)
    assert(files.nonEmpty && files.forall(_.parts.contains("day")))
    assert(files.forall(_.lo.contains("k")))
    // Partition tier prunes to exactly the probed value's files.
    val pruned = lake.pruneFiles(0, Seq(EqualTo("day", 1L)))
    assert(pruned.nonEmpty && pruned.size < files.size)
    assert(pruned.forall(_.parts("day") === "1"))
    // The pruned read is exact and opens only the survivors.
    val r1 = lake.readWhere(0, Seq(EqualTo("day", 1L)))
    assert(r1.count() === 100)
    assert(r1.select("k").collect().forall(_.getLong(0) % 3 === 1))
    val scanned = r1.inputFiles.toSet
    files.filterNot(f => f.parts("day") == "1").foreach { f =>
      assert(!scanned.exists(_.endsWith(f.path)),
        s"other-partition file ${f.path} was scanned")
    }
    // MOR delete composes: DVs apply inside the partition-pruned read.
    lake.deleteKeysMor(Seq(1L, 4L).toDF("k"), "k") // v1; both day=1
    assert(lake.readWhere(1, Seq(EqualTo("day", 1L))).count() === 98)
    // Overwrite re-partitions through the SAME layout; vacuum walks
    // the nested dirs and drops v0's unreferenced files.
    lake.overwrite(df.filter(col("k") < 150)) // v2
    assert(lake.liveFiles(2).forall(_.parts.contains("day")))
    val deleted = lake.vacuum(keepSnapshots = 1)
    assert(deleted > 0)
    assert(lake.read().count() === 150)
    assert(lake.readWhere(2, Seq(EqualTo("day", 2L))).count() === 50)
  }

  test("stats columns with nulls: file stays must-scan rather than mis-pruned") {
    import spark.implicits._
    val lake = freshLake()
    val df = Seq[(java.lang.Long, String)]((null, "a"), (null, "b"))
      .toDF("k", "v")
    lake.append(df)
    // No k stats on an all-null file ⇒ pruneFiles must keep it.
    assert(lake.pruneFiles(0, between("k", 5, 10)).size === lake.liveFiles(0).size)
  }

  test("null-count tier: IS NULL / IS NOT NULL skip from the manifest alone") {
    import spark.implicits._
    val lake = Snapshot.Lake(spark,
      Files.createTempDirectory("snap-spec-").toString,
      statsCols = Nil, nullStatsCols = Seq("x"))
    def df(rows: Seq[(Long, java.lang.Long)]) = rows.toDF("k", "x")
    lake.append(df((0L until 50L).map(k => (k, java.lang.Long.valueOf(k)))))   // v0: no nulls
    lake.append(df((50L until 80L).map(k => (k, null: java.lang.Long))))       // v1: all null
    lake.append(df(Seq((80L, java.lang.Long.valueOf(80L)), (81L, null))))      // v2: mixed
    val v = lake.latestVersion
    val files = lake.liveFiles(v)
    assert(files.forall(_.nulls.contains("x")))
    // IS NULL skips every v0 file; IS NOT NULL skips every v1 file;
    // the mixed file survives both (the conservative branch).
    val kNull = lake.pruneFiles(v, Seq(IsNull("x")))
    val kNot = lake.pruneFiles(v, Seq(IsNotNull("x")))
    assert(kNull.forall(_.nulls("x") > 0))
    assert(kNot.forall(f => f.nulls("x") < f.rows))
    assert(kNull.size < files.size && kNot.size < files.size)
    // Exact reads, and the skipped side's files never open.
    val rNull = lake.readWhere(v, Seq(IsNull("x")))
    assert(rNull.count() === 31)
    val noNullFiles = files.filter(_.nulls("x") === 0L).map(_.path)
    val scanned = rNull.inputFiles.toSet
    noNullFiles.foreach(p => assert(!scanned.exists(_.endsWith(p)),
      s"null-free file $p opened by an IS NULL read"))
    assert(lake.readWhere(v, Seq(IsNotNull("x"))).count() === 51)
    // Unstatted column ⇒ must-scan, reads stay exact.
    assert(lake.pruneFiles(v, Seq(IsNull("k"))).size === files.size)
    // The nullcnt segments survive a checkpoint round trip.
    Snapshot.writeCheckpoint(
      new org.apache.hadoop.fs.Path(lake.root, "_log")
        .getFileSystem(spark.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(lake.root, "_log"), v)
    assert(lake.pruneFiles(v, Seq(IsNull("x"))).map(_.path).toSet
      === kNull.map(_.path).toSet)
  }

  test("partition values needing escaping (and null) prune and read exactly") {
    import spark.implicits._
    val lake = Snapshot.Lake(spark,
      Files.createTempDirectory("snap-spec-").toString,
      statsCols = Nil, partitionCols = Seq("p"))
    lake.append(Seq((1L, "a=b:c"), (2L, "a=b:c"), (3L, "plain"),
      (4L, null: String)).toDF("k", "p"))
    // The manifest stores partitionBy's ESCAPED fragment, not the raw
    // value — the raw-value probe must still match exactly.
    val kept = lake.pruneFiles(0, Seq(EqualTo("p", "a=b:c")))
    assert(kept.nonEmpty)
    assert(kept.forall(_.parts("p") === Snapshot.escapedPartValue("a=b:c")))
    assert(lake.readWhere(0, Seq(EqualTo("p", "a=b:c"))).count() === 2)
    assert(lake.readWhere(0, Seq(EqualTo("p", "plain"))).count() === 1)
    // Null partition: the Hive sentinel directory, IS NULL row filter.
    val nulls = lake.readWhere(0, Seq(IsNull("p")))
    assert(nulls.count() === 1)
    assert(nulls.select("k").head.getLong(0) === 4L)
    // A probe for a value that only LOOKS like a fragment must miss:
    // raw "a%3Db%3Ac" escapes differently from "a=b:c".
    assert(lake.readWhere(0, Seq(EqualTo("p", "a%3Db%3Ac"))).count() === 0)
    // A MOR delete inside the escaped partition masks its rows: the
    // deletion vector keys rows by the manifest's fragment spelling.
    val vd = lake.deleteWhere(col("p") === "a=b:c")
    assert(lake.readWhere(vd, Seq(EqualTo("p", "a=b:c"))).count() === 0)
    assert(lake.read().count() === 2)
  }

  test("string zones: UTF-8 byte order keeps supplementary-plane probes") {
    import spark.implicits._
    val lake = Snapshot.Lake(spark,
      Files.createTempDirectory("snap-spec-").toString,
      statsCols = Nil, strStatsCols = Seq("s"))
    val emoji = new String(Character.toChars(0x1F600)) // 4-byte UTF-8
    val bmp = "\uE000" // 3-byte UTF-8, just above the surrogate range
    lake.append(Seq(bmp, emoji).toDF("s"))
    // Java UTF-16 compareTo orders the emoji's surrogates (0xD83D...)
    // BELOW U+E000 and would prune the file on an exact-emoji probe;
    // the stats were computed under UTF-8 binary order, where the
    // emoji (0xF0...) sorts ABOVE U+E000's 0xEE... encoding.
    assert(Snapshot.utf8Compare(bmp, emoji) < 0 &&
      bmp.compareTo(emoji) > 0) // the orders genuinely disagree
    assert(lake.pruneFiles(0, between("s", emoji, emoji)).size === 1)
    assert(lake.readWhere(0, between("s", emoji, emoji)).count() === 1)
  }

  test("generated columns: derived on write, validated when provided, base-range prunes generated partitions") {
    import spark.implicits._
    val root = Files.createTempDirectory("snap-gen-").toString
    val lake = Snapshot.Lake(spark, root, statsCols = Seq("ts"),
      partitionCols = Seq("day"),
      generatedCols = Seq("day" -> "ts div 1000"))
    // v0: the frame has NO day column — the writer derives it.
    lake.append((0L until 5000L).map(t => (t, s"e$t")).toDF("ts", "v"))
    assert(lake.read().columns.sorted.toSeq === Seq("day", "ts", "v"))
    assert(lake.read().filter(col("day") =!= expr("ts div 1000"))
      .count() === 0, "derived values must equal the expression")
    assert(lake.commits.head.features
      .contains(("writer", "generated-columns")))
    // The expression is LOG-recorded: a fresh handle with no
    // generatedCols config still derives.
    val fresh = Snapshot.Lake(spark, root, statsCols = Seq("ts"),
      partitionCols = Seq("day"))
    fresh.append((5000L until 6000L).map(t => (t, s"e$t")).toDF("ts", "v"))
    assert(fresh.read().count() === 6000)
    assert(fresh.read().filter(col("day") === 5L).count() === 1000)
    // Provided values: correct ones pass (validated in the post-write
    // scan), wrong ones refuse and never publish.
    fresh.append(Seq((6000L, "x", 6L)).toDF("ts", "v", "day"))
    val before = fresh.latestVersion
    val eBad = intercept[RuntimeException](
      fresh.append(Seq((7000L, "y", 9L)).toDF("ts", "v", "day")))
    assert(eBad.getMessage.contains("generated:day"))
    assert(fresh.latestVersion === before,
      "a mismatched provided value must never become a version")
    // The BASE column is pinned while a generation expr references it.
    intercept[IllegalArgumentException](fresh.renameColumn("ts", "t2"))
    intercept[IllegalArgumentException](fresh.dropColumn("ts"))
    // PREDICATE REWRITE: ts ∈ [1500, 2500] maps to day ∈ [1, 2] —
    // the generated partition tier prunes strictly, survivors carry
    // only in-window day values, and the read is row-exact.
    val v = fresh.latestVersion
    val all = fresh.liveFiles(v).size
    val kept = fresh.pruneFiles(v, between("ts", 1500L, 2500L))
    assert(kept.nonEmpty && kept.size < all,
      s"rewrite must prune strictly: kept ${kept.size} of $all")
    assert(kept.forall(_.parts.get("day").forall(d =>
      d.toLong >= 1L && d.toLong <= 2L)))
    val r = fresh.readWhere(v, between("ts", 1500L, 2500L))
    assert(r.count() === 1001)
    assert(r.agg(min("ts"), max("ts")).head().toSeq ===
      Seq(1500L, 2500L))
    // Unrecognized (non-monotone) expressions never engage the
    // rewrite: everything must-scans, semantics intact.
    assert(Snapshot.monotoneBaseOf("pmod(ts, 7)") === None)
    assert(Snapshot.monotoneBaseOf("ts div 1000") === Some("ts"))
    assert(Snapshot.monotoneBaseOf("year(ts)") === Some("ts"))
    assert(Snapshot.monotoneBaseOf("cast(ts as date)") === Some("ts"))
    assert(Snapshot.monotoneBaseOf("to_date(ts)") === Some("ts"))
    assert(Snapshot.monotoneBaseOf("floor(ts / 3600.0)") === Some("ts"))
    assert(Snapshot.monotoneBaseOf("date_trunc('day', ts)") === Some("ts"))

    // COMPOSITE (year, month) rewrite — the reference's own layout
    // (timescale_to_deltalake.py:36): month alone is non-monotone in
    // the date, but lexicographically under the year the pair prunes
    // exactly. Two years of daily dates partitioned (yr, mo): a
    // cross-year window keeps only its boundary months' partitions.
    val lake2 = Snapshot.Lake(spark,
      Files.createTempDirectory("snap-gen2-").toString,
      partitionCols = Seq("yr", "mo"),
      generatedCols = Seq("yr" -> "year(d)", "mo" -> "month(d)"))
    val days = (0 until 730).map(i => Tuple1(java.sql.Date.valueOf(
      java.time.LocalDate.of(1994, 1, 1).plusDays(i.toLong)))).toDF("d")
    lake2.append(days)
    val lo2 = java.sql.Date.valueOf("1994-11-15")
    val hi2 = java.sql.Date.valueOf("1995-02-10")
    val kept2 = lake2.pruneFiles(0, between("d", lo2, hi2))
    val keptYm = kept2.map(f =>
      (f.parts("yr").toLong, f.parts("mo").toLong)).toSet
    assert(keptYm === Set((1994L, 11L), (1994L, 12L),
      (1995L, 1L), (1995L, 2L)),
      s"composite rewrite must keep exactly the window's months: $keptYm")
    val r2 = lake2.readWhere(0, between("d", lo2, hi2))
    assert(r2.count() === 88) // 16 + 31 + 31 + 10 days inclusive
    // month alone (no year generated) must NOT prune: non-monotone.
    val lake3 = Snapshot.Lake(spark,
      Files.createTempDirectory("snap-gen3-").toString,
      partitionCols = Seq("mo"),
      generatedCols = Seq("mo" -> "month(d)"))
    lake3.append(days)
    assert(lake3.pruneFiles(0, between("d", lo2, hi2)).size ===
      lake3.liveFiles(0).size,
      "month without year is non-monotone — everything must-scans")
    assert(lake3.readWhere(0, between("d", lo2, hi2)).count() === 88)
  }

  test("identity columns: writer-assigned, manifest high-water, unique and monotone across commits") {
    import spark.implicits._
    val root = Files.createTempDirectory("snap-id-").toString
    val lake = Snapshot.Lake(spark, root,
      identityCols = Seq(("id", 1000L, 10L)))
    lake.append(Seq("a", "b", "c").toDF("v")) // v0 — writer assigns
    val ids0 = lake.read().select("id").as[Long].collect()
    assert(lake.read().columns.sorted.toSeq === Seq("id", "v"))
    assert(ids0.distinct.length === 3, "assigned ids must be unique")
    assert(ids0.forall(i => i >= 1000L && (i - 1000L) % 10L == 0L),
      "ids start at `start` and step-align")
    assert(lake.commits.head.features
      .contains(("writer", "identity-columns")))
    // The declaration is LOG-recorded: a fresh config-less handle
    // keeps assigning, ABOVE the manifest high water.
    val fresh = Snapshot.Lake(spark, root)
    fresh.append(Seq("d", "e").toDF("v")) // v1
    val all = fresh.read().select("id").as[Long].collect()
    assert(all.distinct.length === 5)
    assert((all.toSet -- ids0.toSet).min > ids0.max,
      "a later commit's ids sit strictly above the prior high water")
    // ALWAYS: a pure append providing the column refuses...
    val e = intercept[IllegalArgumentException](
      fresh.append(Seq((9999L, "x")).toDF("id", "v")))
    assert(e.getMessage.contains("GENERATED ALWAYS"))
    // ... while rewrite-shaped commits legitimately carry it: an
    // overwrite with the table's own rows keeps every id.
    val before = fresh.read().select("id", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    fresh.overwrite(fresh.read())
    val after = fresh.read().select("id", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(after === before, "rewrites must persist assigned ids")
    // MOR-deleted ids are never reissued (stats stay in the manifest).
    val victim = all.max
    fresh.deleteKeysMor(Seq(victim).toDF("id"), "id")
    fresh.append(Seq("f").toDF("v"))
    val post = fresh.read().select("id").as[Long].collect()
    assert(!post.contains(victim) && post.max > victim,
      "a masked id must not be reassigned")
    // A writer lacking the capability refuses the table.
    val noId = Snapshot.Lake(spark, root,
      writerFeatures =
        Snapshot.SupportedWriterFeatures - "identity-columns")
    assert(intercept[IllegalArgumentException](
      noId.append(Seq("z").toDF("v")))
      .getMessage.contains("identity-columns"))
  }

  test("identity high-water is a persisted monotone log action: COW rewrites and restore never reissue ids") {
    import spark.implicits._
    val root = Files.createTempDirectory("snap-idhw-").toString
    // checkpointInterval small so the fold crosses a checkpoint — the
    // idhw action must survive the render→parse hop too.
    val lake = Snapshot.Lake(spark, root,
      identityCols = Seq(("id", 1L, 1L)), checkpointInterval = 2)
    lake.append((1 to 50).map(i => s"r$i").toDF("v")) // v0 assigns
    val ids0 = lake.read().select("id").as[Long].collect()
    val ever0 = ids0.max
    // The assigning commit PERSISTED its watermark as an idhw action
    // (the zone max actually assigned, not hw + step*rows —
    // monotonically_increasing_id ranges are sparse).
    assert(lake.commits.head.idHw.get("id") === Some(ever0),
      "assignment commits must persist the max assigned id")
    // COW-delete the TOP half: the rewrite shrinks the live
    // manifest's max(hi) below ids already issued…
    lake.deleteKeys(ids0.filter(_ > ids0.sorted.apply(24)).toSeq
      .toDF("id"), "id") // v1 rewrite
    lake.append(Seq("x1", "x2").toDF("v")) // v2 assigns again
    val afterCow = lake.read().select("id").as[Long].collect()
    assert(afterCow.distinct.length === afterCow.length)
    assert((afterCow.toSet -- ids0.toSet).min > ever0,
      "ids deleted by a COW rewrite must never be reissued " +
        "(the persisted watermark outlives the live manifest max)")
    val ever1 = afterCow.max
    // …and RESTORE rolls live state back below the watermark too.
    lake.restore(0) // v3: manifest back to v0's files
    lake.append(Seq("y1").toDF("v")) // v4 assigns
    val afterRestore = lake.read().select("id").as[Long].collect()
    assert((afterRestore.toSet -- ids0.toSet).min > ever1,
      "restore() rolls state back but the watermark folds over " +
        "HISTORY — post-restore ids sit above everything ever issued")
    assert(afterRestore.distinct.length === afterRestore.length)
  }

  test("conditional publish: put-if-absent — racing writers at one version slot serialize by construction, no shared lock") {
    import spark.implicits._
    val root = Files.createTempDirectory("snap-pub-").toString
    val lake = Snapshot.Lake(spark, root)
    lake.append(Seq(1L).toDF("k")) // v0
    // N threads race the SAME version slot through the publish seam.
    // The local-store path hard-links the complete tmp record to the
    // versioned name — atomic at the filesystem, no JVM lock taken —
    // so exactly one writer wins and the slot holds exactly its
    // record; every loser sees a clean conflict (the OCC retry rule's
    // input). Distinct txn markers identify the winner post-hoc.
    val n = 8
    val latch = new java.util.concurrent.CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentHashMap[Int, Boolean]()
    val threads = (0 until n).map { i =>
      new Thread(() => {
        latch.await()
        try {
          lake.publish(Seq("v\t1", s"txn\twriter$i\t${i + 100}"), 1)
          results.put(i, true)
        } catch {
          case e: RuntimeException
            if e.getMessage.contains("commit conflict") =>
            results.put(i, false)
        }
      })
    }
    threads.foreach(_.start()); latch.countDown(); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    val winners = results.asScala.collect { case (i, true) => i }.toSeq
    assert(winners.size === 1,
      s"exactly one racer must win the slot, got ${winners.size}")
    assert(results.asScala.size === n, "every racer must resolve")
    val w = winners.head
    assert(lake.lastTxn(s"writer$w") === (w + 100).toLong,
      "the slot must hold exactly the winner's record")
    (0 until n).filter(_ != w).foreach(i =>
      assert(lake.lastTxn(s"writer$i") === -1L,
        "a loser's record must never partially land"))
    assert(lake.latestVersion === 1)
  }

  test("identity allocation race: concurrent appends never publish overlapping ids (OCC conflict + caller retry)") {
    import spark.implicits._
    val root = Files.createTempDirectory("snap-idrace-").toString
    Snapshot.Lake(spark, root, identityCols = Seq(("id", 0L, 1L)))
      .append(Seq("seed").toDF("v")) // v0: record the declaration
    // Two independent handles race appends; a loser whose allocation
    // base moved conflicts LOUDLY and re-appends (re-deriving fresh
    // ids above the new head) — in no interleaving may both publish
    // ids from the same base.
    def appendRetry(h: Snapshot.Lake, tag: String): Unit = {
      var done = false
      while (!done)
        try { h.append((1 to 20).map(i => s"$tag$i").toDF("v")); done = true }
        catch { case e: RuntimeException
          if e.getMessage.contains("commit conflict") => () }
    }
    val h1 = Snapshot.Lake(spark, root)
    val h2 = Snapshot.Lake(spark, root)
    (1 to 2).foreach { round =>
      val t1 = new Thread(() => appendRetry(h1, s"a$round-"))
      val t2 = new Thread(() => appendRetry(h2, s"b$round-"))
      t1.start(); t2.start(); t1.join(); t2.join()
    }
    val ids = h1.read().select("id").as[Long].collect()
    assert(ids.length === 1 + 4 * 20)
    assert(ids.distinct.length === ids.length,
      "every published id must be unique across racing writers")
  }

  test("protocol feature flags: first-use stamps, checkpoint fold, masked capabilities refuse loudly") {
    import spark.implicits._
    val root = Files.createTempDirectory("snap-feat-").toString
    val lake = Snapshot.Lake(spark, root, statsCols = Seq("k"),
      checkpointInterval = 3)
    lake.append((0L until 20L).map(k => (k, s"row$k")).toDF("k", "v")) // v0
    // Every table's first commit stamps the ICT writer feature (all
    // publishes carry the monotone ts chain).
    assert(lake.commits.head.features
      .contains(("writer", "in-commit-timestamps")))
    // A writer lacking it refuses to COMMIT — but still reads (ICT is
    // a writer invariant; plain reads are correct without it).
    val noIct = Snapshot.Lake(spark, root, statsCols = Seq("k"),
      writerFeatures =
        Snapshot.SupportedWriterFeatures - "in-commit-timestamps")
    val eW = intercept[IllegalArgumentException](
      noIct.append(Seq((20L, "x")).toDF("k", "v")))
    assert(eW.getMessage.contains("in-commit-timestamps"))
    assert(noIct.read().count() === 20)

    // The mapping ACTIVATION commit stamps column-mapping for both
    // sides; a later rename does not re-stamp (folded already).
    lake.renameColumn("v", "label") // v1
    assert(lake.commits.find(_.version == 1).get.features.toSet ===
      Set(("reader", "column-mapping"), ("writer", "column-mapping")))
    lake.renameColumn("label", "tag") // v2
    assert(lake.commits.find(_.version == 2).get.features.isEmpty,
      "stamps are one-time per table, never repeated")
    // A mapping-unaware reader refuses the HEAD loudly...
    val noMap = Snapshot.Lake(spark, root, statsCols = Seq("k"),
      readerFeatures =
        Snapshot.SupportedReaderFeatures - "column-mapping")
    val eR = intercept[IllegalArgumentException](noMap.read())
    assert(eR.getMessage.contains("column-mapping"))
    // ... but time travel BELOW the activation still serves (the gate
    // is per-snapshot, exactly Delta's protocol-as-of-version): v0's
    // fold carries no mapping stamp.
    assert(noMap.readAsOf(0).count() === 20)

    // Stamps fold through checkpoints: v3 lands the interval
    // checkpoint; a fresh masked handle reading checkpoint + suffix
    // must still refuse.
    lake.append(Seq((20L, "row20")).toDF("k", "tag")) // v3 → checkpoint
    val masked = Snapshot.Lake(spark, root, statsCols = Seq("k"),
      checkpointInterval = 3,
      readerFeatures =
        Snapshot.SupportedReaderFeatures - "column-mapping")
    assert(intercept[IllegalArgumentException](masked.read())
      .getMessage.contains("column-mapping"))
    assert(lake.read().count() === 21)

    // First DV use stamps deletion-vectors (reader + writer).
    lake.deleteKeysMor(Seq(3L).toDF("k"), "k") // v4
    assert(lake.commits.find(_.version == 4).get.features.toSet ===
      Set(("reader", "deletion-vectors"), ("writer", "deletion-vectors")))
    val noDv = Snapshot.Lake(spark, root, statsCols = Seq("k"),
      readerFeatures =
        Snapshot.SupportedReaderFeatures - "deletion-vectors")
    assert(intercept[IllegalArgumentException](noDv.read())
      .getMessage.contains("deletion-vectors"))

    // ADD CONSTRAINT stamps the check-constraints writer feature: a
    // non-validating writer must refuse rather than land unchecked rows.
    lake.addConstraint("k_nonneg", "k >= 0") // v5
    assert(lake.commits.find(_.version == 5).get.features
      .contains(("writer", "check-constraints")))
    val noCheck = Snapshot.Lake(spark, root, statsCols = Seq("k"),
      writerFeatures =
        Snapshot.SupportedWriterFeatures - "check-constraints")
    assert(intercept[IllegalArgumentException](
      noCheck.append(Seq((21L, "row21")).toDF("k", "tag")))
      .getMessage.contains("check-constraints"))

    // A table stamped with a feature NO current reader implements —
    // a future grammar revision — refuses even the default handle.
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v6 = lake.latestVersion + 1
    val p = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(root, "_log"), f"$v6%08d.commit")
    val out = fs.create(p, false)
    out.write((s"v\t$v6\n" + Snapshot.featureLine("reader",
      "future-sorcery") + "\nts\t9999999999999\n").getBytes("UTF-8"))
    out.close()
    assert(intercept[IllegalArgumentException](lake.read())
      .getMessage.contains("future-sorcery"))
    // ... history below the stamp still time-travels.
    assert(lake.readAsOf(5).count() === 20) // 21 appended − 1 MOR-deleted

    // The shallow clone inherits the source's protocol requirements.
    fs.delete(p, false) // retire the future stamp for the clone leg
    val clone = lake.cloneShallow(
      Files.createTempDirectory("snap-feat-clone-").toString)
    val cloneMasked = Snapshot.Lake(spark, clone.root,
      readerFeatures =
        Snapshot.SupportedReaderFeatures - "column-mapping")
    assert(intercept[IllegalArgumentException](cloneMasked.read())
      .getMessage.contains("column-mapping"))
    assert(clone.read().count() === 20)
  }
}
