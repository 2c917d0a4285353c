package graft.io

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The snapshot lake as a V2 streaming source: version offsets drive
  * micro-batches, restart resumes exactly-once from the checkpoint,
  * the append-only guard rejects rewrite commits unless ignoreChanges,
  * batch reads see the latest snapshot, pruning + schema evolution
  * behave like the Lake read path. */
class SnapshotStreamSpec extends SparkSpec with graft.LowStatePartitions {
  import spark.implicits._

  private val Fmt = "graft.io.v2.SnapshotStreamSource"

  private def freshLake() = Snapshot.Lake(spark,
    Files.createTempDirectory("snap-stream-").toString, statsCols = Seq("k"))

  private def kv(lo: Long, hi: Long) =
    (lo until hi).map(k => (k, s"row$k")).toDF("k", "v")

  test("commits become micro-batches; restart resumes from version offsets") {
    val lake = freshLake()
    lake.append(kv(0, 100)) // v0
    lake.append(kv(100, 130)) // v1
    val ckpt = Files.createTempDirectory("snap-stream-ckpt").toString
    val outDir = Files.createTempDirectory("snap-stream-out").toString + "/t"

    def start() = spark.readStream.format(Fmt).load(lake.root)
      .writeStream.outputMode("append").format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt).start()
    def outCount(): Long = spark.read.parquet(outDir).count()

    val q = start()
    try {
      q.processAllAvailable()
      assert(outCount() === 130) // both initial commits
      lake.append(kv(130, 140)) // producer commits while running
      q.processAllAvailable()
      assert(outCount() === 140)
    } finally q.stop()

    // Restart: committed versions are NOT re-emitted; the commit that
    // landed while the query was down is picked up.
    lake.append(kv(140, 145))
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(outCount() === 145)
      assert(spark.read.parquet(outDir).select("k").distinct().count() === 145)
    } finally q2.stop()
  }

  test("startingTimestamp: the stream begins at the first commit at-or-after the timestamp") {
    val lake = freshLake()
    lake.append(kv(0, 10)) // v0
    Thread.sleep(5)
    val t1 = System.currentTimeMillis()
    Thread.sleep(5)
    lake.append(kv(10, 30)) // v1
    lake.append(kv(30, 35)) // v2
    val name = s"snapst${System.nanoTime()}"
    val q = spark.readStream.format(Fmt)
      .option("startingTimestamp", t1.toString).load(lake.root)
      .writeStream.outputMode("append").format("memory").queryName(name)
      .option("checkpointLocation",
        Files.createTempDirectory("snap-st-ckpt").toString).start()
    try {
      q.processAllAvailable()
      // v0 predates t1 and is skipped; v1 + v2 drain
      assert(spark.table(name).count() === 25)
      assert(spark.table(name).agg(org.apache.spark.sql.functions
        .min(col("k"))).head().getLong(0) === 10L)
    } finally q.stop()
    // both options together are refused (the Delta contract)
    val e = intercept[Exception] {
      spark.readStream.format(Fmt)
        .option("startingTimestamp", t1.toString)
        .option("startingVersion", 0).load(lake.root)
        .writeStream.format("noop")
        .option("checkpointLocation",
          Files.createTempDirectory("snap-st2-ckpt").toString)
        .start().processAllAvailable()
    }
    def causes(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
        .map(x => String.valueOf(x.getMessage))
    assert(causes(e).exists(_.contains("mutually exclusive")), e.getMessage)
  }

  test("admission control: maxCommitsPerTrigger paces a backlog into bounded batches, restart exactly-once") {
    val lake = freshLake()
    (0 until 6).foreach(i => lake.append(kv(i * 10L, i * 10L + 10L)))
    val ckpt = Files.createTempDirectory("snap-ac-ckpt").toString
    val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def start() = spark.readStream.format(Fmt)
      .option("maxCommitsPerTrigger", 2).load(lake.root)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        batches.synchronized { batches += ((id, b.count())) }; ()
      }.start()
    val q = start()
    try q.processAllAvailable() finally q.stop()
    // 6-commit backlog at 2 commits/trigger = EXACTLY 3 paced batches,
    // each emitting its 2 commits' 20 rows — never one giant batch.
    assert(batches.map(_._2).toSeq === Seq(20L, 20L, 20L),
      s"expected 3 paced batches of 20, got $batches")
    // Restart with new backlog: pacing resumes from the checkpointed
    // offset, exactly-once (no batch re-emitted, 3 commits = 2 batches).
    (6 until 9).foreach(i => lake.append(kv(i * 10L, i * 10L + 10L)))
    batches.clear()
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(batches.map(_._2).toSeq === Seq(20L, 10L),
      s"restart must drain only the 3 new commits paced 2+1, got $batches")
  }

  test("Trigger.AvailableNow: paced drain to the frozen head, then self-termination") {
    val lake = freshLake()
    (0 until 5).foreach(i => lake.append(kv(i * 10L, i * 10L + 10L)))
    val ckpt = Files.createTempDirectory("snap-an-ckpt").toString
    val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
    def run(): Unit = {
      val q = spark.readStream.format(Fmt)
        .option("maxCommitsPerTrigger", 2).load(lake.root)
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          batches.synchronized { batches += b.count() }; ()
        }.start()
      assert(q.awaitTermination(120000),
        "AvailableNow query must terminate on its own")
    }
    run()
    // 5-commit backlog, frozen head, 2 commits/trigger: 20+20+10 rows
    // across exactly 3 paced batches, then the query STOPS.
    assert(batches.filter(_ > 0).toSeq === Seq(20L, 20L, 10L),
      s"expected paced 20/20/10, got $batches")
    // A commit after the first run waits for the NEXT invocation and
    // drains exactly-once from the checkpoint.
    lake.append(kv(50, 60))
    batches.clear()
    run()
    assert(batches.filter(_ > 0).toSeq === Seq(10L),
      s"second invocation must drain only the new commit, got $batches")
  }

  test("readChangeFeed: streamed rows carry _change_type and their _commit_version") {
    val lake = freshLake()
    lake.append(kv(0, 10)) // v0
    lake.append(kv(10, 30)) // v1
    val name = s"snapcdf${System.nanoTime()}"
    val q = spark.readStream.format(Fmt)
      .option("readChangeFeed", "true").load(lake.root)
      .writeStream.outputMode("append").format("memory").queryName(name)
      .option("checkpointLocation",
        Files.createTempDirectory("snap-cdf-ckpt").toString).start()
    try {
      q.processAllAvailable()
      val t = spark.table(name)
      assert(t.columns.toSeq.takeRight(2) ===
        Seq("_change_type", "_commit_version"))
      assert(t.count() === 30)
      assert(t.filter(col("_change_type") =!= "insert").count() === 0)
      // every row is stamped with the commit that added it
      assert(t.filter(col("k") < 10 && col("_commit_version") =!= 0L)
        .count() === 0)
      assert(t.filter(col("k") >= 10 && col("_commit_version") =!= 1L)
        .count() === 0)
    } finally q.stop()
    // BATCH change-feed read (Delta's readChangeFeed batch form):
    // the same feed as a one-shot window — pure appends serve their
    // adds as inserts with per-commit attribution.
    val b = spark.read.format(Fmt).option("readChangeFeed", "true")
      .load(lake.root)
    assert(b.count() === 30)
    assert(b.filter(col("_change_type") =!= "insert").count() === 0)
    assert(b.filter(col("k") < 10 && col("_commit_version") =!= 0L)
      .count() === 0)
    // Version-window options narrow the feed; bad windows refuse.
    assert(spark.read.format(Fmt).option("readChangeFeed", "true")
      .option("startingVersion", "1").load(lake.root).count() === 20)
    assert(spark.read.format(Fmt).option("readChangeFeed", "true")
      .option("endingVersion", "0").load(lake.root).count() === 10)
    intercept[Exception](spark.read.format(Fmt)
      .option("readChangeFeed", "true").option("endingVersion", "9")
      .load(lake.root).collect())
    intercept[Exception](spark.read.format(Fmt)
      .option("readChangeFeed", "true").option("versionAsOf", "1")
      .load(lake.root).collect())
  }

  test("streaming CDF: DV and rewrite commits flow through writer-side change files, row-equal to batch changes()") {
    val lake = Snapshot.Lake(spark,
      Files.createTempDirectory("snap-cdf2-").toString,
      statsCols = Seq("k"), changeDataFeed = true)
    lake.append(kv(0, 30))                             // v0 pure append
    lake.deleteKeysMor(Seq(3L, 7L).toDF("k"), "k")     // v1 MOR delete
    lake.overwrite(kv(100, 110))                       // v2 rewrite
    lake.upsertMor(Seq((105L, "upd105")).toDF("k", "v"), "k") // v3 MOR merge
    // Mutating commits persisted their change files + the CDF stamp.
    assert(lake.commits.find(_.version == 1).get.cdcFiles.nonEmpty)
    assert(lake.commits.find(_.version == 2).get.cdcFiles.nonEmpty)
    assert(lake.commits.find(_.version == 3).get.cdcFiles.nonEmpty)
    assert(lake.commits.find(_.version == 1).get.features
      .contains(("reader", "change-data-feed")))
    assert(lake.commits.find(_.version == 0).get.cdcFiles.isEmpty,
      "pure appends write no change files — their adds ARE the feed")

    // The stream serves the whole history — paced at one commit per
    // trigger to prove admission control composes with CDF.
    val name = s"snapcdf2${System.nanoTime()}"
    val q = spark.readStream.format(Fmt)
      .option("readChangeFeed", "true")
      .option("maxCommitsPerTrigger", "1")
      .load(lake.root)
      .writeStream.outputMode("append").format("memory").queryName(name)
      .option("checkpointLocation",
        Files.createTempDirectory("snap-cdf2-ckpt").toString).start()
    val streamed =
      try { q.processAllAvailable(); spark.table(name).collect() }
      finally q.stop()
    // Row-exact equivalence with the batch feed on the same window.
    val batch = lake.changesByVersion(-1, 3)
      .select("k", "v", "_change_type", "_commit_version").collect()
    def keyOf(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))
    assert(streamed.map(keyOf).sorted.toSeq === batch.map(keyOf).sorted.toSeq,
      "streaming CDF must equal batch changes() row-for-row")
    // Shape sanity: the MOR delete retracts, the overwrite emits both
    // sides, the MOR merge emits its delete + insert pair.
    val byVer = streamed.map(keyOf).groupBy(_._4)
    // CDF row order within a version is not part of the contract (it
    // follows the partitioning, hence the core count): compare sorted.
    assert(byVer(1L).toSeq.sorted === Seq((3L, "row3", "delete", 1L),
      (7L, "row7", "delete", 1L)))
    assert(byVer(2L).count(_._3 == "delete") === 28)
    assert(byVer(2L).count(_._3 == "insert") === 10)
    assert(byVer(3L).toSeq.sorted === Seq((105L, "row105", "delete", 3L),
      (105L, "upd105", "insert", 3L)))

    // BATCH CDF over the same mutating history — served through the
    // connector from the same change files, row-equal to the batch
    // algebra; a sub-window narrows it exactly.
    val bAll = spark.read.format(Fmt).option("readChangeFeed", "true")
      .load(lake.root)
      .select("k", "v", "_change_type", "_commit_version").collect()
    assert(bAll.map(keyOf).sorted.toSeq === batch.map(keyOf).sorted.toSeq,
      "batch CDF through the connector must equal changesByVersion")
    val bWin = spark.read.format(Fmt).option("readChangeFeed", "true")
      .option("startingVersion", "1").option("endingVersion", "1")
      .load(lake.root)
      .select("k", "v", "_change_type", "_commit_version").collect()
    assert(bWin.map(keyOf).sorted.toSeq ===
      Seq((3L, "row3", "delete", 1L), (7L, "row7", "delete", 1L)))
    // A mutating NON-CDF lake refuses the batch feed with the
    // enable-CDF pointer.
    val plain = Snapshot.Lake(spark,
      Files.createTempDirectory("snap-cdf2-plain-").toString)
    plain.append(kv(0, 5))
    plain.overwrite(kv(5, 9))
    val ePlain = intercept[Exception] {
      spark.read.format(Fmt).option("readChangeFeed", "true")
        .load(plain.root).collect()
    }
    assert(Iterator.iterate(ePlain: Throwable)(_.getCause)
      .takeWhile(_ != null).map(x => String.valueOf(x.getMessage))
      .exists(_.contains("changeDataFeed")), ePlain.getMessage)

    // A NON-CDF stream on the same table still refuses the mutating
    // commits (carried rows can't retract outside the feed).
    val name2 = s"snapcdf2b${System.nanoTime()}"
    val q2 = spark.readStream.format(Fmt).load(lake.root)
      .writeStream.outputMode("append").format("memory").queryName(name2)
      .option("checkpointLocation",
        Files.createTempDirectory("snap-cdf2-ckpt2").toString).start()
    val e2 = intercept[Exception] {
      try q2.processAllAvailable() finally q2.stop()
    }
    def causes(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
        .map(x => String.valueOf(x.getMessage))
    assert(causes(e2).exists(_.contains("ignoreChanges")))

    // Vacuum keeps the horizon's change files (the stream must stay
    // replayable inside retention) while reclaiming older data.
    lake.vacuum(keepSnapshots = 4)
    val q3name = s"snapcdf2c${System.nanoTime()}"
    val q3 = spark.readStream.format(Fmt)
      .option("readChangeFeed", "true").option("startingVersion", "1")
      .load(lake.root)
      .writeStream.outputMode("append").format("memory").queryName(q3name)
      .option("checkpointLocation",
        Files.createTempDirectory("snap-cdf2-ckpt3").toString).start()
    val replayed =
      try { q3.processAllAvailable(); spark.table(q3name).count() }
      finally q3.stop()
    assert(replayed === streamed.count(_.getLong(3) >= 1L))
  }

  test("CDF counts duplicates: a rewrite dropping one of two identical rows emits exactly one delete") {
    val lake = Snapshot.Lake(spark,
      Files.createTempDirectory("snap-cdf-dup-").toString,
      statsCols = Seq("k"), changeDataFeed = true)
    lake.append(Seq((1L, "a"), (1L, "a"), (2L, "b")).toDF("k", "v")) // v0
    lake.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))         // v1
    assert(lake.commits.find(_.version == 1).get.cdcFiles.nonEmpty)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "v", "_change_type", "_commit_version")
        .as[(Long, String, String, Long)].collect().toSeq
    val want = Seq((1L, "a", "delete", 1L))
    assert(rows(lake.changesByVersion(0, 1)) === want)
    // the writer-side change file serves the same single delete
    assert(rows(spark.read.format(Fmt).option("readChangeFeed", "true")
      .option("startingVersion", "1").option("endingVersion", "1")
      .load(lake.root)) === want)
  }

  test("append-only guard: a rewrite commit fails the stream; ignoreChanges accepts") {
    val lake = freshLake()
    lake.append(kv(0, 50))
    lake.overwrite(kv(0, 50).filter(col("k") % 5 =!= 0)) // removes files
    val name = s"snapstream${System.nanoTime()}"
    val q = spark.readStream.format(Fmt).load(lake.root)
      .writeStream.outputMode("append").format("memory").queryName(name)
      .option("checkpointLocation",
        Files.createTempDirectory("snap-stream-g").toString).start()
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    def causes(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
        .map(_.getMessage).map(String.valueOf)
    assert(causes(err).exists(_.contains("removes")), err.getMessage)

    // ignoreChanges: the rewrite's files are emitted (documented
    // at-least-once for carried rows: 50 original + 40 rewritten).
    val name2 = s"snapstream2${System.nanoTime()}"
    val q2 = spark.readStream.format(Fmt).option("ignoreChanges", "true")
      .load(lake.root)
      .writeStream.outputMode("append").format("memory").queryName(name2)
      .option("checkpointLocation",
        Files.createTempDirectory("snap-stream-g2").toString).start()
    try {
      q2.processAllAvailable()
      assert(spark.table(name2).count() === 90)
    } finally q2.stop()
  }

  test("batch read sees the latest snapshot; startingVersion skips history") {
    val lake = freshLake()
    lake.append(kv(0, 20)) // v0
    lake.append(kv(20, 30)) // v1
    // Batch read ≡ Lake.read()
    val batch = spark.read.format(Fmt).load(lake.root)
    assert(batch.count() === 30)
    assert(batch.agg(sum("k")).head().getLong(0)
      === lake.read().agg(sum("k")).head().getLong(0))
    // Column pruning survives the projection path.
    assert(batch.select("k").as[Long].collect().sorted.toSeq === (0L until 30L))
    // startingVersion=1 streams only v1's commit.
    val name = s"snapstream3${System.nanoTime()}"
    val q = spark.readStream.format(Fmt)
      .option("startingVersion", "1").load(lake.root)
      .writeStream.outputMode("append").format("memory").queryName(name)
      .option("checkpointLocation",
        Files.createTempDirectory("snap-stream-s").toString).start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).select("k").as[Long].collect().sorted.toSeq
        === (20L until 30L))
    } finally q.stop()
  }

  test("versionAsOf: batch time travel through the connector; DV'd states serve masked") {
    val lake = freshLake()
    lake.append(kv(0, 20)) // v0
    lake.overwrite(kv(100, 110)) // v1
    lake.append(kv(110, 115)) // v2
    // Time travel to each version ≡ Lake.readAsOf.
    assert(spark.read.format(Fmt).option("versionAsOf", "0")
      .load(lake.root).count() === 20)
    assert(spark.read.format(Fmt).option("versionAsOf", "1")
      .load(lake.root).select("k").as[Long].collect().sorted.toSeq ===
      (100L until 110L))
    assert(spark.read.format(Fmt).option("versionAsOf", "2")
      .load(lake.root).count() === 15)
    // Unknown versions refuse loudly.
    intercept[Exception](spark.read.format(Fmt)
      .option("versionAsOf", "9").load(lake.root).count())
    // A DV'd read version serves DV-APPLIED (round 19): the masked
    // row is gone, an earlier clean version is untouched.
    lake.deleteKeysMor(Seq(100L).toDF("k"), "k") // v3
    assert(spark.read.format(Fmt).load(lake.root)
      .select("k").as[Long].collect().sorted.toSeq ===
      lake.read().select("k").as[Long].collect().sorted.toSeq,
      "connector batch read of a DV'd table must equal Lake.read()")
    assert(!spark.read.format(Fmt).load(lake.root)
      .select("k").as[Long].collect().contains(100L))
    assert(spark.read.format(Fmt).option("versionAsOf", "2")
      .load(lake.root).count() === 15)
    // versionAsOf AT the DV'd version applies that version's vectors.
    assert(spark.read.format(Fmt).option("versionAsOf", "3")
      .load(lake.root).count() === 14)
  }

  test("DV-aware batch reads: carried positions, many files, per-version row-exactness, streaming guard unchanged") {
    val lake = freshLake()
    lake.append(kv(0, 400))   // v0
    Compact.clusterBy(lake, "k", 4) // v1: 4 disjoint files
    lake.deleteKeysMor((0L until 400L by 7).toDF("k"), "k")   // v2
    lake.deleteKeysMor((0L until 400L by 11).toDF("k"), "k")  // v3:
    // re-touched files REPLACE their pointer, carrying v2's
    // positions forward — the connector must honor the union.
    lake.append(kv(400, 450)) // v4: plain files mix with DV'd ones
    def connectorAt(v: Int): Seq[Long] = {
      val r = if (v < 0) spark.read.format(Fmt).load(lake.root)
        else spark.read.format(Fmt).option("versionAsOf", v.toString)
          .load(lake.root)
      r.select("k").as[Long].collect().sorted.toSeq
    }
    def lakeAt(v: Int): Seq[Long] =
      (if (v < 0) lake.read() else lake.readAsOf(v))
        .select("k").as[Long].collect().sorted.toSeq
    (2 to 4).foreach { v =>
      assert(connectorAt(v) === lakeAt(v),
        s"connector versionAsOf=$v must equal Lake.readAsOf($v)")
    }
    assert(connectorAt(-1) === lakeAt(-1))
    val head = connectorAt(-1)
    assert(head.contains(1L) && !head.contains(7L) && !head.contains(11L)
      && !head.contains(77L) && head.contains(449L))
    // Column pruning still composes: a projection of the non-key
    // column on the masked state matches the Lake's row set.
    assert(spark.read.format(Fmt).load(lake.root)
      .select("v").as[String].collect().sorted.toSeq ===
      lake.read().select("v").as[String].collect().sorted.toSeq)
    // Pruning filters compose with masks (residual keeps semantics).
    assert(spark.read.format(Fmt).load(lake.root)
      .filter(col("k") >= 100L && col("k") < 200L)
      .select("k").as[Long].collect().sorted.toSeq ===
      (100L until 200L).filter(k => k % 7 != 0 && k % 11 != 0))
    // The STREAMING append-only guard is unchanged: dv commits in the
    // window still refuse without ignoreChanges.
    val name = s"snapdv${System.nanoTime()}"
    val q = spark.readStream.format(Fmt).load(lake.root)
      .writeStream.outputMode("append").format("memory").queryName(name)
      .option("checkpointLocation",
        Files.createTempDirectory("snap-dv-ckpt").toString).start()
    val e = intercept[Exception] { q.processAllAvailable() }
    try assert(e.getMessage.contains("deletion vectors") ||
      e.getMessage.contains("append-only") ||
      e.getMessage.contains("ignoreChanges"))
    finally q.stop()
  }

  test("batch filter pushdown: zone maps and Blooms prune FILES at planning") {
    val lake = Snapshot.Lake(spark,
      Files.createTempDirectory("snap-push-").toString,
      statsCols = Seq("k"), bloomCols = Seq("v"))
    lake.append(kv(0, 1600))
    Compact.clusterBy(lake, "k", 16) // disjoint k ranges, fresh v Blooms
    val all = spark.read.format(Fmt).load(lake.root).rdd.getNumPartitions
    assert(all >= 8)
    // Range predicate on the statted column: most files skip.
    val ranged = spark.read.format(Fmt).load(lake.root)
      .filter(col("k") >= 100L && col("k") < 200L)
    assert(ranged.rdd.getNumPartitions < all / 2,
      s"zone maps must prune: ${ranged.rdd.getNumPartitions} of $all")
    // Residual evaluation keeps semantics exact regardless of pruning.
    assert(ranged.select("k").as[Long].collect().sorted.toSeq ===
      (100L until 200L))
    // Point predicate on the Bloom'd string column.
    val point = spark.read.format(Fmt).load(lake.root)
      .filter(col("v") === "row777")
    assert(point.rdd.getNumPartitions < all / 2,
      s"bloom must prune: ${point.rdd.getNumPartitions} of $all")
    assert(point.count() === 1)
    // Absent value: zero rows whatever the false-positive draw.
    assert(spark.read.format(Fmt).load(lake.root)
      .filter(col("v") === "no-such-row").count() === 0)
  }

  test("batch filter pushdown: the partition tier prunes FILES exactly at planning") {
    val lake = Snapshot.Lake(spark,
      Files.createTempDirectory("snap-ppush-").toString,
      partitionCols = Seq("bucket"))
    lake.append((0L until 400L).map(k => (k, k % 8, s"row$k"))
      .toDF("k", "bucket", "v"))
    val all = spark.read.format(Fmt).load(lake.root).rdd.getNumPartitions
    assert(all >= 8, s"one file per hive partition expected, got $all")
    // Equality on the partition column: exactly that value's files.
    val one = spark.read.format(Fmt).load(lake.root)
      .filter(col("bucket") === 3L)
    assert(one.rdd.getNumPartitions * 8 <= all * 2,
      s"partition tier must prune ~7/8: ${one.rdd.getNumPartitions} of $all")
    assert(one.count() === 50)
    // Range on the partition column prunes too (a partition dir is
    // value-pure, so a comparison is exact at the file level).
    val ranged = spark.read.format(Fmt).load(lake.root)
      .filter(col("bucket") >= 6L)
    assert(ranged.rdd.getNumPartitions < all,
      s"range must prune: ${ranged.rdd.getNumPartitions} of $all")
    assert(ranged.count() === 100)
    // Semantics stay exact regardless of pruning (residual filter).
    assert(spark.read.format(Fmt).load(lake.root)
      .filter(col("bucket") === 99L).count() === 0)
  }

  test("schema evolution: stream carries the union schema, old files null-fill") {
    val lake = freshLake()
    lake.append(kv(0, 5))
    val wide = Seq((5L, "row5", 7.5), (6L, "row6", 8.25))
      .toDF("k", "v", "score")
    lake.evolveSchema(wide.schema) // write-side: evolution is explicit
    lake.append(wide)
    val name = s"snapstream4${System.nanoTime()}"
    val q = spark.readStream.format(Fmt).load(lake.root)
      .writeStream.outputMode("append").format("memory").queryName(name)
      .option("checkpointLocation",
        Files.createTempDirectory("snap-stream-e").toString).start()
    try {
      q.processAllAvailable()
      val t = spark.table(name)
      assert(t.columns.sorted.toSeq === Seq("k", "score", "v"))
      assert(t.count() === 7)
      assert(t.filter(col("k") < 5 && col("score").isNull).count() === 5)
      assert(t.filter(col("k") === 6L).select("score").head().getDouble(0)
        === 8.25)
    } finally q.stop()
  }

  test("column mapping: the connector serves LOGICAL names across a rename") {
    val lake = freshLake()
    lake.append(kv(0, 10))            // v0: (k, v)
    lake.renameColumn("v", "label")   // v1: metadata-only
    lake.append(Seq((10L, "row10")).toDF("k", "label")) // v2
    // Batch read through the connector: logical columns, both eras'
    // values (v0's files store the physical column name `v`).
    val b = spark.read.format(Fmt).load(lake.root)
    assert(b.columns.sorted.toSeq === Seq("k", "label"))
    assert(b.count() === 11)
    assert(b.filter(col("k") === 3L).select("label").head().getString(0)
      === "row3")
    // Column pruning + zone pushdown still work against the physical
    // stats key: a k-range filter on the renamed table prunes files.
    assert(b.filter(col("k") === 10L).select("label").head().getString(0)
      === "row10")
    // Streaming drain: micro-batches carry the logical schema.
    val name = s"snapstream5${System.nanoTime()}"
    val q = spark.readStream.format(Fmt).load(lake.root)
      .writeStream.outputMode("append").format("memory").queryName(name)
      .option("checkpointLocation",
        Files.createTempDirectory("snap-stream-m").toString).start()
    try {
      q.processAllAvailable()
      val t = spark.table(name)
      assert(t.columns.sorted.toSeq === Seq("k", "label"))
      assert(t.count() === 11)
      assert(t.filter(col("label").isNull).count() === 0,
        "pre-rename files must resolve through the physical name")
    } finally q.stop()
    // versionAsOf time travel resolves schema AND mapping AT the read
    // version (agreeing with Lake.readAsOf): v0 serves its own
    // recorded name `v` with values, never the post-rename `label`
    // null-filled (the head-fold bug this case pins down).
    val v0 = spark.read.format(Fmt).option("versionAsOf", "0")
      .load(lake.root)
    assert(v0.columns.sorted.toSeq === Seq("k", "v"))
    assert(v0.filter(col("k") === 3L).select("v").head().getString(0)
      === "row3")
    assert(v0.count() === 10)
    // ... and the head read (no option) still serves the new names.
    assert(spark.read.format(Fmt).load(lake.root).columns.sorted.toSeq
      === Seq("k", "label"))
  }

  test("lake-to-lake hop: streaming source into SnapshotSink is exactly-once end to end") {
    val bronze = freshLake()
    bronze.append(kv(0, 40))
    bronze.append(kv(40, 60))
    val silver = Snapshot.Lake(spark,
      Files.createTempDirectory("snap-silver-").toString)
    val q = graft.stream.SnapshotSink.attach(
      spark.readStream.format(Fmt).load(bronze.root),
      silver, writerId = "hop",
      checkpointDir = Files.createTempDirectory("snap-hop-ckpt").toString)
    try q.processAllAvailable() finally q.stop()
    assert(silver.read().count() === 60)
    assert(silver.commits.forall(_.txn.exists(_._1 == "hop")))
    // Replay of the hop's last batch is a no-op on the silver side.
    assert(silver.appendIdempotent(kv(0, 1), "hop",
      silver.lastTxn("hop")).isEmpty)
    assert(silver.read().count() === 60)
  }
}
