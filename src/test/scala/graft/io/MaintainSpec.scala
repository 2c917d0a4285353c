package graft.io

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}

import graft.SparkSpec

/** The maintenance policy's contract: debts trigger exactly one
  * rewrite commit (purging DV debt, collapsing small files), healthy
  * tables are untouched, and the decision itself never scans data. */
class MaintainSpec extends SparkSpec with graft.LowStatePartitions {
  import spark.implicits._

  private def freshLake() = Snapshot.Lake(spark,
    Files.createTempDirectory("maintain-").toString, statsCols = Seq("k"))

  test("small-file debt compacts once; the result is healthy") {
    val lake = freshLake()
    // 20 tiny appends = 20+ small files for ~2000 rows.
    (0 until 20).foreach { i =>
      lake.append((i * 100L until i * 100L + 100L).toDF("k"))
    }
    val before = lake.liveFiles(lake.latestVersion).size
    val r = Maintain.auto(lake, targetRowsPerFile = 1000L,
      clusterCol = Some("k"))
    assert(r.acted && r.reason.startsWith("small-files"))
    assert(r.filesBefore === before && r.filesAfter < before / 2)
    assert(lake.read().count() === 2000)
    // Clustered rewrite: the zone maps prune again.
    val pruned = lake.pruneFiles(lake.latestVersion,
      Seq(GreaterThanOrEqual("k", 0), LessThanOrEqual("k", 99)))
    assert(pruned.size < r.filesAfter)
    // Second run: healthy, no new version.
    val v = lake.latestVersion
    val r2 = Maintain.auto(lake, targetRowsPerFile = 1000L,
      clusterCol = Some("k"))
    assert(!r2.acted && r2.reason === "healthy")
    assert(lake.latestVersion === v)
  }

  test("DV debt triggers a purge even when file counts are fine") {
    val lake = freshLake()
    lake.append((0L until 1000L).toDF("k").coalesce(2))
    // Mask 30% of rows via MOR — manifest rows still say 1000.
    lake.deleteKeysMor((0L until 300L).toDF("k"), "k")
    assert(lake.maskedPositions(lake.latestVersion) === 300L)
    val r = Maintain.auto(lake, targetRowsPerFile = 1000L)
    assert(r.acted && r.reason === "dv-debt(300/1000)")
    assert(r.maskedBefore === 300L)
    // The rewrite purged the DVs and dropped the masked rows for real.
    val lv = lake.latestVersion
    assert(lake.liveState(lv).forall(_._2.isEmpty))
    assert(lake.maskedPositions(lv) === 0L)
    assert(lake.read().count() === 700)
    assert(!Maintain.auto(lake, targetRowsPerFile = 1000L).acted)
    // DESCRIBE HISTORY reads the whole story back from the log.
    val hist = lake.describeHistory().orderBy("version").collect()
      .map(r => (r.getInt(0), r.getString(1)))
    assert(hist.toSeq === Seq((0, "append"), (1, "morDelete"),
      (2, "rewrite")))
    // Every commit's ICT publish stamp rides the history row, strictly
    // increasing (the monotone-ts invariant, surfaced like Delta's
    // history `timestamp` column).
    val stamps = lake.describeHistory().orderBy("version").collect()
      .map(_.getAs[Long]("commit_ts"))
    assert(stamps.forall(_ > 0) && stamps.sliding(2).forall(p =>
      p.length < 2 || p(0) < p(1)))
  }

  test("describeHistory(v0, v1) parses only the window's log files") {
    val lake = freshLake()
    (0 until 12).foreach { i =>
      lake.append((i * 10L until i * 10L + 10L).toDF("k"))
    }
    Snapshot.logFilesParsed.set(0L)
    val h = lake.describeHistory(10, 11).orderBy("version").collect()
    assert(h.map(_.getInt(0)).toSeq === Seq(10, 11))
    assert(h.forall(_.getString(1) === "append"))
    // The recent-history probe is O(window): 2 commit parses, never
    // the 12-commit replay (and never the checkpoint — history is a
    // per-commit read, not a folded-state read).
    assert(Snapshot.logFilesParsed.get() <= 2L,
      s"range history parsed ${Snapshot.logFilesParsed.get()} files")
    // The full form still sees everything.
    assert(lake.describeHistory().count() === 12)
    // Bad windows fail loudly.
    intercept[IllegalArgumentException] { lake.describeHistory(5, 4) }
    intercept[IllegalArgumentException] { lake.describeHistory(-1, 4) }
    // ... including a window past the head (versions are 0..11): a
    // silent truncation would read as "commit 12 was empty".
    intercept[IllegalArgumentException] { lake.describeHistory(10, 12) }
  }
}
