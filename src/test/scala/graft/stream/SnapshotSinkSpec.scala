package graft.stream

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

import graft.SparkSpec
import graft.io.Snapshot

/** Exactly-once contract of the streaming lake sink: each micro-batch
  * lands as one txn-stamped commit, a re-delivered batch is a no-op,
  * the CDC feed over the sink's commits reads back exactly the
  * per-batch increments, and a crash between the lake commit and the
  * engine checkpoint costs nothing on resume. */
class SnapshotSinkSpec extends SparkSpec with graft.LowStatePartitions {
  import spark.implicits._

  test("micro-batches commit once; replayed batch is skipped; CDC reads the increments") {
    val lake = Snapshot.Lake(spark,
      Files.createTempDirectory("lake-sink-").toString, statsCols = Seq("k"))
    val ms = MemoryStream[Long](spark)
    val ckpt = Files.createTempDirectory("lake-sink-ckpt-").toString
    val q = SnapshotSink.attach(ms.toDF().withColumnRenamed("value", "k"),
      lake, writerId = "sensor-writer", checkpointDir = ckpt)
    try {
      ms.addData(0L until 50L: _*); q.processAllAvailable()
      ms.addData(50L until 80L: _*); q.processAllAvailable()
    } finally q.stop()

    // Two non-empty batches ⇒ two commits, both txn-stamped, rows exact.
    assert(lake.read().count() === 80)
    val txns = lake.commits.flatMap(_.txn)
    assert(txns.map(_._1).distinct === Seq("sensor-writer"))
    assert(txns.map(_._2).sorted === Seq(0L, 1L))
    assert(lake.lastTxn("sensor-writer") === 1L)

    // The at-least-once replay: re-delivering batch 1 (or 0) must be a
    // no-op — same rows, same version count, same txn high-water mark.
    val vBefore = lake.latestVersion
    assert(lake.appendIdempotent(
      (50L until 80L).toDF("k"), "sensor-writer", 1L).isEmpty)
    assert(lake.appendIdempotent(
      (0L until 50L).toDF("k"), "sensor-writer", 0L).isEmpty)
    assert(lake.latestVersion === vBefore)
    assert(lake.read().count() === 80)

    // A NEW batch from the same writer still lands…
    assert(lake.appendIdempotent(
      (80L until 90L).toDF("k"), "sensor-writer", 2L).nonEmpty)
    assert(lake.read().count() === 90)
    // …and an independent writer is tracked separately.
    assert(lake.lastTxn("other-writer") === -1L)
    assert(lake.appendIdempotent(
      (900L until 910L).toDF("k"), "other-writer", 0L).nonEmpty)
    assert(lake.read().count() === 100)

    // CDC over the sink's first two commits reads back exactly the
    // micro-batch increments (insert-only, no deletes).
    val c = lake.changes(0, 1)
    assert(c.filter("_op = 'delete'").count() === 0)
    assert(c.filter("_op = 'insert'").select("k").as[Long].collect().sorted
      .toSeq === (50L until 80L))
  }

  test("CDC merge sink: per-batch MOR apply, exactly-once under replay") {
    val lake = Snapshot.Lake(spark,
      Files.createTempDirectory("lake-cdc-sink-").toString,
      statsCols = Seq("k"))
    lake.append((0L until 100L).map(k => (k, k)).toDF("k", "v"))
    val filesBefore = lake.liveFiles(lake.latestVersion).map(_.path).toSet
    val ms = MemoryStream[(String, Long, Long)](spark)
    val ckpt = Files.createTempDirectory("lake-cdc-ckpt-").toString
    val q = SnapshotSink.attachCdc(
      ms.toDF().toDF("_op", "k", "v"), lake, "k",
      writerId = "cdc-writer", checkpointDir = ckpt)
    try {
      // batch 0: update 5 → 1005, delete 7, insert 200
      ms.addData(("upsert", 5L, 1005L), ("delete", 7L, 0L),
        ("upsert", 200L, 1200L))
      q.processAllAvailable()
      // batch 1: update the batch-0 insert, delete a seeded key
      ms.addData(("upsert", 200L, 1201L), ("delete", 9L, 0L))
      q.processAllAvailable()
    } finally q.stop()
    // Merge semantics across batches: updates overwrite (incl. a
    // key the STREAM itself inserted a batch earlier), deletes hide.
    val rows = lake.read().collect()
    assert(rows.length === 99) // 100 − 2 deletes + 1 insert
    val got = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 99) // one live row per key
    assert(got(5L) === 1005L && got(200L) === 1201L)
    assert(!got.contains(7L) && !got.contains(9L))
    // One txn-stamped commit per micro-batch.
    assert(lake.commits.flatMap(_.txn).filter(_._1 == "cdc-writer")
      .map(_._2) === Seq(0L, 1L))
    // Merge-on-read: every seeded file is still live (masked, never
    // rewritten) and deletion vectors are engaged.
    assert(filesBefore.subsetOf(
      lake.liveFiles(lake.latestVersion).map(_.path).toSet))
    assert(lake.liveState(lake.latestVersion).exists(_._2.nonEmpty))
    // The replay contract: re-delivering the last batch is a no-op.
    val vBefore = lake.latestVersion
    assert(lake.applyCdcMor(
      Seq(("upsert", 200L, 9999L)).toDF("_op", "k", "v"),
      "k", "cdc-writer", lake.lastTxn("cdc-writer")).isEmpty)
    assert(lake.latestVersion === vBefore)
    assert(lake.read().filter("k = 200").head().getLong(1) === 1201L)
  }

  test("crash after the lake commit, before the checkpoint: resume skips the redelivered batch; catch-up is paced") {
    // Lake-to-lake ETL: bronze commits stream through the snapshot
    // source one commit per trigger into a curated silver lake. The
    // first drain dies after batch 1's silver commit is durable but
    // before the engine checkpoints batch 1, so the resumed query
    // delivers batch 1 again; its txn stamp must skip it.
    def kv(lo: Long, hi: Long) = (lo until hi).map(k => (k, k * 3)).toDF("k", "v")
    def tmp(p: String) = Files.createTempDirectory(p).toString
    val bronze = Snapshot.Lake(spark, tmp("lake-bronze-"))
    (0 until 4).foreach(i => bronze.append(kv(i * 25L, i * 25L + 25L)))
    val silver = Snapshot.Lake(spark, tmp("lake-silver-"))
    val ckpt = tmp("lake-silver-ckpt-")
    def curate(df: DataFrame) = df.filter(col("k") % 10 =!= 7)
      .select(col("k"), col("v"), (col("v") * 2 + 1).as("score"))
    def src() = spark.readStream.format("graft.io.v2.SnapshotStreamSource")
      .option("maxCommitsPerTrigger", 1).load(bronze.root)
    def silverTxns() =
      silver.commits.flatMap(_.txn).filter(_._1 == "nightly").map(_._2)
    def assertSilverIsCuratedBronze(): Unit = {
      val expected = curate(bronze.read())
      assert(silver.read().exceptAll(expected).isEmpty &&
        expected.exceptAll(silver.read()).isEmpty,
        "silver must equal the batch curation of bronze")
    }
    def resume(): Unit = {
      val q = SnapshotSink.attach(curate(src()), silver, "nightly", ckpt,
        trigger = Some(Trigger.AvailableNow()))
      try assert(q.awaitTermination(120000)) finally q.stop()
    }

    val crashed = new AtomicBoolean(false)
    val q1 = src().writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, id: Long) =>
        if (!b.isEmpty) { silver.appendIdempotent(curate(b), "nightly", id); () }
        if (id == 1 && crashed.compareAndSet(false, true))
          throw new RuntimeException("injected crash after the lake commit")
      }.start()
    try intercept[StreamingQueryException](q1.awaitTermination(120000))
    finally q1.stop()
    assert(crashed.get)
    assert(silverTxns() === Seq(0L, 1L)) // batch 1 landed before the crash
    resume()
    assertSilverIsCuratedBronze()
    assert(silverTxns() === Seq(0L, 1L, 2L, 3L)) // each bronze commit once

    // Nightly catch-up: four new bronze commits, one resume, paced one
    // commit per trigger and picking up exactly the increment.
    (4 until 8).foreach(i => bronze.append(kv(i * 25L, i * 25L + 25L)))
    resume()
    assertSilverIsCuratedBronze()
    assert(silverTxns() === (0L until 8L))
  }
}
