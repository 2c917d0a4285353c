package graft.ops

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

class MergeSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private lazy val snapshot = Seq(
    (1L, "alice", 10.0), (2L, "bob", 20.0), (3L, "carol", 30.0),
    (4L, "dave", 40.0)).toDF("id", "name", "bal")

  private lazy val changes = Seq(
    (2L, "U", "bob2", 25.0),   // update payload
    (3L, "D", "", 0.0),        // delete
    (9L, "I", "iris", 90.0)    // insert
  ).toDF("id", "op", "name", "bal")

  test("merge applies inserts, updates, and deletes; untouched rows kept") {
    val out = Merge(snapshot, changes, "id", Seq("name", "bal"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getString(3))).toSeq.sortBy(_._1)
    assert(out == Seq(
      (1L, "alice", 10.0, "kept"),
      (2L, "bob2", 25.0, "updated"),
      (4L, "dave", 40.0, "kept"),
      (9L, "iris", 90.0, "inserted")))
  }

  test("merge is idempotent for an empty changeset") {
    val empty = changes.filter(lit(false))
    val out = Merge(snapshot, empty, "id", Seq("name", "bal"))
    assert(out.filter(col("row_status") =!= "kept").count() == 0)
    assert(out.count() == 4)
  }

  test("streamApply maintains a parquet snapshot across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("merge-stream").toString
    val snapDir = s"$dir/snap"
    val ckpt = s"$dir/ckpt"
    snapshot.write.parquet(snapDir)

    val in = MemoryStream[(Long, String, String, Double, Long)]
    val q = Merge.streamApply(
      in.toDF.toDF("id", "op", "name", "bal", "seq"),
      "id", Seq("name", "bal"), "seq", snapDir, ckpt)
    try {
      // batch 1: update 2, delete 3, insert 9; key 1 gets U then D in
      // the SAME batch — the later sequence number must win (delete)
      in.addData((2L, "U", "bob2", 25.0, 1L), (3L, "D", "", 0.0, 2L),
        (9L, "I", "iris", 90.0, 3L), (1L, "U", "alice2", 11.0, 4L),
        (1L, "D", "", 0.0, 5L))
      q.processAllAvailable()
      val s1 = spark.read.parquet(snapDir).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq.sortBy(_._1)
      assert(s1 == Seq((2L, "bob2", 25.0), (4L, "dave", 40.0),
        (9L, "iris", 90.0)))

      // batch 2: update the row inserted in batch 1, re-insert a key
      // deleted in batch 1
      in.addData((9L, "U", "iris2", 95.0, 6L), (3L, "I", "carol2", 33.0, 7L))
      q.processAllAvailable()
      val s2 = spark.read.parquet(snapDir).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq.sortBy(_._1)
      assert(s2 == Seq((2L, "bob2", 25.0), (3L, "carol2", 33.0),
        (4L, "dave", 40.0), (9L, "iris2", 95.0)))
    } finally q.stop()
  }

  test("the snapshot side joins by broadcast — no snapshot shuffle") {
    val out = Merge(snapshot, changes, "id", Seq("name", "bal"))
    out.collect()
    val plan = out.queryExecution.executedPlan
    assert(collectWithSubqueries(plan) {
      case b: BroadcastHashJoinExec => b
    }.nonEmpty, "changeset must broadcast against the snapshot scan")
  }
}
