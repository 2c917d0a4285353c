package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

class RangeJoinSpec extends SparkSpec {
  import spark.implicits._

  test("range join finds pairs across bucket boundaries, exact bounds hold") {
    val left = Seq(("u1", 1L, 100L), ("u1", 2L, 1000L), ("u2", 3L, 100L))
      .toDF("k", "l_id", "l_ts")
    val right = Seq(
      ("u1", 10L, 95L),   // 5 before left 1 (same bucket, gap 10)
      ("u1", 11L, 91L),   // 9 before left 1 → boundary: 100-91=9 < 10 ✓
      ("u1", 12L, 90L),   // exactly gap before left 1 → excluded (> l-gap)
      ("u1", 13L, 100L),  // equal ts → included (<=)
      ("u1", 14L, 997L),  // 3 before left 2, crosses bucket boundary
      ("u2", 15L, 300L)   // after left 3 → excluded
    ).toDF("k", "r_id", "r_ts")
    val out = RangeJoin.within(left, right, "k", "l_ts", "r_ts", gapUs = 10L)
      .select(col("l_id"), col("r_id"), col("gap_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(out == Seq((1L, 10L, 5L), (1L, 11L, 9L), (1L, 13L, 0L), (2L, 14L, 3L)))
  }

  test("no duplicate pairs from the bucket explode") {
    val left = Seq(("u1", 1L, 50L)).toDF("k", "l_id", "l_ts")
    val right = Seq(("u1", 10L, 45L)).toDF("k", "r_id", "r_ts")
    assert(RangeJoin.within(left, right, "k", "l_ts", "r_ts", 100L).count() == 1)
  }

  test("negative epochs (pre-1970) bucket by floor, pairs found, bounds exact") {
    val left = Seq(("u1", 1L, -95L), ("u1", 2L, -5L), ("u1", 3L, -20L))
      .toDF("k", "l_id", "l_ts")
    val right = Seq(
      ("u1", 10L, -100L), // 5 before left 1 → pair
      ("u1", 11L, -91L),  // AFTER left 1 → excluded
      ("u1", 12L, -12L),  // 7 before left 2, crosses the zero-straddling boundary
      ("u1", 13L, -21L)   // 1 before left 3 (left exactly on a bucket edge)
    ).toDF("k", "r_id", "r_ts")
    val out = RangeJoin.within(left, right, "k", "l_ts", "r_ts", gapUs = 10L)
      .select(col("l_id"), col("r_id"), col("gap_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(out == Seq((1L, 10L, 5L), (2L, 12L, 7L), (3L, 13L, 1L)))
  }

  test("planned as a shuffle equi-join, not a nested loop") {
    val e = graft.Tables.events(spark, sf).select(col("user_id"),
      col("event_id"), expr("ts div 1000").as("ts_us"))
    val p = RangeJoin.within(
      e.select(col("user_id"), col("ts_us").as("l_ts")),
      e.select(col("user_id"), col("ts_us").as("r_ts")),
      "user_id", "l_ts", "r_ts", 3600000000L)
    val plan = p.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }
}
