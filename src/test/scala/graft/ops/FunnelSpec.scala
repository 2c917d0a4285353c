package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Hand cases for the earliest-anchor windowed funnel (corpus-scale
  * behavior is gated by funnel_windowed's DuckDB oracle). */
class FunnelSpec extends SparkSpec {
  import spark.implicits._

  test("staged: exact chain semantics — ordering, window, skips, lags") {
    // u1 completes cleanly; u2's click is before its view (no) then
    // past the window (no); u3 never views (absent from the funnel);
    // u4 reaches clicks late and purchases after them.
    val ev = Seq(
      (1L, 10L, "view"), (1L, 20L, "click"), (1L, 30L, "purchase"),
      (2L, 10L, "view"), (2L, 5L, "click"), (2L, 200L, "click"),
      (3L, 5L, "click"), (3L, 10L, "purchase"),
      (4L, 0L, "view"), (4L, 20L, "purchase"), (4L, 40L, "click"),
      (4L, 60L, "purchase"))
      .toDF("u", "t", "et")
    val rows = Funnel.staged(ev, col("u"), col("t"), col("et"),
        Seq("view", "click", "purchase"), windowUs = 100L)
      .collect()
    val out = rows.map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
    assert(rows.length == 3, "one row per stage")
    assert(out(1L) == (("view", 3L, 0L)))
    // u1 lag 10, u4 lag 40 → HALF_UP mean 25
    assert(out(2L) == (("click", 2L, 25L)))
    // purchase must be AFTER the stage-2 click: u4's t=20 purchase is
    // skipped, t=60 counts (lag 60); u1 lag 20 → mean 40
    assert(out(3L) == (("purchase", 2L, 40L)))
  }

  test("staged: an empty stage reports 0 users and a null lag") {
    val ev = Seq((1L, 10L, "view")).toDF("u", "t", "et")
    val rows = Funnel.staged(ev, col("u"), col("t"), col("et"),
        Seq("view", "click"), windowUs = 100L).collect()
    val out = rows.map(r => r.getLong(0) -> ((r.getLong(2), r.isNullAt(3)))).toMap
    assert(rows.length == 2, "one row per stage")
    assert(out(1L) == ((1L, false)))
    assert(out(2L) == ((0L, true)))
  }
}
