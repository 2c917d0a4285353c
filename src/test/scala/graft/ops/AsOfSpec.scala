package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

class AsOfSpec extends SparkSpec {
  import spark.implicits._

  test("as-of join picks the latest right row at-or-before each left ts") {
    val left = Seq(("u1", 10L, "a"), ("u1", 25L, "b"), ("u1", 5L, "c"),
      ("u2", 50L, "d")).toDF("k", "lts", "tag")
    val right = Seq(("u1", 10L, 1.0), ("u1", 20L, 2.0), ("u2", 60L, 3.0))
      .toDF("k", "rts", "rv")
    val rows = AsOf.asofJoin(left, right, "k", "lts", "rts", "rv")
      .select(col("tag"), col("asof_ts"), col("asof_value")).collect()
    val out = rows.map(r => r.getString(0) ->
      (if (r.isNullAt(1)) None else Some((r.getLong(1), r.getDouble(2))))).toMap
    assert(rows.length == 4 && out.size == 4) // one row per left row
    assert(out("a") == Some((10L, 1.0))) // equal ts matches (<= semantics)
    assert(out("b") == Some((20L, 2.0))) // latest before 25
    assert(out("c") == None)             // nothing at or before 5
    assert(out("d") == None)             // u2's only right row is later
  }

  test("as-of join is per-key: keys never leak across") {
    val left = Seq(("u1", 100L, "x")).toDF("k", "lts", "tag")
    val right = Seq(("u2", 50L, 9.9)).toDF("k", "rts", "rv")
    val out = AsOf.asofJoin(left, right, "k", "lts", "rts", "rv").collect()
    assert(out.length == 1 && out(0).isNullAt(out(0).fieldIndex("asof_value")))
  }
}
