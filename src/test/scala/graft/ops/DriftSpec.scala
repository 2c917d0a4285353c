package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Hand cases for the drift monitors (the DuckDB oracle gates the
  * corpus-scale behavior of ks_drift / psi_drift).
  */
class DriftSpec extends SparkSpec {
  import spark.implicits._

  test("ks: identical samples give D = 0; disjoint samples give D = 1") {
    val same = Seq.tabulate(8)(i => ("k", i % 2 == 0, (i / 2).toDouble))
      .toDF("g", "in_a", "v")
    val out = Drift.ks(same, col("g"), col("in_a"), col("v")).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("d_num") == 0L)
    assert(out.head.getAs[Long]("d_x1e6") == 0L)

    val disjoint = (Seq.tabulate(4)(i => ("k", true, i.toDouble)) ++
      Seq.tabulate(4)(i => ("k", false, 10.0 + i))).toDF("g", "in_a", "v")
    val d = Drift.ks(disjoint, col("g"), col("in_a"), col("v")).head()
    // A entirely below B: at A's max the CDF gap is 1 → d_num = na·nb
    assert(d.getAs[Long]("d_num") == 16L)
    assert(d.getAs[Long]("d_x1e6") == 1000000L)
  }

  test("ks: half-shifted overlap gives the exact hand-computed statistic") {
    // A = {1,2,3,4}, B = {3,4,5,6}: max scaled gap is 8 at v ∈ {2,3,4}
    // (nb·cumA − na·cumB = 4·2−4·0), D = 8/16 = 0.5.
    val df = (Seq(1, 2, 3, 4).map(v => ("k", true, v.toDouble)) ++
      Seq(3, 4, 5, 6).map(v => ("k", false, v.toDouble))).toDF("g", "in_a", "v")
    val d = Drift.ks(df, col("g"), col("in_a"), col("v")).head()
    assert(d.getAs[Long]("na") == 4L && d.getAs[Long]("nb") == 4L)
    assert(d.getAs[Long]("d_num") == 8L)
    assert(d.getAs[Long]("d_x1e6") == 500000L)
  }

  test("ks: keys are independent — a drifted key does not leak into a stable one") {
    val df = (Seq.tabulate(6)(i => ("stable", i % 2 == 0, (i / 2).toDouble)) ++
      Seq.tabulate(4)(i => ("shifted", i < 2, if (i < 2) i.toDouble else 100.0 + i)))
      .toDF("g", "in_a", "v")
    val rows = Drift.ks(df, col("g"), col("in_a"), col("v")).collect()
    val out = rows.map(r => r.getString(0) -> r.getAs[Long]("d_x1e6")).toMap
    assert(rows.length == 2, "one row per key")
    assert(out("stable") == 0L)
    assert(out("shifted") == 1000000L)
  }

  test("ks: a key entirely on one side of the split is dropped, not nulled") {
    // "first seen after the midpoint" — na = 0 would divide by zero;
    // the contract drops the key so the statistic never silently
    // degrades to null (ADVICE r10).
    val df = (Seq.tabulate(6)(i => ("both", i % 2 == 0, i.toDouble)) ++
      Seq.tabulate(3)(i => ("late_only", false, i.toDouble)))
      .toDF("g", "in_a", "v")
    val out = Drift.ks(df, col("g"), col("in_a"), col("v")).collect()
    assert(out.map(_.getString(0)).toSeq == Seq("both"))
  }

  test("psi: identical histograms give exactly 0; a full shift is large and positive") {
    val same = Seq.tabulate(20)(i => ("k", i % 2 == 0, (i % 5) * 10.0))
      .toDF("g", "in_a", "v")
    val psi0 = Drift.psi(same, col("g"), col("in_a"), col("v"), 5.0).head()
    assert(psi0.getAs[Long]("psi_x1e6") == 0L)
    assert(psi0.getAs[Long]("n_bins") == 5L)

    val shifted = (Seq.tabulate(10)(i => ("k", true, 0.0 + i % 2) ) ++
      Seq.tabulate(10)(i => ("k", false, 50.0 + i % 2))).toDF("g", "in_a", "v")
    val psi1 = Drift.psi(shifted, col("g"), col("in_a"), col("v"), 5.0).head()
    // two disjoint bins, (11/12 vs 1/12) each side: PSI ≈ 2·(10/12)·ln(11)
    // ≈ 3.996 — anything in that band proves the shift registered
    val v = psi1.getAs[Long]("psi_x1e6")
    assert(v > 3500000L && v < 4500000L, s"psi_x1e6=$v")
  }

  test("cusum: a flat series has zero excursion") {
    val df = Seq.tabulate(10)(i => ("k", i.toLong, i.toLong, 5.0))
      .toDF("g", "t", "tb", "v")
    val out = Drift.cusum(df, col("g"), col("t"), col("tb"), col("v")).head()
    assert(out.getAs[Long]("d_num") == 0L)
    assert(out.getAs[Long]("d_x100") == 0L)
  }

  test("cusum: a planted mean shift yields the exact hand-computed excursion") {
    // 6 rows at 10.0 then 6 at 20.0 (centi 1000/2000, n = 12,
    // s = 18000): C_rn = 12·prefix − rn·18000 descends to its min
    // −36000 at the shift boundary (rn = 6) then climbs back to 0, so
    // the max excursion E = C − runningMin is 0 − (−36000) = 36000,
    // first attained at the series end (t = 11); d_x100 =
    // HALF_UP(36000/12) = 3000 centi-units = a 30.0 shift magnitude.
    val df = (Seq.tabulate(6)(i => ("k", i.toLong, i.toLong, 10.0)) ++
      Seq.tabulate(6)(i => ("k", (6 + i).toLong, (6 + i).toLong, 20.0)))
      .toDF("g", "t", "tb", "v")
    val out = Drift.cusum(df, col("g"), col("t"), col("tb"), col("v")).head()
    assert(out.getAs[Long]("n") == 12L)
    assert(out.getAs[Long]("d_num") == 36000L)
    assert(out.getAs[Long]("cp_t") == 11L)
    assert(out.getAs[Long]("d_x100") == 3000L)
  }

  test("psi: every per-bin term is non-negative (floored lns share sign with the gap)") {
    // adversarial near-ties: counts differing by 1 around the smoothing
    val df = (Seq.tabulate(7)(i => ("k", true, i * 5.0)) ++
      Seq.tabulate(8)(i => ("k", false, (i % 7) * 5.0))).toDF("g", "in_a", "v")
    val psi = Drift.psi(df, col("g"), col("in_a"), col("v"), 5.0).head()
    assert(psi.getAs[Long]("psi_x1e6") >= 0L)
  }
}
