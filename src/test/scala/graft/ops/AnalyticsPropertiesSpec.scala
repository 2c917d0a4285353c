package graft.ops

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.ext.Sampling

/** Property-based invariants for the round-5 analytics operators —
  * ∀ random inputs (fixed seeds, WindowPropertiesSpec's pattern):
  * gap-fill grids are contiguous and conserve events; trend slopes are
  * shift-invariant; pointer doubling matches a brute-force climb;
  * mixture sampling is monotone in its rate. */
class AnalyticsPropertiesSpec extends SparkSpec {
  import spark.implicits._

  private val H = 3600000000L

  private def sample[A](g: Gen[A], seed: Long): A =
    g(Gen.Parameters.default, Seed(seed)).get

  test("gap_fill: contiguous per-key grid, events conserved, fill total") {
    val gen = Gen.listOfN(80, for {
      k <- Gen.oneOf(1L, 2L, 3L)
      t <- Gen.chooseNum(0L, 50L * H)
      v <- Gen.chooseNum(-100.0, 100.0)
    } yield (k, t, v))
    (1 to 6).foreach { s =>
      val rows = sample(gen, s.toLong)
      val out = GapFill.hourlyFill(rows.toDF("k", "tus", "v"),
        Seq(col("k")), col("tus"), col("v"), H)
        .select(col("k"), col("bucket_us"), col("n_events"), col("filled_value"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.get(3)))
      // events conserved
      assert(out.map(_._3).sum === rows.size.toLong)
      // forward fill is total (every grid row carries a value)
      assert(out.forall(_._4 != null))
      // per key: buckets are exactly the contiguous range, each once
      out.groupBy(_._1).foreach { case (k, g) =>
        val buckets = g.map(_._2).sorted
        assert(buckets.distinct.length === buckets.length, s"dup bucket for $k")
        assert(buckets === (buckets.head to buckets.last by H).toArray,
          s"gap in grid for key $k")
      }
    }
  }

  test("trend slope is invariant under x- and y-shifts") {
    val gen = Gen.listOfN(40, for {
      x <- Gen.chooseNum(0L, 10000L)
      y <- Gen.chooseNum(-100000L, 100000L)
    } yield (1L, x, y))
    (1 to 6).foreach { s =>
      val pts = sample(gen, s.toLong)
      def slopeOf(rows: Seq[(Long, Long, Long)]): Option[Double] = {
        val r = Trend.slope(rows.toDF("k", "x", "y"),
          Seq(col("k")), col("x"), col("y")).collect().head
        if (r.isNullAt(r.fieldIndex("slope"))) None
        else Some(r.getAs[Double]("slope"))
      }
      val base = slopeOf(pts)
      // shifting every x by a constant (epoch choice) or every y by a
      // constant (sensor offset) must not move the fitted slope.
      assert(slopeOf(pts.map { case (k, x, y) => (k, x + 777L, y) }) === base)
      assert(slopeOf(pts.map { case (k, x, y) => (k, x, y + 5000L) }) === base)
    }
  }

  test("pointer doubling matches brute-force root/depth on random forests") {
    val genN = 60
    (1 to 6).foreach { s =>
      // node i picks a parent uniformly from 1..i-1, or none (forest).
      val parents = (1 to genN).map { i =>
        val g = Gen.option(Gen.chooseNum(1, math.max(1, i - 1)))
        val p = if (i == 1) None else sample(g, s * 1000L + i)
        (i.toLong, p.map(_.toLong).filter(_ < i))
      }
      val byNode = parents.toMap
      def climb(n: Long): (Long, Long) = {
        var cur = n; var d = 0L
        while (byNode(cur).isDefined) { cur = byNode(cur).get; d += 1 }
        (cur, d)
      }
      val expected = parents.map { case (n, _) => n -> climb(n) }.toMap
      val out = Hierarchy.rootAndDepth(parents.toDF("node", "parent"), rounds = 6)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(out === expected)
    }
  }

  test("mixture sampling is monotone in the rate: lower-rate ⊆ higher-rate") {
    val docs = (0L until 500L).map(i => (i, "s")).toDF("id", "src")
    def kept(permille: Int): Seq[Long] = {
      val w = Seq(("s", permille)).toDF("stratum", "permille")
      Sampling.mixtureSample(docs, col("id"), col("src"), w)
        .select(col("id")).as[Long].collect().toSeq.sorted
    }
    val k100 = kept(100); val k500 = kept(500); val k1000 = kept(1000)
    assert(k100.toSet.subsetOf(k500.toSet) && k500.toSet.subsetOf(k1000.toSet))
    assert(k1000 === (0L until 500L)) // permille 1000 keeps everything, once
  }
}
