package graft.queries

import graft.SparkSpec

/** Semantic gates for analytics queries whose oracle checks equality
  * but not the operator's OWN invariants. */
class AnalyticsQueriesSpec extends SparkSpec {

  test("skyline_frontier: window algebra ≡ brute-force dominance") {
    val out = AnalyticsQueries.queries("skyline_frontier")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty, "cheapest price group's max size is always on the frontier")
    // Brute-force oracle on the spec SF: a part is on the skyline iff
    // no other part is ≤ on price, ≥ on size, and strict in one.
    val parts = graft.Tables.part(spark, sf)
      .selectExpr("p_partkey",
        "CAST(floor(p_retailprice * 100 + 0.5) AS LONG) AS cents",
        "CAST(p_size AS LONG) AS sz")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = parts.filter { case (k, c, z) =>
      !parts.exists { case (k2, c2, z2) =>
        k2 != k && c2 <= c && z2 >= z && (c2 < c || z2 > z)
      }
    }.map(t => (t._1, t._2, t._3)).sortBy(_._1)
    assert(out.sortBy(_._1).toSeq === expected.toSeq)
  }

  test("seasonal_decompose: deviations conserve (Σ dev_num = 0), hours complete") {
    val out = AnalyticsQueries.queries("seasonal_decompose")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    // The 7-day hourly corpus populates every hour of day.
    assert(out.map(_._1).sorted.toSeq === (0L until 24L))
    // Additive decomposition conservation: Σ_h (sum_h·n_tot −
    // sum_tot·n_h) telescopes to exactly zero — a mean-vs-global
    // bookkeeping bug (dropped hour, double-counted total) breaks it.
    assert(out.map(_._4).sum === 0L)
    // The 1e6 cell carries dev_num's sign and is bounded by the
    // centi-value range (HALF_UP of a mean deviation in cents × 1e6).
    assert(out.forall { case (_, _, _, dev, cell) =>
      (dev >= 0) == (cell >= 0) || cell == 0 })
  }

  test("survival_km: risk sets telescope, survival monotone, censoring real") {
    val out = AnalyticsQueries.queries("survival_km")(spark, sf)
      .orderBy("t").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toList
    assert(out.nonEmpty)
    // n_risk(t) − (events + censorings at t) = n_risk(next t).
    out.sliding(2).foreach {
      case List((_, n1, d1, c1, _), (_, n2, _, _, _)) =>
        assert(n1 - d1 - c1 === n2)
      case _ =>
    }
    // The last interval exhausts its risk set.
    val (_, nL, dL, cL, _) = out.last
    assert(nL === dL + cL)
    // S is a product of factors ≤ 1: monotone non-increasing from 1e12.
    val svs = out.map(_._5)
    assert(svs.head <= 1000000000000L)
    svs.sliding(2).foreach { case List(a, b) => assert(b <= a); case _ => }
    // Both deaths and right-censorings exist — the estimator's reason.
    assert(out.map(_._3).sum > 0 && out.map(_._4).sum > 0)
  }

  test("herfindahl_index: bounded by [1e6/k, 1e6]") {
    val r = AnalyticsQueries.queries("herfindahl_index")(spark, sf)
      .collect().head
    val (k, hhi) = (r.getLong(0), r.getLong(2))
    assert(k >= 2)
    assert(hhi >= 1000000L / k - 1 && hhi <= 1000000L)
  }

  test("spearman_rho: rank-sum identity, bounds, brute-force equality") {
    val r = AnalyticsQueries.queries("spearman_rho")(spark, sf)
      .collect().head
    val n = r.getLong(0)
    // Doubled midranks sum to n(n+1) per variable, ties or not.
    assert(r.getLong(1) === n * (n + 1) && r.getLong(2) === n * (n + 1))
    val rho = r.getDouble(6)
    assert(rho >= -1.0000001 && rho <= 1.0000001)
    // Brute force: same doubled midranks in plain Scala, same tree.
    val users = graft.Tables.events(spark, sf)
      .groupBy("user_id")
      .agg(org.apache.spark.sql.functions.expr("CAST(count(*) AS LONG)")
        .as("x"),
        org.apache.spark.sql.functions.expr(
          "CAST(sum(CAST(floor(value * 100 + 0.5) AS LONG)) AS LONG)")
          .as("y"))
      .collect().map(row => (row.getLong(1), row.getLong(2)))
    def ranks(vs: Seq[Long]): Map[Long, Long] = {
      val grouped = vs.groupBy(identity).view.mapValues(_.size.toLong)
        .toSeq.sortBy(_._1)
      var cum = 0L
      grouped.map { case (v, c) =>
        val mid = 2 * cum + c + 1; cum += c; v -> mid }.toMap
    }
    val rxm = ranks(users.map(_._1)); val rym = ranks(users.map(_._2))
    val (rx, ry) = (users.map(u => rxm(u._1)), users.map(u => rym(u._2)))
    def d(l: Long) = l.toDouble
    val (sx, sy) = (rx.sum, ry.sum)
    val sxy = rx.zip(ry).map { case (a, b) => a * b }.sum
    val sxx = rx.map(a => a * a).sum; val syy = ry.map(a => a * a).sum
    val want = (d(n) * d(sxy) - d(sx) * d(sy)) / math.sqrt(
      (d(n) * d(sxx) - d(sx) * d(sx)) * (d(n) * d(syy) - d(sy) * d(sy)))
    assert(rho === want)
  }

  test("anova_f and kruskal_wallis: identities, bounds, and cross-test agreement") {
    val a = AnalyticsQueries.queries("anova_f")(spark, sf).collect().head
    assert(a.getLong(1) === 5L) // five event types
    assert(a.getLong(2) >= 0L && a.getLong(3) > 0L, "SSB ≥ 0 < SSW")
    val f = a.getDouble(4)
    assert(f >= 0.0 && !f.isNaN)
    val kw = AnalyticsQueries.queries("kruskal_wallis")(spark, sf)
      .collect().head
    assert(kw.getLong(1) === 5L)
    assert(kw.getLong(0) === a.getLong(0), "same N both tests")
    // H is χ²(4)-distributed under the null: the 1e3 cell must be a
    // plausible nonnegative statistic, and the two tests must agree on
    // the (event-type ~ value) verdict — they test the same question.
    assert(kw.getLong(4) >= 0L)
    assert(kw.getBoolean(5) === a.getBoolean(5),
      "parametric and rank tests must agree on this corpus")
  }

  test("gini_index: tie-compressed identity equals the brute-force sorted-rank Gini") {
    val r = AnalyticsQueries.queries("gini_index")(spark, sf).collect().head
    val (n, sum, cell) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(cell >= 0 && cell < 1000000L)
    // Brute force on the spec SF: collect spends, sort, rank formula.
    val xs = graft.Tables.orders(spark, sf)
      .groupBy("o_custkey")
      .agg(org.apache.spark.sql.functions.expr(
        "CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS LONG)) AS LONG)")
        .as("x"))
      .collect().map(_.getLong(1)).sorted
    assert(xs.length.toLong === n && xs.map(BigInt(_)).sum === BigInt(sum))
    val sxi = xs.zipWithIndex.map { case (x, i) => BigInt(i + 1) * x }.sum
    val sx = xs.map(BigInt(_)).sum
    val num = 2 * (2 * sxi - (BigInt(n) + 1) * sx) * 1000000 + BigInt(n) * sx
    val want = num / (2 * BigInt(n) * sx)
    assert(BigInt(cell) === want)
  }

  test("holt_linear: initialization, forecast identity, level tracks the series") {
    val out = AnalyticsQueries.queries("holt_linear")(spark, sf)
      .orderBy("day").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toList
    assert(out.size >= 3, "the corpus spans multiple days")
    // Initialization: l_1 = y_1 (at 1e6), b_1 = 0; forecast = l + b.
    val (_, y1, l1, b1, _) = out.head
    assert(l1 === y1 * 1000000L && b1 === 0L)
    out.foreach { case (_, _, l, b, f) => assert(f === l + b) }
    // The level is a convex combination chain: it stays inside the
    // running envelope of forecasts and observations.
    out.sliding(2).foreach {
      case List((_, _, lp, bp, _), (_, y, l, _, _)) =>
        val lo = math.min(y * 1000000L, lp + bp)
        val hi = math.max(y * 1000000L, lp + bp)
        assert(l >= lo - 1 && l <= hi + 1) // ±1 for the HALF_UP step
      case _ =>
    }
  }

  test("mannwhitney_u: U identity holds; the A/A split calibrates to not-significant") {
    val r = AnalyticsQueries.queries("mannwhitney_u")(spark, sf)
      .collect().head
    val (na, r2, u2) = (r.getLong(0), r.getLong(2), r.getLong(3))
    assert(u2 === r2 - na * (na + 1))
    // md5 coin = an A/A test: z must sit inside the null band.
    assert(math.abs(r.getDouble(5)) < 3.0)
    assert(!r.getBoolean(6))
  }

  test("welch_ttest: A/A calibration, variance terms positive, verdict agrees with mannwhitney") {
    val r = AnalyticsQueries.queries("welch_ttest")(spark, sf)
      .collect().head
    val (n1, n2) = (r.getLong(0), r.getLong(1))
    assert(n1 > 0 && n2 > 0, "both arms populated")
    // The per-arm variance-over-n terms must be strictly positive
    // (values are not constant) and comparable in magnitude (same
    // distribution, balanced coin).
    val (w1, w2) = (r.getLong(8), r.getLong(9))
    assert(w1 > 0 && w2 > 0)
    assert(w1 < 4 * w2 && w2 < 4 * w1, s"A/A arms wildly unequal: $w1 $w2")
    // md5 coin = an A/A split: t inside the null band, not significant.
    assert(math.abs(r.getDouble(10)) < 3.0)
    assert(!r.getBoolean(11))
  }

  test("mann_kendall: S bounds, v18 positive, z consistent with the verdict") {
    val r = AnalyticsQueries.queries("mann_kendall")(spark, sf)
      .collect().head
    val (n, s, v18) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(n >= 3, "the corpus spans multiple days")
    val maxS = n * (n - 1) / 2
    assert(math.abs(s) <= maxS, s"S=$s out of [-${maxS}, ${maxS}]")
    assert(v18 > 0, "tie-corrected variance must be positive")
    val z = r.getDouble(3)
    assert(!z.isNaN)
    // verdict replays from (s, v18) exactly
    val wantTrend = math.abs(s) >= 1 &&
      BigInt(180000) * BigInt(math.abs(s) - 1).pow(2) >
        BigInt(38416) * BigInt(v18)
    assert(r.getBoolean(4) === wantTrend)
    assert(r.getBoolean(5) === (s > 0))
  }

  test("cramers_v: cell domain, chi nonnegative, A/A coin calibrates V to ~0") {
    val r = AnalyticsQueries.queries("cramers_v")(spark, sf)
      .collect().head
    val (n, cells, chi, v2) = (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3))
    assert(cells === 10L, "5 event types × 2 arms")
    assert(chi >= 0L && v2 >= 0L)
    // event_type ⟂ md5(event_id) coin: V² must sit near 0 (ppm scale)
    assert(v2 < 10000L, s"independent split produced V²=$v2 ppm")
    assert(n === graft.Tables.events(spark, sf).count())
  }

  test("benford_audit: digit domain, counts conserve, expected mass sums to ~1e9·n") {
    val out = AnalyticsQueries.queries("benford_audit")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.map(_._1).forall(dg => dg >= 1 && dg <= 9))
    val n = out.map(_._2).sum
    // expected_x1e9 = n·p9 exactly, so Σ expected over the observed
    // digits is n·Σp9 exactly (Σ of the 9 rounded constants is
    // 1e9 + 1, not 1e9 — the identity holds either way).
    val expSum = out.map(t => BigInt(t._3)).sum
    val p9 = GovernanceQueries.BenfordP9.toMap
    val want = out.map(t => BigInt(n) * p9(t._1)).sum
    assert(expSum === want, s"expected mass $expSum vs $want")
  }

  test("k_anonymity: every customer released exactly once, every class ≥ k or suppressed") {
    val out = AnalyticsQueries.queries("k_anonymity")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    val total = graft.Tables.customer(spark, sf).count()
    assert(out.map(_._4).sum == total, "released class sizes must conserve the population")
    out.filter(_._1 < 2).foreach { case (lvl, geo, seg, n) =>
      assert(n >= 10, s"level-$lvl class ($geo, $seg) below k: $n")
    }
    // the ladder itself is exercised (at the tiny spec SF every
    // (nation, segment) class is below k, so everything climbs —
    // level-0 coverage is gated by the sf0.01/sf0.1 oracle instead)
    assert(out.nonEmpty, "some class is always released")
    assert(out.count(_._1 == 2L) <= 1, "at most one suppressed bucket")
  }
}
