package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.Dedup

/** Statistical-test queries over `events`/`orders`: chi-square, rank
  * tests, ANOVA, t-tests, correlation, concentration indices, survival
  * curves and bootstrap intervals, all on exact sufficient statistics.
  */
object StatTestQueries {

  import QueryCommon._

  val all: Seq[Query] = Seq(
    // Simpson's-paradox audit (round 12) — the confounding failure
    // ab_chisq's randomized arms are DESIGNED to prevent (Simpson
    // 1951; Bickel et al., Science 1975 — the Berkeley admissions
    // case): when assignment correlates with a segment that also
    // drives the outcome, the AGGREGATE comparison inverts the
    // within-every-segment truth. The plant wires exactly that with
    // three md5 draws per event: segment z (50/50), arm 1 assigned
    // 80% in z=1 vs 20% in z=0 (the confound), conversion 60%/20% by
    // segment MINUS 5pp for arm 1 (arm 1 is truly WORSE everywhere).
    // The audit computes rate comparisons with cleared denominators
    // (c₁·n₀ > c₀·n₁ — no division) per scope {all, seg0, seg1} and
    // a paradox cell: aggregate says arm 1 wins while BOTH segments
    // say it loses — the reason experimentation platforms stratify.
    // 100 TB shape: map-side flags, three 4-number aggs, one 3-row
    // rollup.
    Query("simpson_audit", { (s, d) =>
      def h(p: String) = pmod(Dedup.md5Hash60(
        concat(lit(p), col("event_id"))), lit(100L))
      val base = Tables.events(s, d).select(col("event_id"))
        .select(pmod(Dedup.md5Hash60(
            concat(lit("seg:"), col("event_id"))), lit(2L)).as("seg"),
          h("arm:").as("ha"), h("cv:").as("hc"))
        .select(col("seg"), col("hc"),
          (col("ha") < when(col("seg") === 1L, 80L).otherwise(20L))
            .as("arm1"))
        .select(col("seg"), col("arm1"),
          (col("hc") < when(col("seg") === 1L, 60L).otherwise(20L) -
            when(col("arm1"), 5L).otherwise(0L)).as("conv"))
        .localCheckpoint(true)
      def cells(scope: String, f: Column): DataFrame =
        base.filter(f).agg(
          sum(when(!col("arm1"), 1L).otherwise(0L)).as("n0"),
          sum(when(col("arm1"), 1L).otherwise(0L)).as("n1"),
          sum(when(!col("arm1") && col("conv"), 1L).otherwise(0L))
            .as("c0"),
          sum(when(col("arm1") && col("conv"), 1L).otherwise(0L))
            .as("c1"))
        .select(lit(scope).as("scope"), col("n0"), col("n1"),
          col("c0"), col("c1"),
          (col("c1") * col("n0") > col("c0") * col("n1")).as("arm1_wins"))
      val rows = cells("all", lit(true))
        .unionByName(cells("seg0", col("seg") === 0L))
        .unionByName(cells("seg1", col("seg") === 1L))
        .localCheckpoint(true)
      rows.crossJoin(broadcast(rows.agg(
        max(when(col("scope") === "all" && col("arm1_wins"), 1L)
          .otherwise(0L)).as("aw"),
        max(when(col("scope") =!= "all" && col("arm1_wins"), 1L)
          .otherwise(0L)).as("sw"))
        .select((col("aw") === 1L && col("sw") === 0L).as("paradox"))))
    },
      // simpson_audit: same three md5 draws, cleared-denominator rate
      // comparisons per scope, the computed paradox cell.
      """WITH base AS (SELECT
        |    CAST('0x' || substr(md5('seg:' || CAST(event_id AS VARCHAR)),
        |      1, 15) AS BIGINT) % 2 AS seg,
        |    CAST('0x' || substr(md5('arm:' || CAST(event_id AS VARCHAR)),
        |      1, 15) AS BIGINT) % 100 AS ha,
        |    CAST('0x' || substr(md5('cv:' || CAST(event_id AS VARCHAR)),
        |      1, 15) AS BIGINT) % 100 AS hc
        |  FROM events),
        |b2 AS (SELECT seg, hc,
        |         (ha < CASE WHEN seg = 1 THEN 80 ELSE 20 END) AS arm1
        |       FROM base),
        |b3 AS (SELECT seg, arm1,
        |         (hc < CASE WHEN seg = 1 THEN 60 ELSE 20 END
        |               - CASE WHEN arm1 THEN 5 ELSE 0 END) AS conv
        |       FROM b2),
        |sc AS (
        |  SELECT 'all' AS scope,
        |    CAST(sum(CASE WHEN NOT arm1 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN arm1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN NOT arm1 AND conv THEN 1 ELSE 0 END) AS BIGINT) AS c0,
        |    CAST(sum(CASE WHEN arm1 AND conv THEN 1 ELSE 0 END) AS BIGINT) AS c1
        |  FROM b3
        |  UNION ALL
        |  SELECT 'seg0',
        |    CAST(sum(CASE WHEN NOT arm1 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(sum(CASE WHEN arm1 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(sum(CASE WHEN NOT arm1 AND conv THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(sum(CASE WHEN arm1 AND conv THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM b3 WHERE seg = 0
        |  UNION ALL
        |  SELECT 'seg1',
        |    CAST(sum(CASE WHEN NOT arm1 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(sum(CASE WHEN arm1 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(sum(CASE WHEN NOT arm1 AND conv THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(sum(CASE WHEN arm1 AND conv THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM b3 WHERE seg = 1),
        |w AS (SELECT scope, n0, n1, c0, c1,
        |        (c1 * n0 > c0 * n1) AS arm1_wins
        |      FROM sc),
        |px AS (SELECT (max(CASE WHEN scope = 'all' AND arm1_wins
        |                        THEN 1 ELSE 0 END) = 1
        |          AND max(CASE WHEN scope <> 'all' AND arm1_wins
        |                       THEN 1 ELSE 0 END) = 0) AS paradox
        |       FROM w)
        |SELECT w.scope, w.n0, w.n1, w.c0, w.c1, w.arm1_wins, px.paradox
        |FROM w CROSS JOIN px""".stripMargin),

    // A/B-test significance, exact-integer Pearson χ² (round 12) —
    // the experimentation primitive (Pearson 1900; Kohavi et al.,
    // Trustworthy Online Controlled Experiments): conversion =
    // exceeding the exact nearest-rank p90 of the value axis; arms
    // split by md5. TWO tests ship together, the platform
    // calibration pair: an A/A test (same hash arms, unbiased
    // metric — must NOT reach significance; a significant A/A means
    // the assignment or the stat is broken) and a PLANTED-lift test
    // (arm B's conversions get a deterministic md5-selected +10%
    // lift — must reach significance). χ² = N(ad−bc)²/Π(margins)
    // compared against 3.8415 (α=0.05, df=1) with denominators
    // CLEARED — the significance decision is an exact integer
    // comparison (10000·N·(ad−bc)² > 38415·Π), DECIMAL(38,0)/
    // HUGEINT-routed since (ad−bc)² alone crosses 2⁶³ at 100k rows;
    // chisq_x100 is reported for reading, the decision never
    // touches it. 100 TB shape: two global aggs over map-side flags;
    // the contingency table is 4 numbers.
    Query("ab_chisq", { (s, d) =>
      val y = floor(col("value") * 100 + lit(0.5)).cast("long")
      val e = Tables.events(s, d).select(col("event_id"), y.as("y"))
        .localCheckpoint(true)
      val nTot = e.agg(count(lit(1)).as("n"))
      val wv = Window.orderBy(col("y"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val p90 = e.groupBy(col("y")).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(wv))
        .crossJoin(broadcast(nTot))
        .filter(col("cum") >= expr("(9 * n + 9) div 10"))
        .agg(min(col("y")).as("p"))
      val base = e.crossJoin(broadcast(p90))
        .select(
          pmod(Dedup.md5Hash60(concat(lit("ab:"), col("event_id"))),
            lit(2L)).as("arm"),
          (col("y") >= col("p")).as("conv1"),
          (pmod(Dedup.md5Hash60(concat(lit("lift:"), col("event_id"))),
            lit(10L)) === 0L).as("lifted"))
        .withColumn("conv2",
          col("conv1") || (col("arm") === 1L && col("lifted")))
        .localCheckpoint(true)
      def test(nm: String, convCol: String): DataFrame =
        base.agg(
          sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n_b"),
          sum(when(col("arm") === 0L && col(convCol), 1L).otherwise(0L))
            .as("conv_a"),
          sum(when(col("arm") === 1L && col(convCol), 1L).otherwise(0L))
            .as("conv_b"))
        .selectExpr("n_a", "n_b", "conv_a", "conv_b",
          "CAST(conv_a * (n_b - conv_b) - (n_a - conv_a) * conv_b " +
            "AS DECIMAL(38,0)) AS dif",
          "CAST(n_a AS DECIMAL(38,0)) * n_b * (conv_a + conv_b) * " +
            "(n_a + n_b - conv_a - conv_b) AS den")
        .selectExpr(s"'$nm' AS test", "n_a", "n_b", "conv_a", "conv_b",
          "CAST((100 * (n_a + n_b) * dif * dif) div den AS BIGINT)" +
            " AS chisq_x100",
          "10000 * (n_a + n_b) * dif * dif > " +
            "CAST(38415 AS DECIMAL(38,0)) * den AS significant")
      test("aa_calibration", "conv1")
        .unionByName(test("ab_planted_lift", "conv2"))
    },
      // ab_chisq: same p90 conversion metric, md5 arms + planted lift,
      // cleared-denominator χ² decision in HUGEINT.
      """WITH e AS (SELECT event_id,
        |             CAST(floor(value * 100 + 0.5) AS BIGINT) AS y
        |           FROM events),
        |nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
        |hb AS (SELECT y, sum(CAST(c AS BIGINT)) OVER (ORDER BY y
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |       FROM (SELECT y, count(*) AS c FROM e GROUP BY 1)),
        |p90 AS (SELECT min(y) AS p FROM hb CROSS JOIN nt
        |        WHERE cum >= (9 * nt.n + 9) // 10),
        |base AS (SELECT
        |    CAST('0x' || substr(md5('ab:' || CAST(event_id AS VARCHAR)),
        |      1, 15) AS BIGINT) % 2 AS arm,
        |    (y >= p) AS conv1,
        |    (CAST('0x' || substr(md5('lift:' ||
        |       CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT) % 10 = 0)
        |      AS lifted
        |  FROM e CROSS JOIN p90),
        |b2 AS (SELECT arm, conv1,
        |         (conv1 OR (arm = 1 AND lifted)) AS conv2
        |       FROM base),
        |t1 AS (SELECT 'aa_calibration' AS test,
        |         CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |         CAST(sum(CASE WHEN arm = 0 AND conv1 THEN 1 ELSE 0 END) AS BIGINT) AS conv_a,
        |         CAST(sum(CASE WHEN arm = 1 AND conv1 THEN 1 ELSE 0 END) AS BIGINT) AS conv_b
        |       FROM b2),
        |t2 AS (SELECT 'ab_planted_lift' AS test,
        |         CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |         CAST(sum(CASE WHEN arm = 0 AND conv2 THEN 1 ELSE 0 END) AS BIGINT) AS conv_a,
        |         CAST(sum(CASE WHEN arm = 1 AND conv2 THEN 1 ELSE 0 END) AS BIGINT) AS conv_b
        |       FROM b2),
        |u AS (SELECT * FROM t1 UNION ALL SELECT * FROM t2),
        |f AS (SELECT test, n_a, n_b, conv_a, conv_b,
        |        CAST(conv_a * (n_b - conv_b) - (n_a - conv_a) * conv_b
        |             AS HUGEINT) AS dif,
        |        CAST(n_a AS HUGEINT) * n_b * (conv_a + conv_b) *
        |          (n_a + n_b - conv_a - conv_b) AS den
        |      FROM u)
        |SELECT test, n_a, n_b, conv_a, conv_b,
        |  CAST((100 * (n_a + n_b) * dif * dif) // den AS BIGINT)
        |    AS chisq_x100,
        |  (10000 * (n_a + n_b) * dif * dif >
        |   CAST(38415 AS HUGEINT) * den) AS significant
        |FROM f""".stripMargin),

    // Kaplan-Meier survival (round 14) — the right-censoring-aware
    // time-to-event estimator the retention family lacked
    // (cohort_retention counts presence; THIS estimates time-to-
    // conversion under censoring, Kaplan & Meier 1958): duration =
    // days from a user's first event to their first HIGH-VALUE
    // purchase (cents > 9500 — ~17% of users never convert and are
    // right-censored at the corpus horizon, so the naive "average
    // conversion time over converters" is biased and KM is the
    // correct tool). Per duration t: the risk set n_t (reverse
    // cumulative), events d_t, censorings c_t — exact integers — and
    // S(t) as the ITERATIVE HALF_UP product at 1e12 scale, computed
    // driver-side in BigInt over the ≤31-row interval frame (the
    // pcaPower model-collect discipline; a product is inherently
    // sequential) and replayed by the oracle as a recursive CTE with
    // the identical HUGEINT recurrence. 100 TB shape: one user-keyed
    // agg (map-side combinable), then everything rides the
    // day-bounded interval frame; the collect is model-sized.
    Query("survival_km", { (s, d) =>
      import s.implicits._
      val ev = Tables.events(s, d).select(col("user_id"),
        expr(s"(ts div 1000 - $OriginUs) div ${Tables.MicrosPerDay}")
          .as("day"),
        (col("event_type") === "purchase" &&
          floor(col("value") * 100 + lit(0.5)).cast("long") > 9500)
          .as("hit"))
      val life = ev.groupBy(col("user_id")).agg(
        min(col("day")).as("d0"),
        min(when(col("hit"), col("day"))).as("dp"))
      val mx = ev.agg(max(col("day")).as("mx"))
      val durs = life.crossJoin(broadcast(mx))
        .select(
          coalesce(col("dp") - col("d0") + 1,
            col("mx") - col("d0") + 1).as("t"),
          col("dp").isNull.as("censored"))
      val byT = durs.groupBy(col("t")).agg(
        count(lit(1)).as("ended"),
        sum(when(col("censored"), 1L).otherwise(0L)).as("n_censor"))
        .withColumn("n_event", col("ended") - col("n_censor"))
      val wrev = Window.orderBy(col("t"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val km = byT
        .withColumn("n_risk", sum(col("ended")).over(wrev))
        .select(col("t"), col("n_risk"), col("n_event"), col("n_censor"))
        .localCheckpoint(true)
      val rows = km.orderBy(col("t")).collect()
      var sAcc = BigInt(1000000000000L)
      val surv = rows.map { r =>
        val n = BigInt(r.getLong(1)); val de = BigInt(r.getLong(2))
        sAcc = (2 * sAcc * (n - de) + n) / (2 * n)
        (r.getLong(0), sAcc.toLong)
      }.toSeq
      km.join(broadcast(surv.toDF("t", "surv_x1e12")), "t")
        .select(col("t"), col("n_risk"), col("n_event"), col("n_censor"),
          col("surv_x1e12"))
    },
      // survival_km: the identical interval algebra; the sequential
      // HALF_UP survival recurrence replays as a recursive CTE over the
      // row-numbered interval frame (HUGEINT mirror of the driver-side
      // BigInt fold).
      s"""WITH RECURSIVE e AS (SELECT user_id,
         |    (epoch_us(ts) - $OriginUs) // ${Tables.MicrosPerDay} AS day,
         |    (event_type = 'purchase' AND
         |     CAST(floor(value * 100 + 0.5) AS BIGINT) > 9500) AS hit
         |  FROM events),
         |l AS (SELECT user_id, min(day) AS d0,
         |        min(CASE WHEN hit THEN day END) AS dp
         |      FROM e GROUP BY 1),
         |m AS (SELECT max(day) AS mx FROM e),
         |dur AS (SELECT coalesce(dp - d0 + 1, m.mx - d0 + 1) AS t,
         |          (dp IS NULL) AS censored
         |        FROM l CROSS JOIN m),
         |bt AS (SELECT t, CAST(count(*) AS BIGINT) AS ended,
         |         CAST(sum(CASE WHEN censored THEN 1 ELSE 0 END)
         |           AS BIGINT) AS n_censor
         |       FROM dur GROUP BY 1),
         |km AS (SELECT t,
         |         CAST(sum(ended) OVER (ORDER BY t ROWS BETWEEN
         |           CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
         |           AS n_risk,
         |         ended - n_censor AS n_event, n_censor
         |       FROM bt),
         |ord AS (SELECT t, n_risk, n_event, n_censor,
         |          row_number() OVER (ORDER BY t) AS i FROM km),
         |rec AS (
         |  SELECT i, t, n_risk, n_event, n_censor,
         |         (2 * CAST(1000000000000 AS HUGEINT) * (n_risk - n_event)
         |           + n_risk) // (2 * CAST(n_risk AS HUGEINT)) AS sv
         |  FROM ord WHERE i = 1
         |  UNION ALL
         |  SELECT o.i, o.t, o.n_risk, o.n_event, o.n_censor,
         |         (2 * r.sv * (o.n_risk - o.n_event) + o.n_risk)
         |           // (2 * CAST(o.n_risk AS HUGEINT))
         |  FROM ord o JOIN rec r ON o.i = r.i + 1)
         |SELECT t, n_risk, n_event, n_censor,
         |       CAST(sv AS BIGINT) AS surv_x1e12
         |FROM rec""".stripMargin),

    // Herfindahl-Hirschman index (round 14) — the market-concentration
    // scalar beside gini_index's inequality curve (Herfindahl 1950,
    // Hirschman 1945; THE antitrust screening statistic): HHI =
    // Σ share_g² over per-nation revenue shares, as the exact rational
    // Σ r_g² / (Σ r_g)² in DECIMAL(38,0), HALF_UP 1e6 cell (1e6/k =
    // perfect equality, 1e6 = monopoly). One orders⋈customer shuffle
    // with nation broadcast, then 25-row arithmetic.
    Query("herfindahl_index", { (s, d) =>
      val rev = Tables.orders(s, d)
        .join(Tables.customer(s, d),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long"))
          .as("r"))
      rev.agg(count(lit(1)).as("k"),
          sum(col("r").cast("decimal(38,0)")).as("tot"),
          sum(expr("CAST(r AS DECIMAL(38,0)) * r")).as("sq"))
        .selectExpr("k", "CAST(tot AS BIGINT) AS total_cents",
          "CAST((2 * 1000000 * sq + tot * tot) div (2 * tot * tot)" +
            " AS BIGINT) AS hhi_x1e6")
    },
      // herfindahl_index: the exact share-square rational in HUGEINT.
      """WITH rev AS (SELECT n_name,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS r
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |        CAST(sum(r) AS BIGINT) AS tot,
        |        sum(CAST(r AS HUGEINT) * r) AS sq
        |      FROM rev)
        |SELECT k, tot AS total_cents,
        |  CAST((2 * 1000000 * sq + CAST(tot AS HUGEINT) * tot)
        |    // (2 * CAST(tot AS HUGEINT) * tot) AS BIGINT) AS hhi_x1e6
        |FROM a""".stripMargin),

    // Spearman rank correlation (round 14) — the robust CROSS-variable
    // dependence measure the family lacked (autocorr = serial Pearson,
    // feature_mi = discretized MI; Spearman 1904): does a user's event
    // COUNT co-move with their total spend-cents? Both variables rank
    // via doubled midranks on their own compressed value histograms
    // (the mannwhitney machinery, applied per variable), so ties are
    // exact and no row-level sort exists; ρ is then Pearson over the
    // doubled ranks — six DECIMAL(38,0) sufficient statistics narrowed
    // under the raise_error guard, closed by one fixed IEEE tree over
    // identical int64 inputs (the shared 2× rank scale cancels in ρ).
    // 100 TB shape: one user agg; each variable's rank map is the
    // SF-PROPORTIONAL distinct-sums frame, so the midrank cumulative
    // sums run through bucketedCumBefore's two-level bucket-offset
    // form (partitioned local windows + a bounded broadcast offset
    // frame — never one global sort task), and the rank maps attach
    // by PLAIN shuffle joins: hinting broadcast on an SF-proportional
    // frame would ship millions of rows to every executor at 100×
    // (the round-8 hint discipline — hints only on provably-bounded
    // frames; size-based planning may still broadcast at small SF).
    Query("spearman_rho", { (s, d) =>
      def longExact(c: Column): Column =
        when(c > lit(Long.MaxValue) || c < lit(Long.MinValue),
          raise_error(concat(
            lit("graft spearman_rho: statistic exceeds int64: "),
            c.cast("string"))))
          .otherwise(c.cast("long"))
      val users = Tables.events(s, d).groupBy(col("user_id")).agg(
        count(lit(1)).as("xv"),
        sum(floor(col("value") * 100 + lit(0.5)).cast("long")).as("yv"))
        .localCheckpoint(true)
      // Bucket widths are value-DOMAIN constants (per-user event counts
      // ~tens; per-user spend cents ~1e4-scale), not SF-dependent.
      def midranks(valCol: String, width: Long): DataFrame = {
        val h = users.groupBy(col(valCol).as("v"))
          .agg(count(lit(1)).as("c"))
        bucketedCumBefore(h, "v", width)
          .select(col("v"), (lit(2L) * col("cb") + col("c") + 1L)
            .as(s"r_$valCol"))
      }
      users
        .join(midranks("xv", 16L), users("xv") === col("v"))
        .drop("v")
        .join(midranks("yv", 10000L), users("yv") === col("v"))
        .drop("v")
        .agg(count(lit(1)).as("n_users"),
          longExact(sum(col("r_xv").cast("decimal(38,0)"))).as("sx"),
          longExact(sum(col("r_yv").cast("decimal(38,0)"))).as("sy"),
          longExact(sum(expr(
            "CAST(r_xv AS DECIMAL(38,0)) * r_yv"))).as("sxy"),
          longExact(sum(expr(
            "CAST(r_xv AS DECIMAL(38,0)) * r_xv"))).as("sxx"),
          longExact(sum(expr(
            "CAST(r_yv AS DECIMAL(38,0)) * r_yv"))).as("syy"))
        .selectExpr("n_users", "sx", "sy", "sxy", "sxx", "syy",
          "CASE WHEN CAST(n_users AS DOUBLE) * CAST(sxx AS DOUBLE)" +
            " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0.0 AND" +
            " CAST(n_users AS DOUBLE) * CAST(syy AS DOUBLE)" +
            " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0.0 THEN" +
            " (CAST(n_users AS DOUBLE) * CAST(sxy AS DOUBLE)" +
            " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / sqrt(" +
            "(CAST(n_users AS DOUBLE) * CAST(sxx AS DOUBLE)" +
            " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * " +
            "(CAST(n_users AS DOUBLE) * CAST(syy AS DOUBLE)" +
            " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) END AS rho")
    },
      // spearman_rho: both variables' doubled midranks replay on their
      // compressed histograms; rho is the identical IEEE tree over the
      // same int64 sufficient statistics.
      """WITH u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS xv,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS yv
        |  FROM events GROUP BY 1),
        |hx AS (SELECT xv AS v, CAST(count(*) AS BIGINT) AS c
        |       FROM u GROUP BY 1),
        |rx AS (SELECT v, 2 * coalesce(sum(c) OVER (ORDER BY v
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |         + c + 1 AS r
        |       FROM hx),
        |hy AS (SELECT yv AS v, CAST(count(*) AS BIGINT) AS c
        |       FROM u GROUP BY 1),
        |ry AS (SELECT v, 2 * coalesce(sum(c) OVER (ORDER BY v
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |         + c + 1 AS r
        |       FROM hy),
        |j AS (SELECT rx.r AS r_xv, ry.r AS r_yv
        |      FROM u JOIN rx ON rx.v = u.xv JOIN ry ON ry.v = u.yv),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
        |        CAST(sum(r_xv) AS BIGINT) AS sx,
        |        CAST(sum(r_yv) AS BIGINT) AS sy,
        |        CAST(sum(CAST(r_xv AS HUGEINT) * r_yv) AS BIGINT) AS sxy,
        |        CAST(sum(CAST(r_xv AS HUGEINT) * r_xv) AS BIGINT) AS sxx,
        |        CAST(sum(CAST(r_yv AS HUGEINT) * r_yv) AS BIGINT) AS syy
        |      FROM j)
        |SELECT n_users, sx, sy, sxy, sxx, syy,
        |  CASE WHEN CAST(n_users AS DOUBLE) * CAST(sxx AS DOUBLE)
        |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0.0 AND
        |       CAST(n_users AS DOUBLE) * CAST(syy AS DOUBLE)
        |         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0.0 THEN
        |    (CAST(n_users AS DOUBLE) * CAST(sxy AS DOUBLE)
        |     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / sqrt(
        |    (CAST(n_users AS DOUBLE) * CAST(sxx AS DOUBLE)
        |     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |    (CAST(n_users AS DOUBLE) * CAST(syy AS DOUBLE)
        |     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) END AS rho
        |FROM s""".stripMargin),

    // Kruskal-Wallis H (round 14) — the k-group RANK test beside
    // anova_f's parametric means (Kruskal & Wallis 1952; the k-sample
    // generalization of mannwhitney_u, same doubled-midrank machinery
    // on the compressed histogram): with doubled rank sums R2_g the
    // tie-corrected statistic collapses to the EXACT rational
    // H = 3·(A − N(N+1)²)·(N−1) / ((N³−N) − T), where A = Σ_g
    // HALF_UP(R2_g²/n_g) (the rounded-term contract — order-free
    // integer summation), T = Σ(t³−t). Emitted as a HALF_UP 1e3 cell;
    // significance is a PURE INTEGER cross-multiplied compare against
    // the χ²(k−1) 5% critical value 9.488. 100 TB shape: one
    // (y, type) hash agg, the midrank window on the compressed
    // histogram, then k-row arithmetic.
    Query("kruskal_wallis", { (s, d) =>
      def longExact(c: Column): Column =
        when(c > lit(Long.MaxValue) || c < lit(Long.MinValue),
          raise_error(concat(
            lit("graft kruskal_wallis: statistic exceeds int64: "),
            c.cast("string"))))
          .otherwise(c.cast("long"))
      val e = Tables.events(s, d).select(col("event_type"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("y"))
      val grp = e.groupBy(col("y"), col("event_type"))
        .agg(count(lit(1)).as("cg")).localCheckpoint(true)
      val tot = grp.groupBy(col("y")).agg(sum(col("cg")).as("c"))
      val wv = Window.orderBy(col("y"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val ranked = tot.withColumn("cumb",
        coalesce(sum(col("c")).over(wv), lit(0L)))
      val r2 = grp.join(ranked, "y")
        .groupBy(col("event_type"))
        .agg(sum(col("cg")).as("ng"),
          longExact(sum(expr(
            "CAST(cg AS DECIMAL(38,0)) * (2 * cumb + c + 1)")))
            .as("r2"))
      val ties = ranked.agg(longExact(sum(expr(
        "CAST(c AS DECIMAL(38,0)) * c * c - c"))).as("t3"))
      r2.select(col("ng"), col("r2"),
          longExact(expr(
            "(2 * CAST(r2 AS DECIMAL(38,0)) * r2 + ng) div (2 * ng)"))
            .as("ug"))
        .agg(sum(col("ng")).as("n"), count(lit(1)).as("k"),
          longExact(sum(col("ug").cast("decimal(38,0)"))).as("a"))
        .crossJoin(broadcast(ties))
        .selectExpr("n", "k", "a", "t3",
          "CAST(a AS DECIMAL(38,0)) - CAST(n AS DECIMAL(38,0)) * (n + 1)" +
            " * (n + 1) AS hnum0",
          "CAST(n AS DECIMAL(38,0)) * n * n - n - t3 AS hden")
        .selectExpr("n", "k", "a", "t3",
          "CAST(CASE WHEN hnum0 >= 0 THEN " +
            "(2 * 3000 * hnum0 * (n - 1) + hden) div (2 * hden) " +
            "ELSE -((2 * 3000 * (-hnum0) * (n - 1) + hden) div (2 * hden))" +
            " END AS BIGINT) AS h_x1e3",
          "1000 * 3 * hnum0 * (n - 1) > 9488 * hden AS significant")
    },
      // kruskal_wallis: the exact rational H replayed in HUGEINT over
      // the same midrank/rounded-term algebra.
      """WITH e AS (SELECT event_type,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS y FROM events),
        |grp AS (SELECT y, event_type, CAST(count(*) AS BIGINT) AS cg
        |        FROM e GROUP BY 1, 2),
        |tot AS (SELECT y, CAST(sum(cg) AS BIGINT) AS c
        |        FROM grp GROUP BY 1),
        |rk AS (SELECT y, c,
        |         coalesce(sum(c) OVER (ORDER BY y
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS cumb
        |       FROM tot),
        |r2 AS (SELECT g.event_type, CAST(sum(g.cg) AS BIGINT) AS ng,
        |         CAST(sum(CAST(g.cg AS HUGEINT) * (2 * r.cumb + r.c + 1))
        |           AS BIGINT) AS r2
        |       FROM grp g JOIN rk r USING (y) GROUP BY 1),
        |tie AS (SELECT CAST(sum(CAST(c AS HUGEINT) * c * c - c)
        |          AS BIGINT) AS t3 FROM rk),
        |u AS (SELECT ng, r2,
        |        CAST((2 * CAST(r2 AS HUGEINT) * r2 + ng) // (2 * ng)
        |          AS BIGINT) AS ug
        |      FROM r2),
        |s AS (SELECT CAST(sum(ng) AS BIGINT) AS n,
        |        CAST(count(*) AS BIGINT) AS k,
        |        CAST(sum(ug) AS BIGINT) AS a
        |      FROM u),
        |x AS (SELECT n, k, a, t3,
        |        CAST(a AS HUGEINT)
        |          - CAST(n AS HUGEINT) * (n + 1) * (n + 1) AS hnum0,
        |        CAST(n AS HUGEINT) * n * n - n - t3 AS hden
        |      FROM s CROSS JOIN tie)
        |SELECT n, k, a, t3,
        |  CAST(CASE WHEN hnum0 >= 0 THEN
        |    (2 * 3000 * hnum0 * (n - 1) + hden) // (2 * hden)
        |    ELSE -((2 * 3000 * (-hnum0) * (n - 1) + hden) // (2 * hden))
        |    END AS BIGINT) AS h_x1e3,
        |  1000 * 3 * hnum0 * (n - 1) > 9488 * hden AS significant
        |FROM x""".stripMargin),

    // One-way ANOVA (round 14) — the k-group mean test completing the
    // family (ab_chisq = proportions, mannwhitney_u = two-sample
    // ranks, THIS = k-sample means; Fisher 1925): does mean centi-
    // value differ across the five event types? Sufficient statistics
    // are exact (n_g, Σy, Σy² per group, DECIMAL(38,0)-routed); the
    // per-group s_g²/n_g terms round HALF_UP at integer scale AS THE
    // CONTRACT (a raw double Σ over groups would be summation-order-
    // dependent; rounded integer terms sum exactly), giving exact SSB
    // and SSW. Significance is a PURE INTEGER compare against the
    // F(4, ∞) 5% critical value 2.372 (1000·SSB·(N−k) > 2372·SSW·
    // (k−1)); the F value itself is one fixed IEEE tree over the same
    // exact int64 inputs (autocorr convention). 100 TB shape: ONE
    // partial+final hash agg to k=5 rows; everything after is
    // driver-free arithmetic on that bounded frame.
    Query("anova_f", { (s, d) =>
      def longExact(c: Column): Column =
        when(c > lit(Long.MaxValue) || c < lit(Long.MinValue),
          raise_error(concat(
            lit("graft anova_f: statistic exceeds int64: "),
            c.cast("string"))))
          .otherwise(c.cast("long"))
      val e = Tables.events(s, d).select(col("event_type"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("y"))
      val g = e.groupBy(col("event_type")).agg(
        count(lit(1)).as("ng"),
        longExact(sum(col("y").cast("decimal(38,0)"))).as("sg"),
        longExact(sum(expr("CAST(y AS DECIMAL(38,0)) * y"))).as("qg"))
        .localCheckpoint(true)
      val terms = g.select(col("ng"), col("sg"), col("qg"),
        longExact(expr(
          "(2 * CAST(sg AS DECIMAL(38,0)) * sg + ng) div (2 * ng)"))
          .as("tg"))
      terms.agg(sum(col("ng")).as("n"), count(lit(1)).as("k"),
          longExact(sum(col("sg").cast("decimal(38,0)"))).as("st"),
          longExact(sum(col("qg").cast("decimal(38,0)"))).as("qt"),
          longExact(sum(col("tg").cast("decimal(38,0)"))).as("a"))
        .selectExpr("n", "k", "st", "qt",
          "a - ((2 * CAST(st AS DECIMAL(38,0)) * st + n) div (2 * n))" +
            " AS ssb",
          "qt - a AS ssw")
        .selectExpr("n", "k", "CAST(ssb AS BIGINT) AS ssb",
          "CAST(ssw AS BIGINT) AS ssw",
          "(CAST(ssb AS DOUBLE) / (CAST(k AS DOUBLE) - 1.0)) / " +
            "(CAST(ssw AS DOUBLE) / (CAST(n AS DOUBLE) - " +
            "CAST(k AS DOUBLE))) AS f",
          "1000 * CAST(ssb AS DECIMAL(38,0)) * (n - k) > " +
            "2372 * CAST(ssw AS DECIMAL(38,0)) * (k - 1)" +
            " AS significant")
    },
      // anova_f: the same rounded-term contract; f is the identical
      // IEEE tree over identical int64 inputs.
      """WITH e AS (SELECT event_type,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS y FROM events),
        |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS ng,
        |        CAST(sum(y) AS BIGINT) AS sg,
        |        CAST(sum(CAST(y AS HUGEINT) * y) AS BIGINT) AS qg
        |      FROM e GROUP BY 1),
        |t AS (SELECT ng, sg, qg,
        |        CAST((2 * CAST(sg AS HUGEINT) * sg + ng) // (2 * ng)
        |          AS BIGINT) AS tg
        |      FROM g),
        |s AS (SELECT CAST(sum(ng) AS BIGINT) AS n,
        |        CAST(count(*) AS BIGINT) AS k,
        |        CAST(sum(sg) AS BIGINT) AS st,
        |        CAST(sum(qg) AS BIGINT) AS qt,
        |        CAST(sum(tg) AS BIGINT) AS sa
        |      FROM t),
        |x AS (SELECT n, k,
        |        CAST(sa - ((2 * CAST(st AS HUGEINT) * st + n) // (2 * n))
        |          AS BIGINT) AS ssb,
        |        qt - sa AS ssw
        |      FROM s)
        |SELECT n, k, ssb, ssw,
        |  (CAST(ssb AS DOUBLE) / (CAST(k AS DOUBLE) - 1.0)) /
        |  (CAST(ssw AS DOUBLE) / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)))
        |    AS f,
        |  1000 * CAST(ssb AS HUGEINT) * (n - k) >
        |    2372 * CAST(ssw AS HUGEINT) * (k - 1) AS significant
        |FROM x""".stripMargin),

    // Gini coefficient (round 14) — the inequality-of-concentration
    // scalar beside value_concentration's threshold filter (Gini 1912;
    // the classic spend/market-share concentration audit): over
    // per-customer total spend cents, G = (2·Σ i·x_(i) − (n+1)·Σx) /
    // (n·Σx) with ascending ranks i — computed EXACTLY on the
    // compressed per-value histogram (ties contribute v·(c·C_before +
    // c(c+1)/2), so no row-level rank sort exists; the mad_outliers
    // compression move), DECIMAL(38,0)-routed, HALF_UP 1e6 cell.
    // 100 TB shape: one custkey agg (map-side combinable), one hash
    // agg to the distinct-spend histogram — but that histogram is
    // SF-PROPORTIONAL (per-customer cent sums are near-unique, so
    // |hist| ≈ |customers|, unlike the domain-bounded centi-value
    // histograms), so the cumulative ranks run through
    // bucketedCumBefore's two-level bucket-offset form: partitioned
    // per-bucket windows in parallel + a value-domain-bounded
    // broadcast offset frame, never one global sort task. Bucket
    // width $10k of spend (domain constant — TPC-H orders/customer is
    // SF-independent).
    Query("gini_index", { (s, d) =>
      val spend = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long"))
          .as("x"))
      val hist = spend.groupBy(col("x")).agg(count(lit(1)).as("c"))
      bucketedCumBefore(hist, "x", 1000000L)
        .agg(sum(col("c")).as("n_customers"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * c")).as("sx"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * " +
            "(c * cb + (c * (c + 1)) div 2)")).as("sxi"))
        .selectExpr("n_customers",
          "CAST(sx AS BIGINT) AS sum_cents",
          "CAST(CASE WHEN n_customers > 0 AND sx > 0 THEN " +
            "(2 * 1000000 * (2 * sxi - (n_customers + 1) * sx) " +
            "+ n_customers * sx) div (2 * n_customers * sx) " +
            "ELSE 0 END AS BIGINT) AS gini_x1e6")
    },
      // gini_index: the tie-compressed rank-sum identity replays in
      // HUGEINT over the same histogram.
      """WITH s AS (SELECT o_custkey,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |h AS (SELECT x, CAST(count(*) AS BIGINT) AS c FROM s GROUP BY 1),
        |r AS (SELECT x, c,
        |        coalesce(sum(c) OVER (ORDER BY x
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |          AS cb
        |      FROM h),
        |a AS (SELECT CAST(sum(c) AS BIGINT) AS n_customers,
        |        sum(CAST(x AS HUGEINT) * c) AS sx,
        |        sum(CAST(x AS HUGEINT) *
        |            (c * cb + (c * (c + 1)) // 2)) AS sxi
        |      FROM r)
        |SELECT n_customers, CAST(sx AS BIGINT) AS sum_cents,
        |       CAST(CASE WHEN n_customers > 0 AND sx > 0 THEN
        |         (2 * 1000000 * (2 * sxi - (n_customers + 1) * sx)
        |          + n_customers * sx) // (2 * n_customers * sx)
        |         ELSE 0 END AS BIGINT) AS gini_x1e6
        |FROM a""".stripMargin),

    // Mann-Whitney U rank test (round 14) — the NONPARAMETRIC two-
    // sample companion to ab_chisq (proportions) and ks_drift
    // (distribution distance): does arm B's value distribution
    // stochastically dominate arm A's? Arms split by the same
    // md5Hash60 coin as ab_chisq (deterministic A/A here — the
    // calibration read: U must sit near its null mean). Exact
    // integers throughout the sufficient statistics: midranks ride
    // the COMPRESSED per-value histogram (2·midrank = 2·cum_before +
    // c + 1, so doubled rank sums are integers — ties never touch
    // floats), R2/U2 are DECIMAL(38,0)-routed sums, and the tie
    // correction Σ(c³−c) is exact; z is then one fixed IEEE tree over
    // identical int64 inputs (the autocorr convention — both engines
    // produce the same bits). 100 TB shape: ONE partial+final hash
    // agg to the bounded centi-value histogram; the midrank window
    // rides that compressed frame (mad_outliers precedent), never
    // rows.
    Query("mannwhitney_u", { (s, d) =>
      val e = Tables.events(s, d).select(
        pmod(Dedup.md5Hash60(concat(lit("mwu:"), col("event_id"))),
          lit(2L)).as("arm"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("y"))
      val hist = e.groupBy(col("y")).agg(
        count(lit(1)).as("c"),
        sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("ca"))
      val wv = Window.orderBy(col("y"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val ranked = hist.withColumn("cumb",
        coalesce(sum(col("c")).over(wv), lit(0L)))
      ranked.agg(
          sum(col("ca")).as("n_a"),
          sum(col("c") - col("ca")).as("n_b"),
          sum(expr("CAST(ca AS DECIMAL(38,0)) * (2 * cumb + c + 1)"))
            .as("r2"),
          sum(expr("CAST(c AS DECIMAL(38,0)) * c * c - c")).as("t3"))
        .selectExpr("CAST(n_a AS BIGINT) AS n_a",
          "CAST(n_b AS BIGINT) AS n_b",
          "CAST(r2 AS BIGINT) AS r2_a",
          "CAST(r2 - CAST(n_a AS DECIMAL(38,0)) * (n_a + 1) AS BIGINT)" +
            " AS u2_a",
          "CAST(t3 AS BIGINT) AS tie_t3")
        .selectExpr("n_a", "n_b", "r2_a", "u2_a", "tie_t3",
          "CAST(u2_a - n_a * n_b AS DOUBLE) / (2.0 * sqrt(" +
            "CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0 * (" +
            "(CAST(n_a + n_b AS DOUBLE) + 1.0) - " +
            "CAST(tie_t3 AS DOUBLE) / (CAST(n_a + n_b AS DOUBLE) * " +
            "(CAST(n_a + n_b AS DOUBLE) - 1.0))))) AS z")
        .selectExpr("*", "abs(z) > 1.96 AS significant")
    },
      // mannwhitney_u: doubled midranks on the compressed histogram keep
      // every tie exact; z replays as the identical IEEE tree over the
      // same int64 sufficient statistics.
      """WITH e AS (SELECT
        |    CAST('0x' || substr(md5('mwu:' || CAST(event_id AS VARCHAR)),
        |      1, 15) AS BIGINT) % 2 AS arm,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS y
        |  FROM events),
        |h AS (SELECT y, CAST(count(*) AS BIGINT) AS c,
        |        CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |          AS ca
        |      FROM e GROUP BY 1),
        |r AS (SELECT y, c, ca,
        |        coalesce(sum(c) OVER (ORDER BY y
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |          AS cumb
        |      FROM h),
        |s AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
        |        CAST(sum(c - ca) AS BIGINT) AS n_b,
        |        CAST(sum(CAST(ca AS HUGEINT) * (2 * cumb + c + 1))
        |          AS BIGINT) AS r2_a,
        |        CAST(sum(CAST(c AS HUGEINT) * c * c - c) AS BIGINT)
        |          AS tie_t3
        |      FROM r),
        |u AS (SELECT n_a, n_b, r2_a,
        |        CAST(CAST(r2_a AS HUGEINT)
        |          - CAST(n_a AS HUGEINT) * (n_a + 1) AS BIGINT) AS u2_a,
        |        tie_t3
        |      FROM s)
        |SELECT n_a, n_b, r2_a, u2_a, tie_t3,
        |       CAST(u2_a - n_a * n_b AS DOUBLE) / (2.0 * sqrt(
        |         CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0 * (
        |         (CAST(n_a + n_b AS DOUBLE) + 1.0) -
        |         CAST(tie_t3 AS DOUBLE) / (CAST(n_a + n_b AS DOUBLE) *
        |         (CAST(n_a + n_b AS DOUBLE) - 1.0))))) AS z,
        |       abs(CAST(u2_a - n_a * n_b AS DOUBLE) / (2.0 * sqrt(
        |         CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0 * (
        |         (CAST(n_a + n_b AS DOUBLE) + 1.0) -
        |         CAST(tie_t3 AS DOUBLE) / (CAST(n_a + n_b AS DOUBLE) *
        |         (CAST(n_a + n_b AS DOUBLE) - 1.0)))))) > 1.96
        |         AS significant
        |FROM u""".stripMargin),

    // Welch two-sample t-test (round 15) — the UNEQUAL-VARIANCE mean
    // comparison completing the testing family (ab_chisq =
    // proportions, mannwhitney_u = 2-sample ranks, anova_f = k
    // equal-variance means, THIS = 2-sample means without the pooled
    // assumption; Welch 1947): arms split by the same md5 coin as
    // ab_chisq/mannwhitney_u ("wtt:" salt — a deterministic A/A
    // split, so t must sit near 0: the calibration read). Sufficient
    // statistics exact per arm (n, Σy, Σy², DECIMAL(38,0)-routed
    // under the raise_error guard); the anova_f rounded-term CONTRACT
    // carries the division points: mean1e4 = HALF_UP(1e4·S/n) and the
    // variance-over-n term w = HALF_UP(1e8·(nQ−S²)/(n²(n−1))) are
    // exact integers (y ≥ 0 ⇒ all numerators non-negative, HALF_UP
    // needs no sign split), t is ONE fixed IEEE tree over those int64s
    // (the 1e4/√1e8 scales cancel — identical bits in both engines),
    // and significance is a PURE-INTEGER cross-multiplied compare
    // against z 1.96: 1e4·(Δmean1e4)² > 38416·(w1+w2). 100 TB shape:
    // ONE partial+final hash agg to 2 rows; everything after is
    // bounded-frame arithmetic.
    Query("welch_ttest", { (s, d) =>
      def longExact(c: Column): Column =
        when(c > lit(Long.MaxValue) || c < lit(Long.MinValue),
          raise_error(concat(
            lit("graft welch_ttest: statistic exceeds int64: "),
            c.cast("string"))))
          .otherwise(c.cast("long"))
      val e = Tables.events(s, d).select(
        pmod(Dedup.md5Hash60(concat(lit("wtt:"), col("event_id"))),
          lit(2L)).as("arm"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("y"))
      val g = e.groupBy(col("arm")).agg(
        count(lit(1)).as("n"),
        longExact(sum(col("y").cast("decimal(38,0)"))).as("sy"),
        longExact(sum(expr("CAST(y AS DECIMAL(38,0)) * y"))).as("qy"))
      g.agg(
          sum(when(col("arm") === 0L, col("n"))).as("n1"),
          sum(when(col("arm") === 1L, col("n"))).as("n2"),
          sum(when(col("arm") === 0L, col("sy"))).as("s1"),
          sum(when(col("arm") === 1L, col("sy"))).as("s2"),
          sum(when(col("arm") === 0L, col("qy"))).as("q1"),
          sum(when(col("arm") === 1L, col("qy"))).as("q2"))
        .selectExpr("CAST(n1 AS BIGINT) AS n1", "CAST(n2 AS BIGINT) AS n2",
          "CAST(s1 AS BIGINT) AS s1", "CAST(s2 AS BIGINT) AS s2",
          "CAST(q1 AS BIGINT) AS q1", "CAST(q2 AS BIGINT) AS q2")
        .selectExpr("n1", "n2", "s1", "s2", "q1", "q2",
          "CAST((2 * 10000 * CAST(s1 AS DECIMAL(38,0)) + n1)" +
            " div (2 * n1) AS BIGINT) AS mean1_x1e4",
          "CAST((2 * 10000 * CAST(s2 AS DECIMAL(38,0)) + n2)" +
            " div (2 * n2) AS BIGINT) AS mean2_x1e4",
          "CAST((2 * 100000000 * (CAST(n1 AS DECIMAL(38,0)) * q1" +
            " - CAST(s1 AS DECIMAL(38,0)) * s1)" +
            " + CAST(n1 AS DECIMAL(38,0)) * n1 * (n1 - 1))" +
            " div (2 * CAST(n1 AS DECIMAL(38,0)) * n1 * (n1 - 1))" +
            " AS BIGINT) AS w1_x1e8",
          "CAST((2 * 100000000 * (CAST(n2 AS DECIMAL(38,0)) * q2" +
            " - CAST(s2 AS DECIMAL(38,0)) * s2)" +
            " + CAST(n2 AS DECIMAL(38,0)) * n2 * (n2 - 1))" +
            " div (2 * CAST(n2 AS DECIMAL(38,0)) * n2 * (n2 - 1))" +
            " AS BIGINT) AS w2_x1e8")
        .selectExpr("*",
          "(CAST(mean1_x1e4 AS DOUBLE) - CAST(mean2_x1e4 AS DOUBLE)) / " +
            "sqrt(CAST(w1_x1e8 AS DOUBLE) + CAST(w2_x1e8 AS DOUBLE))" +
            " AS t",
          "10000 * CAST(mean1_x1e4 - mean2_x1e4 AS DECIMAL(38,0)) * " +
            "(mean1_x1e4 - mean2_x1e4) > " +
            "38416 * (CAST(w1_x1e8 AS DECIMAL(38,0)) + w2_x1e8)" +
            " AS significant")
    },
      // welch_ttest: the rounded-term contract replays in HUGEINT (all
      // numerators non-negative, so // ≡ Spark div); t is the identical
      // IEEE tree over the identical int64 inputs.
      """WITH e AS (SELECT
        |    CAST('0x' || substr(md5('wtt:' || CAST(event_id AS VARCHAR)),
        |      1, 15) AS BIGINT) % 2 AS arm,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS y
        |  FROM events),
        |g AS (SELECT arm, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(y) AS BIGINT) AS sy,
        |        CAST(sum(CAST(y AS HUGEINT) * y) AS BIGINT) AS qy
        |      FROM e GROUP BY 1),
        |p AS (SELECT
        |        CAST(sum(CASE WHEN arm = 0 THEN n END) AS BIGINT) AS n1,
        |        CAST(sum(CASE WHEN arm = 1 THEN n END) AS BIGINT) AS n2,
        |        CAST(sum(CASE WHEN arm = 0 THEN sy END) AS BIGINT) AS s1,
        |        CAST(sum(CASE WHEN arm = 1 THEN sy END) AS BIGINT) AS s2,
        |        CAST(sum(CASE WHEN arm = 0 THEN qy END) AS BIGINT) AS q1,
        |        CAST(sum(CASE WHEN arm = 1 THEN qy END) AS BIGINT) AS q2
        |      FROM g),
        |m AS (SELECT n1, n2, s1, s2, q1, q2,
        |        CAST((2 * 10000 * CAST(s1 AS HUGEINT) + n1) // (2 * n1)
        |          AS BIGINT) AS mean1_x1e4,
        |        CAST((2 * 10000 * CAST(s2 AS HUGEINT) + n2) // (2 * n2)
        |          AS BIGINT) AS mean2_x1e4,
        |        CAST((2 * 100000000 * (CAST(n1 AS HUGEINT) * q1
        |              - CAST(s1 AS HUGEINT) * s1)
        |              + CAST(n1 AS HUGEINT) * n1 * (n1 - 1))
        |             // (2 * CAST(n1 AS HUGEINT) * n1 * (n1 - 1))
        |          AS BIGINT) AS w1_x1e8,
        |        CAST((2 * 100000000 * (CAST(n2 AS HUGEINT) * q2
        |              - CAST(s2 AS HUGEINT) * s2)
        |              + CAST(n2 AS HUGEINT) * n2 * (n2 - 1))
        |             // (2 * CAST(n2 AS HUGEINT) * n2 * (n2 - 1))
        |          AS BIGINT) AS w2_x1e8
        |      FROM p)
        |SELECT n1, n2, s1, s2, q1, q2, mean1_x1e4, mean2_x1e4,
        |  w1_x1e8, w2_x1e8,
        |  (CAST(mean1_x1e4 AS DOUBLE) - CAST(mean2_x1e4 AS DOUBLE)) /
        |    sqrt(CAST(w1_x1e8 AS DOUBLE) + CAST(w2_x1e8 AS DOUBLE)) AS t,
        |  10000 * CAST(mean1_x1e4 - mean2_x1e4 AS HUGEINT)
        |    * (mean1_x1e4 - mean2_x1e4) >
        |    38416 * (CAST(w1_x1e8 AS HUGEINT) + w2_x1e8) AS significant
        |FROM m""".stripMargin),

    // Difference-in-differences (round 15) — the CAUSAL-PANEL
    // estimator completing the experimentation family (ab_chisq =
    // proportions, welch_ttest = two-arm means; Card & Krueger 1994's
    // 2×2 DiD): md5-coin treatment arms ("did:" salt — an A/A split)
    // crossed with a pre/post period cut at the exact integer time
    // midpoint, so the true DiD is 0 and the cell is a calibration
    // read. Exact discipline is welch_ttest's, four cells wide: per
    // (arm, post) the exact (n, Σy, Σy²) in DECIMAL(38,0), HALF_UP
    // mean (1e4) and variance-of-the-mean (1e8) cells; did_x1e4 is
    // pure subtraction of exact cells, t one fixed IEEE tree, and the
    // significance verdict the pure-integer cross-multiplied z-1.96
    // compare over the FOUR-cell variance sum. 100 TB shape: one
    // (min, max) agg broadcasts the midpoint back; ONE partial+final
    // hash agg to 4 rows; everything after is 4-row algebra.
    Query("diff_in_diff", { (s, d) =>
      val longExact = QueryCommon.longExact("diff_in_diff") _
      val ev = Tables.events(s, d).select(Tables.tsUs.as("tus"),
        pmod(Dedup.md5Hash60(concat(lit("did:"), col("event_id"))),
          lit(2L)).as("arm"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("y"))
      val mid = ev.agg(min(col("tus")).as("lo"), max(col("tus")).as("hi"))
        .selectExpr("(lo + hi) div 2 AS tmid")
      val cells = ev.crossJoin(broadcast(mid))
        .select(col("arm"),
          when(col("tus") >= col("tmid"), 1L).otherwise(0L).as("post"),
          col("y"))
        .groupBy(col("arm"), col("post"))
        .agg(count(lit(1)).as("n"),
          longExact(sum(col("y").cast("decimal(38,0)"))).as("sy"),
          longExact(sum(expr("CAST(y AS DECIMAL(38,0)) * y"))).as("qq"))
        .selectExpr("arm", "post", "n",
          "CAST((2 * 10000 * CAST(sy AS DECIMAL(38,0)) + n)" +
            " div (2 * n) AS BIGINT) AS m_x1e4",
          "CAST((2 * 100000000 * (CAST(n AS DECIMAL(38,0)) * qq" +
            " - CAST(sy AS DECIMAL(38,0)) * sy)" +
            " + CAST(n AS DECIMAL(38,0)) * n * (n - 1))" +
            " div (2 * CAST(n AS DECIMAL(38,0)) * n * (n - 1))" +
            " AS BIGINT) AS w_x1e8")
      def cell(c: String, a: Int, p: Int) =
        max(when(col("arm") === a.toLong && col("post") === p.toLong,
          col(c))).as(s"${c.take(1)}$a$p")
      cells.agg(
        cell("n", 0, 0), cell("n", 0, 1), cell("n", 1, 0), cell("n", 1, 1),
        cell("m_x1e4", 0, 0), cell("m_x1e4", 0, 1),
        cell("m_x1e4", 1, 0), cell("m_x1e4", 1, 1),
        cell("w_x1e8", 0, 0), cell("w_x1e8", 0, 1),
        cell("w_x1e8", 1, 0), cell("w_x1e8", 1, 1))
        .selectExpr("n00", "n01", "n10", "n11",
          "m00", "m01", "m10", "m11",
          "(m11 - m10) - (m01 - m00) AS did_x1e4",
          "w00 + w01 + w10 + w11 AS w_sum_x1e8")
        .selectExpr("n00", "n01", "n10", "n11",
          "m00", "m01", "m10", "m11", "did_x1e4",
          "CAST(did_x1e4 AS DOUBLE) / sqrt(CAST(w_sum_x1e8 AS DOUBLE))" +
            " AS t",
          "10000 * CAST(did_x1e4 AS DECIMAL(38,0)) * did_x1e4 >" +
            " 38416 * CAST(w_sum_x1e8 AS DECIMAL(38,0)) AS significant")
    },
      // diff_in_diff: the four (arm, post) cells' exact sufficient
      // statistics, HALF_UP mean/variance cells, the subtraction-only
      // DiD and the cross-multiplied verdict replay in HUGEINT.
      """WITH e AS (SELECT epoch_us(ts) AS tus,
        |             CAST('0x' || substr(md5('did:' ||
        |               CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT) % 2
        |               AS arm,
        |             CAST(floor(value * 100 + 0.5) AS BIGINT) AS y
        |           FROM events),
        |mid AS (SELECT (min(tus) + max(tus)) // 2 AS tmid FROM e),
        |cells AS (SELECT arm,
        |            CASE WHEN tus >= tmid THEN 1 ELSE 0 END AS post,
        |            CAST(count(*) AS BIGINT) AS n,
        |            CAST(sum(y) AS BIGINT) AS sy,
        |            CAST(sum(y * y) AS BIGINT) AS qq
        |          FROM e CROSS JOIN mid GROUP BY 1, 2),
        |mw AS (SELECT arm, post, n,
        |         CAST((2 * 10000 * CAST(sy AS HUGEINT) + n) // (2 * n)
        |              AS BIGINT) AS m,
        |         CAST((2 * 100000000 * (CAST(n AS HUGEINT) * qq
        |               - CAST(sy AS HUGEINT) * sy)
        |               + CAST(n AS HUGEINT) * n * (n - 1))
        |              // (2 * CAST(n AS HUGEINT) * n * (n - 1))
        |           AS BIGINT) AS w
        |       FROM cells),
        |p AS (SELECT
        |        max(CASE WHEN arm = 0 AND post = 0 THEN n END) AS n00,
        |        max(CASE WHEN arm = 0 AND post = 1 THEN n END) AS n01,
        |        max(CASE WHEN arm = 1 AND post = 0 THEN n END) AS n10,
        |        max(CASE WHEN arm = 1 AND post = 1 THEN n END) AS n11,
        |        max(CASE WHEN arm = 0 AND post = 0 THEN m END) AS m00,
        |        max(CASE WHEN arm = 0 AND post = 1 THEN m END) AS m01,
        |        max(CASE WHEN arm = 1 AND post = 0 THEN m END) AS m10,
        |        max(CASE WHEN arm = 1 AND post = 1 THEN m END) AS m11,
        |        max(CASE WHEN arm = 0 AND post = 0 THEN w END) +
        |        max(CASE WHEN arm = 0 AND post = 1 THEN w END) +
        |        max(CASE WHEN arm = 1 AND post = 0 THEN w END) +
        |        max(CASE WHEN arm = 1 AND post = 1 THEN w END) AS w_sum
        |      FROM mw)
        |SELECT n00, n01, n10, n11, m00, m01, m10, m11,
        |       (m11 - m10) - (m01 - m00) AS did_x1e4,
        |       CAST((m11 - m10) - (m01 - m00) AS DOUBLE)
        |         / sqrt(CAST(w_sum AS DOUBLE)) AS t,
        |       10000 * CAST((m11 - m10) - (m01 - m00) AS HUGEINT)
        |         * ((m11 - m10) - (m01 - m00)) >
        |         38416 * CAST(w_sum AS HUGEINT) AS significant
        |FROM p""".stripMargin),

    // Cramér's V (round 15) — the EFFECT-SIZE companion the
    // chi-square family lacked (ab_chisq answers "is there an
    // association", THIS answers "how strong"; Cramér 1946): the
    // event_type × md5-coin contingency ("crv:" salt — an A/A-style
    // independent split, so V must sit near 0: the calibration read).
    // Per-cell chi term exactly rationalized: (O−E)²/E with E = RC/n
    // collapses to (On − RC)²/(nRC), each term a HALF_UP 1e4 integer
    // cell (the benford_audit rounded-term contract — a raw double Σ
    // would be order-dependent), so chi2_x1e4 = Σ terms is exact;
    // V² = χ²/(n·min(r−1,c−1)) with min = 1 (two arms) collapses to
    // the exact HALF_UP 1e6 cell v2_x1e6 = HALF_UP(100·chi2_x1e4/n).
    // 100 TB shape: ONE partial+final hash agg to the 10-cell
    // contingency; margins re-aggregate the 10-row frame.
    Query("cramers_v", { (s, d) =>
      val e = Tables.events(s, d).select(col("event_type"),
        pmod(Dedup.md5Hash60(concat(lit("crv:"), col("event_id"))),
          lit(2L)).as("arm"))
      val cells = e.groupBy(col("event_type"), col("arm"))
        .agg(count(lit(1)).as("o"))
        .localCheckpoint(true)
      val rows = cells.groupBy(col("event_type"))
        .agg(sum(col("o")).as("r"))
      val cols = cells.groupBy(col("arm")).agg(sum(col("o")).as("cc"))
      val n = cells.agg(sum(col("o")).as("n"))
      cells.join(rows, "event_type").join(cols, "arm").crossJoin(n)
        .selectExpr("n",
          "CAST((2 * 10000 * (CAST(o AS DECIMAL(38,0)) * n" +
            " - CAST(r AS DECIMAL(38,0)) * cc)" +
            " * (CAST(o AS DECIMAL(38,0)) * n" +
            " - CAST(r AS DECIMAL(38,0)) * cc)" +
            " + CAST(n AS DECIMAL(38,0)) * r * cc)" +
            " div (2 * CAST(n AS DECIMAL(38,0)) * r * cc)" +
            " AS BIGINT) AS term_x1e4")
        .groupBy(col("n"))
        .agg(count(lit(1)).as("n_cells"),
          sum(col("term_x1e4")).as("chi2_x1e4"))
        .selectExpr("n", "n_cells", "chi2_x1e4",
          "CAST((2 * 100 * CAST(chi2_x1e4 AS DECIMAL(38,0)) + n)" +
            " div (2 * CAST(n AS DECIMAL(38,0))) AS BIGINT) AS v2_x1e6")
    },
      // cramers_v: the rationalized per-cell terms replay in HUGEINT
      // (the squared numerator keeps every term non-negative, // ≡ div).
      """WITH e AS (SELECT event_type,
        |    CAST('0x' || substr(md5('crv:' || CAST(event_id AS VARCHAR)),
        |      1, 15) AS BIGINT) % 2 AS arm
        |  FROM events),
        |cells AS (SELECT event_type, arm, CAST(count(*) AS BIGINT) AS o
        |          FROM e GROUP BY 1, 2),
        |rr AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS r
        |       FROM cells GROUP BY 1),
        |c2 AS (SELECT arm, CAST(sum(o) AS BIGINT) AS cc
        |       FROM cells GROUP BY 1),
        |nn AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
        |terms AS (SELECT n,
        |    CAST((2 * 10000 * (CAST(o AS HUGEINT) * n
        |          - CAST(r AS HUGEINT) * cc)
        |          * (CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * cc)
        |          + CAST(n AS HUGEINT) * r * cc)
        |         // (2 * CAST(n AS HUGEINT) * r * cc) AS BIGINT)
        |      AS term_x1e4
        |  FROM cells JOIN rr USING (event_type) JOIN c2 USING (arm)
        |  CROSS JOIN nn)
        |SELECT n, CAST(count(*) AS BIGINT) AS n_cells,
        |       CAST(sum(term_x1e4) AS BIGINT) AS chi2_x1e4,
        |       CAST((2 * 100 * CAST(sum(term_x1e4) AS HUGEINT) + n)
        |         // (2 * CAST(n AS HUGEINT)) AS BIGINT) AS v2_x1e6
        |FROM terms GROUP BY n""".stripMargin),

    // One-pass bootstrap CI (round 15) — resampling uncertainty for
    // the mean, the interval the point estimators (sensor_stats,
    // welch_ttest's arms) never report (Efron 1979; the one-pass
    // weighted form is Kleiner et al.'s scalable-bootstrap shape):
    // B = 30 replicates, each row's replicate weight drawn from ONE
    // md5 per row — bits (2b, 2b+1) of the 60-bit hash map to
    // multinomial-ish weights {0→2, 3→0, else→1} (mean 1, variance
    // ½) — so the whole resample is 60 partial-aggregable sums in a
    // SINGLE scan: no explode, no per-replicate pass, no shuffle
    // growth with B. Replicate means are exact HALF_UP 1e4 cells
    // (values ≥ 0 — TESTDATA bounds — keeps HALF_UP sign-free; sums
    // DECIMAL(38,0)-routed); the CI is a pure rank pick (2nd / 29th
    // of the 30 sorted means ≈ central 90%) on the 30-row stacked
    // frame, and `covered` pins that the full-data mean sits inside.
    // 100 TB shape: ONE scan, 62 map-side-combinable aggregates to a
    // 1-row frame; everything after rides 30 rows.
    Query("bootstrap_ci", { (s, d) =>
      val B = 30
      val ev = Tables.events(s, d).select(
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"),
        Dedup.md5Hash60(concat(lit("bs:"), col("event_id"))).as("h"))
      def wSql(b: Int) =
        s"(CASE WHEN shiftright(h, ${2 * b}) & 3 = 0 THEN 2L " +
          s"WHEN shiftright(h, ${2 * b}) & 3 = 3 THEN 0L ELSE 1L END)"
      val aggs = (0 until B).flatMap(b => Seq(
        sum(expr(wSql(b))).as(s"n_$b"),
        sum(expr(s"${wSql(b)} * cents")).as(s"s_$b"))) ++ Seq(
        count(lit(1)).as("full_n"), sum(col("cents")).as("full_s"))
      val one = ev.agg(aggs.head, aggs.tail: _*).localCheckpoint(true)
      val stackArgs = (0 until B).map(b => s"${b}L, n_$b, s_$b")
        .mkString(", ")
      val means = one
        .selectExpr(s"stack($B, $stackArgs) AS (b, n_b, s_b)")
        .selectExpr("b",
          "CAST((2 * 10000 * CAST(s_b AS DECIMAL(38,0)) + n_b)" +
            " div (2 * n_b) AS BIGINT) AS mean_x1e4")
        .withColumn("rn", row_number()
          .over(Window.orderBy(col("mean_x1e4"), col("b"))))
      val ci = means.agg(
        count(lit(1)).as("n_reps"),
        max(when(col("rn") === 2, col("mean_x1e4"))).as("ci_lo_x1e4"),
        max(when(col("rn") === B - 1, col("mean_x1e4"))).as("ci_hi_x1e4"))
      one.selectExpr(
        "CAST((2 * 10000 * CAST(full_s AS DECIMAL(38,0)) + full_n)" +
          " div (2 * full_n) AS BIGINT) AS full_mean_x1e4")
        .crossJoin(broadcast(ci))
        .selectExpr("n_reps", "full_mean_x1e4", "ci_lo_x1e4", "ci_hi_x1e4",
          "full_mean_x1e4 BETWEEN ci_lo_x1e4 AND ci_hi_x1e4 AS covered")
    },
      // bootstrap_ci: the same single-hash weight derivation, 30
      // replicate sums and the rank-picked CI replay exactly (HUGEINT
      // mirrors the DECIMAL routing; >> and & agree on non-negative
      // 60-bit hashes).
      """WITH e AS (SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
        |             CAST('0x' || substr(md5('bs:' ||
        |               CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
        |           FROM events),
        |bb AS (SELECT CAST(i AS BIGINT) AS b FROM range(30) t(i)),
        |reps AS (SELECT b,
        |    CAST(sum(CASE WHEN (h >> CAST(2 * b AS INT)) & 3 = 0 THEN 2
        |             WHEN (h >> CAST(2 * b AS INT)) & 3 = 3 THEN 0
        |             ELSE 1 END) AS BIGINT) AS n_b,
        |    CAST(sum((CASE WHEN (h >> CAST(2 * b AS INT)) & 3 = 0 THEN 2
        |              WHEN (h >> CAST(2 * b AS INT)) & 3 = 3 THEN 0
        |              ELSE 1 END) * cents) AS BIGINT) AS s_b
        |  FROM e CROSS JOIN bb GROUP BY b),
        |m AS (SELECT b,
        |        CAST((2 * 10000 * CAST(s_b AS HUGEINT) + n_b)
        |             // (2 * n_b) AS BIGINT) AS mean_x1e4
        |      FROM reps),
        |r AS (SELECT mean_x1e4,
        |        row_number() OVER (ORDER BY mean_x1e4, b) AS rn
        |      FROM m),
        |f AS (SELECT CAST(count(*) AS BIGINT) AS full_n,
        |        CAST(sum(cents) AS BIGINT) AS full_s
        |      FROM e),
        |c AS (SELECT CAST(30 AS BIGINT) AS n_reps,
        |        (SELECT mean_x1e4 FROM r WHERE rn = 2) AS ci_lo_x1e4,
        |        (SELECT mean_x1e4 FROM r WHERE rn = 29) AS ci_hi_x1e4,
        |        CAST((2 * 10000 * CAST(full_s AS HUGEINT) + full_n)
        |             // (2 * full_n) AS BIGINT) AS full_mean_x1e4
        |      FROM f)
        |SELECT n_reps, full_mean_x1e4, ci_lo_x1e4, ci_hi_x1e4,
        |       full_mean_x1e4 BETWEEN ci_lo_x1e4 AND ci_hi_x1e4 AS covered
        |FROM c""".stripMargin))
}
