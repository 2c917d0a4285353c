package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{Drift, GapFill, Trend}

/** Time-series queries over `events`: gap filling, trends, smoothing and
  * forecasting, change-point and drift detection, outliers.
  */
object TimeSeriesQueries {

  import QueryCommon._

  val all: Seq[Query] = Seq(
    // Time-series gap fill (ops.GapFill): dense hourly grid per user
    // with forward-filled averages — the TimescaleDB
    // time_bucket_gapfill/locf capability (init-db.sql hypertable
    // consumers) rebuilt Spark-side. Raw events cross ONE exchange;
    // the grid/window stages run on keys × hours rows.
    Query("gap_fill", { (s, d) =>
      GapFill.hourlyFill(Tables.events(s, d), Seq(col("user_id")),
        Tables.tsUs, col("value"), bucketUs = 3600L * Tables.MicrosPerSecond)
    },
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tus, value FROM events),
        |a AS (SELECT user_id, tus - tus % 3600000000 AS bucket_us,
        |             count(*) AS n_events, round(avg(value), 4) AS avg_value
        |      FROM e GROUP BY 1, 2),
        |b AS (SELECT user_id, min(bucket_us) AS lo, max(bucket_us) AS hi
        |      FROM a GROUP BY 1),
        |g AS (SELECT user_id, unnest(generate_series(lo, hi, 3600000000)) AS bucket_us
        |      FROM b)
        |SELECT g.user_id, g.bucket_us,
        |       CAST(coalesce(a.n_events, 0) AS BIGINT) AS n_events,
        |       a.avg_value,
        |       f.avg_value AS filled_value
        |FROM g
        |LEFT JOIN a ON a.user_id = g.user_id AND a.bucket_us = g.bucket_us
        |ASOF LEFT JOIN a f
        |  ON f.user_id = g.user_id AND g.bucket_us >= f.bucket_us""".stripMargin),

    // Linear-interpolation companion (ops.GapFill.hourlyInterp):
    // TimescaleDB's interpolate() next to gap_fill's locf. Same
    // one-scan lead/sequence shape; gap buckets get the exact
    // HALF_UP-integer interpolation between the surrounding means
    // (centi-value longs — both engines produce identical integers,
    // the closing /100.0 double is the same bits).
    Query("gap_interp", { (s, d) =>
      GapFill.hourlyInterp(Tables.events(s, d), Seq(col("user_id")),
        Tables.tsUs, col("value"), bucketUs = 3600L * Tables.MicrosPerSecond)
    },
      // Mirrors GapFill.hourlyInterp exactly: HALF_UP centi-mean per
      // observed bucket, lead() to the next observation, gap rows
      // generated between consecutive observations, HALF_UP integer
      // interpolation (sign-split so DuckDB's floor `//` matches Spark's
      // truncating `div` — numerators are kept non-negative in both).
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tus,
        |             CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        |           FROM events),
        |a AS (SELECT user_id, tus - tus % 3600000000 AS obs_us,
        |             count(*) AS n_obs, sum(c) AS sc
        |      FROM e GROUP BY 1, 2),
        |m AS (SELECT user_id, obs_us,
        |        CASE WHEN sc >= 0 THEN (2 * sc + n_obs) // (2 * n_obs)
        |             ELSE -((2 * -sc + n_obs) // (2 * n_obs)) END AS cx
        |      FROM a),
        |l AS (SELECT user_id, obs_us, cx,
        |        lead(obs_us) OVER w AS next_us,
        |        lead(cx) OVER w AS next_cx
        |      FROM m WINDOW w AS (PARTITION BY user_id ORDER BY obs_us)),
        |g AS (SELECT user_id, obs_us, cx, next_us, next_cx,
        |        unnest(generate_series(obs_us,
        |          coalesce(next_us - 3600000000, obs_us), 3600000000)) AS bucket_us
        |      FROM l),
        |r AS (SELECT user_id, bucket_us, bucket_us = obs_us AS observed,
        |        CASE WHEN bucket_us = obs_us THEN cx
        |             ELSE cx + CAST(CASE WHEN next_cx - cx >= 0
        |               THEN (2 * CAST(next_cx - cx AS HUGEINT) * (bucket_us - obs_us)
        |                     + (next_us - obs_us)) // (2 * (next_us - obs_us))
        |               ELSE -((2 * CAST(cx - next_cx AS HUGEINT) * (bucket_us - obs_us)
        |                       + (next_us - obs_us)) // (2 * (next_us - obs_us)))
        |               END AS BIGINT)
        |        END AS interp_cx
        |      FROM g)
        |SELECT user_id, bucket_us, observed,
        |       CAST(interp_cx AS BIGINT) AS interp_cx,
        |       CAST(interp_cx AS DOUBLE) / 100.0 AS interp_value
        |FROM r""".stripMargin),

    // Per-user value trend (ops.Trend): least-squares slope over
    // (minutes-since-origin, centi-value) — both LONG-encoded so the
    // five sufficient statistics are exact integer sums; the single
    // closing division is the only float op. One partial+final
    // HashAggregate over the scan.
    Query("trend_slope", { (s, d) =>
      // Emit the sufficient statistics as LONG: the operator keeps
      // DECIMAL(38,0) internally (overflow headroom at cluster scale),
      // but the driver hashes dtypes too, and the oracle's HUGEINT sums
      // land in pandas as float64 unless both sides narrow to int64.
      // They fit in int64 at every test SF by the encoding contract —
      // and the cast is GUARDED: with ANSI off Spark's decimal→long
      // overflow yields NULL silently while DuckDB's HUGEINT→BIGINT
      // throws, so past the contract scale the engines would diverge
      // silently. raise_error makes Spark fail loudly like the oracle.
      val longExact = QueryCommon.longExact("trend_slope") _
      Trend.slope(Tables.events(s, d), Seq(col("user_id")),
        x = expr(s"(ts div 1000 - $OriginUs) div 60000000"),
        y = floor(col("value") * 100 + lit(0.5)).cast("long"))
        .withColumn("sx", longExact(col("sx")))
        .withColumn("sy", longExact(col("sy")))
        .withColumn("sxy", longExact(col("sxy")))
        .withColumn("sxx", longExact(col("sxx")))
    },
      // HUGEINT (DuckDB) and DECIMAL(38,0) (Spark) are both exact for the
      // closed-form products; the nearest-double cast of the same integer
      // and the final IEEE division agree bit-for-bit.
      """WITH e AS (SELECT user_id,
        |             (epoch_us(ts) - 1704067200000000) // 60000000 AS x,
        |             CAST(floor(value * 100 + 0.5) AS BIGINT) AS y
        |           FROM events),
        |s AS (SELECT user_id, count(*) AS n,
        |             sum(x) AS sx, sum(y) AS sy,
        |             sum(x * y) AS sxy, sum(x * x) AS sxx
        |      FROM e GROUP BY 1),
        |t AS (SELECT user_id, n, sx, sy, sxy, sxx,
        |        CAST(n AS HUGEINT) * CAST(sxy AS HUGEINT)
        |          - CAST(sx AS HUGEINT) * CAST(sy AS HUGEINT) AS num,
        |        CAST(n AS HUGEINT) * CAST(sxx AS HUGEINT)
        |          - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS den
        |      FROM s)
        |SELECT user_id, n,
        |       CAST(sx AS BIGINT) AS sx, CAST(sy AS BIGINT) AS sy,
        |       CAST(sxy AS BIGINT) AS sxy, CAST(sxx AS BIGINT) AS sxx,
        |       CASE WHEN den <> 0
        |            THEN CAST(CASE WHEN num >= 0
        |                      THEN (2 * num * 100000000 + den) // (2 * den)
        |                      ELSE -((2 * -num * 100000000 + den) // (2 * den))
        |                 END AS DOUBLE) / 100000000.0
        |       END AS slope
        |FROM t""".stripMargin),

    // Per-user lag-1 autocorrelation (round 8) — the serial-dependence
    // companion to trend_slope: consecutive (prev, cur) centi-value
    // pairs over the (ts, event_id) total order, Pearson r over the
    // pairs. Six sufficient statistics accumulate as exact
    // DECIMAL(38,0) integer sums (narrowed to int64 under the same
    // raise_error guard as trend_slope), so the closing r is a FIXED
    // tree of IEEE double ops over identical integer inputs — both
    // engines produce the same bits with no rounding (the ewma
    // unrounded-double convention). Plan shape: ONE sort exchange for
    // the lag window, then partial+final hash aggregate; the pair
    // stream never rewidens — at 100 TB this is the same
    // sort-within-user cost the window family already pays.
    Query("autocorr", { (s, d) =>
      val longExact = QueryCommon.longExact("autocorr") _
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("tus"), col("event_id"))
      val pairs = Tables.events(s, d)
        .select(col("user_id"), Tables.tsUs.as("tus"), col("event_id"),
          floor(col("value") * 100 + lit(0.5)).cast("long").as("y"))
        .withColumn("x", lag(col("y"), 1).over(w))
        .filter(col("x").isNotNull)
      def dsum38(c: Column) = sum(c.cast("decimal(38,0)"))
      val stats = pairs.groupBy(col("user_id")).agg(
        count(lit(1)).as("n_pairs"),
        longExact(dsum38(col("x"))).as("sx"),
        longExact(dsum38(col("y"))).as("sy"),
        longExact(dsum38(col("x") * col("y"))).as("sxy"),
        longExact(dsum38(col("x") * col("x"))).as("sxx"),
        longExact(dsum38(col("y") * col("y"))).as("syy"))
      def dbl(name: String) = col(name).cast("double")
      val num = dbl("n_pairs") * dbl("sxy") - dbl("sx") * dbl("sy")
      val den1 = dbl("n_pairs") * dbl("sxx") - dbl("sx") * dbl("sx")
      val den2 = dbl("n_pairs") * dbl("syy") - dbl("sy") * dbl("sy")
      stats.select(col("user_id"), col("n_pairs"),
        col("sx"), col("sy"), col("sxy"), col("sxx"), col("syy"),
        when(den1 > lit(0.0) && den2 > lit(0.0), num / sqrt(den1 * den2))
          .as("r_lag1"))
    },
      // r_lag1 is emitted UNROUNDED (ewma convention): both engines
      // evaluate the same fixed IEEE-double tree over the same exact
      // int64 sufficient statistics, so the bits agree by construction.
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_id,
        |             CAST(floor(value * 100 + 0.5) AS BIGINT) AS y
        |           FROM events),
        |p AS (SELECT user_id, y,
        |        lag(y) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS x
        |      FROM e),
        |s AS (SELECT user_id, count(*) AS n_pairs,
        |        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |        CAST(sum(x * y) AS BIGINT) AS sxy,
        |        CAST(sum(x * x) AS BIGINT) AS sxx,
        |        CAST(sum(y * y) AS BIGINT) AS syy
        |      FROM p WHERE x IS NOT NULL GROUP BY 1)
        |SELECT user_id, n_pairs, sx, sy, sxy, sxx, syy,
        |  CASE WHEN CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
        |              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
        |        AND CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
        |              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
        |       THEN (CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)
        |               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |            / sqrt((CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
        |                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |                 * (CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
        |                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |       END AS r_lag1
        |FROM s""".stripMargin),

    // Per-type z-score outliers with EXACT integer math: flag rows with
    // z² > 9 via (n·y − S)² > 9·(n·Q − S²) over centi-scaled values —
    // no float mean/variance, so both engines flag the identical row
    // set (a float-z formulation can disagree on boundary rows). Two
    // passes by design: the 5-row stats aggregate broadcasts back onto
    // the scan — a window-based single-pass would shuffle every raw row
    // by event_type (5 partitions at any scale: the degenerate layout).
    Query("zscore_outliers", { (s, d) =>
      val dec = "decimal(38,0)"
      val y = floor(col("value") * 100 + lit(0.5)).cast("long")
      val e = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"), y.as("y"))
      val stats = e.groupBy(col("event_type")).agg(
        count(lit(1)).as("n"),
        sum(col("y").cast(dec)).as("s"),
        sum((col("y") * col("y")).cast(dec)).as("q"))
      val dev = col("n").cast(dec) * col("y").cast(dec) - col("s")
      e.join(broadcast(stats), "event_type")
        .filter(dev * dev > lit(9) * (col("n").cast(dec) * col("q") - col("s") * col("s")))
        .select(col("event_id"), col("event_type"), col("value"))
    },
      // HUGEINT products are exact int128 — DuckDB's analog of the Spark
      // side's DECIMAL(38,0); identical integer comparisons flag the
      // identical row set.
      """WITH e AS (SELECT event_id, event_type, value,
        |                  CAST(floor(value * 100 + 0.5) AS BIGINT) AS y
        |           FROM events),
        |st AS (SELECT event_type, count(*) AS n,
        |              sum(CAST(y AS HUGEINT)) AS s,
        |              sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS q
        |       FROM e GROUP BY 1)
        |SELECT event_id, e.event_type, value
        |FROM e JOIN st ON e.event_type = st.event_type
        |WHERE (CAST(n AS HUGEINT) * y - s) * (CAST(n AS HUGEINT) * y - s)
        |      > 9 * (CAST(n AS HUGEINT) * q - s * s)""".stripMargin),

    // Median/MAD robust outliers (round 12) — the breakdown-resistant
    // twin of zscore_outliers (Hampel 1974; Leys et al. 2013: a
    // single wild value inflates mean AND stddev, masking real
    // outliers — median and MAD have 50% breakdown). EXACT medians,
    // no percentile_approx: on the centi-quantized compressed
    // histogram, median×2 is selected by rank arithmetic (the two
    // middle order statistics k₁=(n+1)div2, k₂=(n+2)div2 fall in a
    // value's cumulative span [cum−c+1, cum]; summing the hits gives
    // 2·median exactly, odd or even n — so the ".5 between two
    // values" case never touches floats). MAD runs the same selection
    // over |2y − med2| deviations, and the flag is the all-integer
    // 2·dev > 3·mad2 (≡ |y−med| > 3·MAD). 100 TB shape: the
    // winsorize/equidepth two-level layout — raw rows collapse to
    // per-(type, centi-value) cells BEFORE any window; the cumulative
    // rides the compressed per-type frame; medians broadcast back.
    Query("mad_outliers", { (s, d) =>
      val y = floor(col("value") * 100 + lit(0.5)).cast("long")
      val e = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"), y.as("y"))
        .localCheckpoint(true)
      val nT = e.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      def median2(hist: DataFrame): DataFrame = {
        val cw = Window.partitionBy(col("event_type")).orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, 0)
        hist.withColumn("cum", sum(col("c")).over(cw))
          .join(broadcast(nT), "event_type")
          .withColumn("lo", col("cum") - col("c") + 1)
          .select(col("event_type"),
            (when(expr("(n + 1) div 2").between(col("lo"), col("cum")),
              col("v")).otherwise(lit(0L)) +
             when(expr("(n + 2) div 2").between(col("lo"), col("cum")),
               col("v")).otherwise(lit(0L))).as("part"))
          .groupBy(col("event_type")).agg(sum(col("part")).as("m2"))
      }
      val med = median2(e.groupBy(col("event_type"), col("y").as("v"))
        .agg(count(lit(1)).as("c")))
      val dev = e.join(broadcast(med), "event_type")
        .withColumn("dv", abs(lit(2L) * col("y") - col("m2")))
      val mad = median2(dev.groupBy(col("event_type"), col("dv").as("v"))
          .agg(count(lit(1)).as("c")))
        .withColumnRenamed("m2", "mad2")
      dev.join(broadcast(mad), "event_type")
        .filter(lit(2L) * col("dv") > lit(3L) * col("mad2"))
        .select(col("event_id"), col("event_type"), col("value"))
    },
      // mad_outliers: the same compressed-histogram rank selection —
      // 2·median via the two middle order statistics — run twice
      // (values, then |2y − med2| deviations), then the integer
      // 2·dev > 3·mad2 flag.
      """WITH e AS (SELECT event_id, event_type, value,
        |                  CAST(floor(value * 100 + 0.5) AS BIGINT) AS y
        |           FROM events),
        |n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
        |      FROM e GROUP BY 1),
        |h AS (SELECT event_type, y AS v, CAST(count(*) AS BIGINT) AS c
        |      FROM e GROUP BY 1, 2),
        |hc AS (SELECT event_type, v, c,
        |         sum(c) OVER (PARTITION BY event_type ORDER BY v
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |       FROM h),
        |med AS (SELECT hc.event_type, CAST(sum(
        |          CASE WHEN (n.n + 1) // 2 BETWEEN cum - c + 1 AND cum
        |               THEN v ELSE 0 END +
        |          CASE WHEN (n.n + 2) // 2 BETWEEN cum - c + 1 AND cum
        |               THEN v ELSE 0 END) AS BIGINT) AS m2
        |        FROM hc JOIN n USING (event_type) GROUP BY 1),
        |dv AS (SELECT e.event_id, e.event_type, e.value,
        |              abs(2 * e.y - med.m2) AS dvv
        |       FROM e JOIN med USING (event_type)),
        |dh AS (SELECT event_type, dvv AS v, CAST(count(*) AS BIGINT) AS c
        |       FROM dv GROUP BY 1, 2),
        |dhc AS (SELECT event_type, v, c,
        |          sum(c) OVER (PARTITION BY event_type ORDER BY v
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |        FROM dh),
        |mad AS (SELECT dhc.event_type, CAST(sum(
        |          CASE WHEN (n.n + 1) // 2 BETWEEN cum - c + 1 AND cum
        |               THEN v ELSE 0 END +
        |          CASE WHEN (n.n + 2) // 2 BETWEEN cum - c + 1 AND cum
        |               THEN v ELSE 0 END) AS BIGINT) AS mad2
        |        FROM dhc JOIN n USING (event_type) GROUP BY 1)
        |SELECT d.event_id, d.event_type, d.value
        |FROM dv d JOIN mad USING (event_type)
        |WHERE 2 * d.dvv > 3 * mad.mad2""".stripMargin),

    // EWMA (exponential smoothing, alpha = 0.1) — the sequential-
    // recurrence class: acc' = 0.9·acc + 0.1·x has a true loop-carried
    // dependency no window frame or algebraic aggregate expresses, so
    // it runs as a typed per-key sorted fold (mapGroups). Determinism:
    // the fold order is total (ts, event_id) and both engines execute
    // the IDENTICAL chain of IEEE ops — Spark in JVM doubles, DuckDB
    // via list_reduce over the same-ordered list — so the raw doubles
    // agree bit-for-bit and the output is emitted UNROUNDED (a closing
    // round(double) is the one construct that can straddle engines on
    // half-point rows; identical-op-chain outputs need no rounding).
    // 100 TB shape: state is one double per key and each key's fold is
    // sequential BY DEFINITION — the parallelism axis is keys, which
    // is exactly how groupByKey partitions it.
    Query("ewma", { (s, d) =>
      import s.implicits._
      Tables.events(s, d)
        .select(col("user_id"), Tables.tsUs.as("tus"), col("event_id"), col("value"))
        .as[(Long, Long, Long, Double)]
        .groupByKey(_._1)
        // flatMapSortedGroups = secondary sort: the shuffle's external
        // sorter (spillable) delivers each key's rows already ordered
        // by (tus, event_id), so the fold is a streaming O(1)-state
        // pass — no per-key Vector materialization (a hot key with
        // billions of events would OOM the round-5 toVector.sortBy).
        .flatMapSortedGroups(col("tus"), col("event_id")) { (k, it) =>
          var n = 0L
          var acc = 0.0
          it.foreach { r =>
            acc = if (n == 0L) r._4 else 0.9 * acc + 0.1 * r._4
            n += 1
          }
          Iterator.single((k, n, acc))
        }
        .toDF("user_id", "n", "ewma")
    },
      """WITH l AS (SELECT user_id,
        |             list(value ORDER BY epoch_us(ts), event_id) AS vs
        |           FROM events GROUP BY 1)
        |SELECT user_id, CAST(len(vs) AS BIGINT) AS n,
        |       list_reduce(vs, (acc, x) -> 0.9 * acc + 0.1 * x) AS ewma
        |FROM l""".stripMargin),

    // Two-sample Kolmogorov–Smirnov drift test (round 10) — the
    // distribution-shift monitor a production pipeline runs between
    // deployment windows: per event_type, split the table at the
    // midpoint of its time range (exact epoch-micros integer midpoint,
    // 1-row broadcast) and compare the early/late value distributions.
    // The statistic is EXACT integer end to end: at each observed value
    // the scaled CDF gap is |nb·cumA − na·cumB| (common denominator
    // na·nb deferred), d_num = max over values, and only the final
    // d_x1e6 divides — HALF_UP on non-negative BIGINTs. No sketch, no
    // float compare. 100 TB shape: raw rows collapse to the compressed
    // (type, value) histogram FIRST (one partial+final agg — the
    // equidepth_hist_scale move); the cumulative window then rides
    // distinct values per type, not rows, and a quantized `value`
    // (centi-units) bounds that domain outright if a corpus arrives
    // with unbounded distinct doubles. na·nb ≤ (rows/type)² stays
    // inside BIGINT through na, nb < 3e9 per type (the gap products
    // bind; the final 1e6-scaled division rides DECIMAL(38,0) so it
    // costs no headroom), and types seen on only ONE side of the
    // split are dropped rather than emitting a null statistic.
    Query("ks_drift", { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("event_type"), Tables.tsUs.as("tus"), col("value"))
      val mid = ev.agg(min(col("tus")).as("lo"), max(col("tus")).as("hi"))
        .selectExpr("(lo + hi) div 2 AS tmid")
      Drift.ks(ev.crossJoin(broadcast(mid)),
          col("event_type"), col("tus") < col("tmid"), col("value"))
        .withColumnRenamed("k", "event_type")
    },
      // ks_drift: same integer-midpoint split, compressed (type, value)
      // histogram, deferred common denominator, HALF_UP only at the end.
      """WITH e AS (SELECT event_type, epoch_us(ts) AS tus, value FROM events),
        |m AS (SELECT (min(tus) + max(tus)) // 2 AS tmid FROM e),
        |cc AS (SELECT event_type, value,
        |         CAST(sum(CASE WHEN tus < tmid THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |         CAST(sum(CASE WHEN tus >= tmid THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |       FROM e CROSS JOIN m GROUP BY 1, 2),
        |w AS (SELECT event_type,
        |        sum(ca) OVER (PARTITION BY event_type) AS na,
        |        sum(cb) OVER (PARTITION BY event_type) AS nb,
        |        abs(sum(cb) OVER (PARTITION BY event_type)
        |              * sum(ca) OVER (PARTITION BY event_type ORDER BY value
        |                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            - sum(ca) OVER (PARTITION BY event_type)
        |              * sum(cb) OVER (PARTITION BY event_type ORDER BY value
        |                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |          AS gap
        |      FROM cc),
        |g AS (SELECT event_type, CAST(na AS BIGINT) AS na,
        |             CAST(nb AS BIGINT) AS nb, CAST(max(gap) AS BIGINT) AS d_num
        |      FROM w GROUP BY 1, 2, 3)
        |SELECT event_type, na, nb, d_num,
        |       CAST((2000000 * CAST(d_num AS HUGEINT) + CAST(na AS HUGEINT) * nb)
        |            // (2 * CAST(na AS HUGEINT) * nb) AS BIGINT) AS d_x1e6
        |FROM g WHERE na > 0 AND nb > 0""".stripMargin),

    // Population Stability Index drift (round 10) — the banded
    // companion to ks_drift (PSI is the score-drift metric model-risk
    // teams actually chart; Karakoulas 2004): same early/late midpoint
    // split, value_histogram's fixed width-5 bins, add-1 smoothing
    // over the per-type observed bin set (so empty-on-one-side bins
    // contribute finitely — the standard ε floor, made exact).
    // Exact-integer discipline: both lns are floored to 1e6-scaled
    // BIGINTs from exact-integer-valued ratios (unigram_logprob
    // convention); each bin's term is
    //   ((ca+1)(nb+v) − (cb+1)(na+v)) · dln  /  ((na+v)(nb+v))
    // whose factors provably share sign (floor(x·1e6+0.5) is
    // monotone), so every term is ≥ 0 and the per-bin HALF_UP division
    // stays on non-negative operands — computed in DECIMAL(38,0) /
    // HUGEINT on the two engines (the products exceed Int64 around a
    // few 1e5 rows per side under concentrated drift; DECIMAL holds
    // to ~1e15); psi_x1e6 is their exact sum. 100 TB shape: one
    // partial+final agg to the (type, bin) frame, a per-type 1-row
    // broadcastable totals join, everything after rides the bin count.
    Query("psi_drift", { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("event_type"), Tables.tsUs.as("tus"), col("value"))
      val mid = ev.agg(min(col("tus")).as("lo"), max(col("tus")).as("hi"))
        .selectExpr("(lo + hi) div 2 AS tmid")
      Drift.psi(ev.crossJoin(broadcast(mid)),
          col("event_type"), col("tus") < col("tmid"), col("value"),
          binWidth = 5.0)
        .withColumnRenamed("k", "event_type")
    },
      // psi_drift: width-5 bins, add-1 smoothing over the observed bin
      // set, 1e6-floored lns over exact-integer ratios, per-bin HALF_UP
      // terms (factors share sign, so every term is non-negative).
      """WITH e AS (SELECT event_type, epoch_us(ts) AS tus, value FROM events),
        |m AS (SELECT (min(tus) + max(tus)) // 2 AS tmid FROM e),
        |cc AS (SELECT event_type, CAST(floor(value / 5) AS BIGINT) AS bin,
        |         CAST(sum(CASE WHEN tus < tmid THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |         CAST(sum(CASE WHEN tus >= tmid THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |       FROM e CROSS JOIN m GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(sum(ca) AS BIGINT) AS na,
        |               CAST(sum(cb) AS BIGINT) AS nb,
        |               CAST(count(*) AS BIGINT) AS v
        |        FROM cc GROUP BY 1),
        |t AS (SELECT cc.event_type, na, nb, v,
        |        (CAST(ca + 1 AS HUGEINT) * (nb + v)
        |           - CAST(cb + 1 AS HUGEINT) * (na + v))
        |          * (CAST(floor(ln(CAST(ca + 1 AS DOUBLE) / CAST(na + v AS DOUBLE))
        |                        * 1e6 + 0.5) AS BIGINT)
        |             - CAST(floor(ln(CAST(cb + 1 AS DOUBLE) / CAST(nb + v AS DOUBLE))
        |                          * 1e6 + 0.5) AS BIGINT)) AS nd
        |      FROM cc JOIN tot USING (event_type))
        |SELECT event_type, na, nb, v AS n_bins,
        |       CAST(sum((2 * nd + CAST(na + v AS HUGEINT) * (nb + v))
        |                // (2 * CAST(na + v AS HUGEINT) * (nb + v))) AS BIGINT)
        |         AS psi_x1e6
        |FROM t GROUP BY 1, 2, 3, 4""".stripMargin),

    // CUSUM change-point detection (round 10) — Page (Biometrika
    // 1954): the in-series shift alarm beside ks_drift/psi_drift's
    // two-window comparisons (those need the windows chosen up front;
    // CUSUM locates the shift itself). Per event_type over the
    // (ts, event_id)-ordered value series: max excursion of the
    // mean-centered cumulative sum, exact-integer via centi-quantized
    // values and n-scaled centering (no division until the final
    // HALF_UP report); detection point = earliest row attaining the
    // max, picked by a partial-aggregable struct-max, not a second
    // sort. One ordered Window pass per type (row_number + running
    // sum + running min share ONE sort), then the struct-max agg —
    // see Drift.cusum for the 100 TB overflow envelope and escape.
    Query("cusum_shift", { (s, d) =>
      Drift.cusum(Tables.events(s, d),
          col("event_type"), Tables.tsUs, col("event_id"), col("value"))
        .withColumnRenamed("k", "event_type")
        .withColumnRenamed("cp_t", "cp_tus")
    },
      // cusum_shift: same centi-quantization, n-scaled centered cumsum,
      // running min, earliest-argmax detection point via min(ROW()) on
      // (-e, t, tb) — the mirror of Spark's max(struct(e, -t, -tb)).
      """WITH e AS (SELECT event_type AS k, epoch_us(ts) AS t, event_id AS tb,
        |             CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
        |           FROM events),
        |tot AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
        |               CAST(sum(vc) AS BIGINT) AS s
        |        FROM e GROUP BY 1),
        |c AS (SELECT e.k, t, tb, n,
        |        n * sum(vc) OVER (PARTITION BY e.k ORDER BY t, tb
        |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |        - row_number() OVER (PARTITION BY e.k ORDER BY t, tb) * s AS cv
        |      FROM e JOIN tot ON tot.k = e.k),
        |x AS (SELECT k, t, tb, n,
        |        cv - min(cv) OVER (PARTITION BY k ORDER BY t, tb
        |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS ex
        |      FROM c),
        |p AS (SELECT k, n, min(struct_pack(ne := -ex, t := t, tb := tb)) AS m
        |      FROM x GROUP BY 1, 2)
        |SELECT k AS event_type, n, CAST(-m.ne AS BIGINT) AS d_num,
        |       CAST(m.t AS BIGINT) AS cp_tus,
        |       CAST((2 * -m.ne + n) // (2 * n) AS BIGINT) AS d_x100
        |FROM p""".stripMargin),

    // Daily burst detection (round 11) — the RATE-anomaly monitor
    // beside cusum_shift's level shifts: per (event_type, day), the
    // event count against its trailing 7-day baseline (a range window
    // over DAY indices, so missing days shrink the baseline instead
    // of silently sliding it); burst ratio = HALF_UP(100·c·base_days /
    // base_sum), flagged at ≥ 2×. Exact integers throughout. Shape:
    // raw rows collapse to the (type, day) frame in ONE partial+final
    // agg; the range window rides ~30 rows per type.
    Query("burst_detect", { (s, d) =>
      val byDay = Window.partitionBy("event_type").orderBy("day")
        .rangeBetween(-7, -1)
      Tables.events(s, d)
        .select(col("event_type"), expr("(ts div 1000) div 86400000000 AS day"))
        .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("c"))
        .withColumn("base_sum", sum(col("c")).over(byDay))
        .withColumn("base_days", count(col("c")).over(byDay))
        .filter(col("base_sum").isNotNull && col("base_sum") > 0)
        .selectExpr("event_type", "day", "c", "base_sum", "base_days",
          "(2 * 100 * c * base_days + base_sum) div (2 * base_sum) AS burst_x100")
        .withColumn("is_burst", col("burst_x100") >= 200L)
    },
      // burst_detect: same (type, day) collapse, RANGE window baseline,
      // HALF_UP ratio.
      """WITH e AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day
        |           FROM events),
        |c AS (SELECT event_type, day, CAST(count(*) AS BIGINT) AS c
        |      FROM e GROUP BY 1, 2),
        |w AS (SELECT event_type, day, c,
        |        sum(c) OVER (PARTITION BY event_type ORDER BY day
        |          RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING) AS base_sum,
        |        count(c) OVER (PARTITION BY event_type ORDER BY day
        |          RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING) AS base_days
        |      FROM c)
        |SELECT event_type, day, c, CAST(base_sum AS BIGINT) AS base_sum,
        |       CAST(base_days AS BIGINT) AS base_days,
        |       CAST((2 * 100 * c * base_days + base_sum) // (2 * base_sum)
        |            AS BIGINT) AS burst_x100,
        |       ((2 * 100 * c * base_days + base_sum) // (2 * base_sum) >= 200)
        |         AS is_burst
        |FROM w WHERE base_sum IS NOT NULL AND base_sum > 0""".stripMargin),

    // Holt double exponential smoothing (round 14) — the level+trend
    // forecaster completing the family (trend_slope = global
    // regression, ewma = level-only smoothing, seasonal_decompose =
    // the cyclic factor; Holt 1957): over the ≤30-row daily cent-sum
    // series, l_t = α·y_t + (1−α)(l_{t−1} + b_{t−1}), b_t =
    // β(l_t − l_{t−1}) + (1−β)b_{t−1} with α = 3/10, β = 1/10 —
    // every step an exact HALF_UP at 1e6 scale, folded driver-side in
    // BigInt over the bounded day frame (the survival_km discipline —
    // a smoothing recurrence is inherently sequential) and replayed
    // by the oracle as the identical HUGEINT recursive CTE. Output
    // carries the one-step-ahead forecast l+b per day. 100 TB shape:
    // one day-keyed map-side-combinable agg; the fold is ≤31 rows.
    Query("holt_linear", { (s, d) =>
      import s.implicits._
      val daily = Tables.events(s, d)
        .select(expr(s"(ts div 1000 - $OriginUs) div ${Tables.MicrosPerDay}")
          .as("day"),
          floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
        .groupBy(col("day")).agg(sum(col("cents")).as("y_cents"))
        .localCheckpoint(true)
      val rows = daily.orderBy(col("day")).collect()
      // HALF_UP(n/d) for signed n, positive d (trend can be negative).
      def sHalf(n: BigInt, dd: BigInt): BigInt =
        if (n.signum >= 0) (2 * n + dd) / (2 * dd)
        else -((2 * -n + dd) / (2 * dd))
      var lv = BigInt(rows.head.getLong(1)) * 1000000
      var bv = BigInt(0)
      val folded = rows.zipWithIndex.map { case (r, i) =>
        if (i > 0) {
          val y6 = BigInt(r.getLong(1)) * 1000000
          val lPrev = lv
          lv = sHalf(3 * y6 + 7 * (lPrev + bv), BigInt(10))
          bv = sHalf((lv - lPrev) + 9 * bv, BigInt(10))
        }
        (r.getLong(0), lv.toLong, bv.toLong, (lv + bv).toLong)
      }.toSeq
      daily.join(broadcast(folded
          .toDF("day", "level_x1e6", "trend_x1e6", "forecast_x1e6")),
        "day")
        .select(col("day"), col("y_cents"), col("level_x1e6"),
          col("trend_x1e6"), col("forecast_x1e6"))
    },
      // holt_linear: the identical signed HALF_UP recurrence as a
      // recursive CTE (l_t appears twice — once as the level, once
      // inside b_t's delta — so the recursive arm nests one derivation).
      s"""WITH RECURSIVE e AS (SELECT
         |    (epoch_us(ts) - $OriginUs) // ${Tables.MicrosPerDay} AS day,
         |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
         |  FROM events),
         |dl AS (SELECT day, CAST(sum(cents) AS BIGINT) AS y_cents
         |       FROM e GROUP BY 1),
         |ord AS (SELECT day, y_cents, row_number() OVER (ORDER BY day)
         |          AS i FROM dl),
         |rec AS (
         |  SELECT i, day, y_cents,
         |         CAST(y_cents AS HUGEINT) * 1000000 AS lv,
         |         CAST(0 AS HUGEINT) AS bv
         |  FROM ord WHERE i = 1
         |  UNION ALL
         |  SELECT i, day, y_cents, lv,
         |    CASE WHEN (lv - lprev) + 9 * bprev >= 0
         |         THEN (2 * ((lv - lprev) + 9 * bprev) + 10) // 20
         |         ELSE -((2 * (-((lv - lprev) + 9 * bprev)) + 10) // 20)
         |    END AS bv
         |  FROM (
         |    SELECT o.i, o.day, o.y_cents, r.lv AS lprev, r.bv AS bprev,
         |      CASE WHEN 3 * CAST(o.y_cents AS HUGEINT) * 1000000
         |                 + 7 * (r.lv + r.bv) >= 0
         |           THEN (2 * (3 * CAST(o.y_cents AS HUGEINT) * 1000000
         |                 + 7 * (r.lv + r.bv)) + 10) // 20
         |           ELSE -((2 * (-(3 * CAST(o.y_cents AS HUGEINT) * 1000000
         |                 + 7 * (r.lv + r.bv))) + 10) // 20)
         |      END AS lv
         |    FROM ord o JOIN rec r ON o.i = r.i + 1) t)
         |SELECT day, y_cents, CAST(lv AS BIGINT) AS level_x1e6,
         |       CAST(bv AS BIGINT) AS trend_x1e6,
         |       CAST(lv + bv AS BIGINT) AS forecast_x1e6
         |FROM rec""".stripMargin),

    // MASE forecast evaluation (round 15) — the scale-free accuracy
    // metric closing the forecast family's loop (holt_linear FITS;
    // nothing previously scored it; Hyndman & Koehler 2006): mean
    // absolute one-step error of the Holt forecast over the daily
    // series, scaled by the naive random-walk MAE on the same steps —
    // MASE < 1 ⟺ the model beats "tomorrow = today". The Holt
    // recursion is the identical BigInt driver fold as holt_linear
    // (the survival_km discipline — inherently sequential, ≤31 rows);
    // error sums stay BigInt/HUGEINT internally and report as HALF_UP
    // cents cells (an x1e6 sum would overflow int64 at corpus-scale
    // daily totals), mase_x1e6 from the raw sums, sn = 0 guarded to 0
    // identically on both engines. 100 TB shape: one map-side day agg;
    // the fold and every cell ride ≤31 rows.
    Query("mase", { (s, d) =>
      import s.implicits._
      val daily = Tables.events(s, d)
        .select(expr(s"(ts div 1000 - $OriginUs) div ${Tables.MicrosPerDay}")
          .as("day"),
          floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
        .groupBy(col("day")).agg(sum(col("cents")).as("y_cents"))
        .localCheckpoint(true)
      val rows = daily.orderBy(col("day")).collect()
      def sHalf(n: BigInt, dd: BigInt): BigInt =
        if (n.signum >= 0) (2 * n + dd) / (2 * dd)
        else -((2 * -n + dd) / (2 * dd))
      var lv = BigInt(rows.head.getLong(1)) * 1000000
      var bv = BigInt(0)
      var prevY = rows.head.getLong(1)
      var sumH = BigInt(0)
      var sumN = BigInt(0)
      rows.zipWithIndex.foreach { case (r, i) =>
        if (i > 0) {
          val y = r.getLong(1)
          val y6 = BigInt(y) * 1000000
          sumH += (y6 - (lv + bv)).abs
          sumN += (BigInt(y - prevY) * 1000000).abs
          val lPrev = lv
          lv = sHalf(3 * y6 + 7 * (lPrev + bv), BigInt(10))
          bv = sHalf((lv - lPrev) + 9 * bv, BigInt(10))
          prevY = y
        }
      }
      val steps = BigInt(rows.length - 1).max(1)
      val mase =
        if (sumN == 0) BigInt(0) else sHalf(1000000 * sumH, sumN)
      Seq((rows.length.toLong,
        sHalf(sumH, 1000000 * steps).toLong,
        sHalf(sumN, 1000000 * steps).toLong,
        mase.toLong, mase < 1000000))
        .toDF("n_days", "holt_mae_c", "naive_mae_c", "mase_x1e6",
          "beats_naive")
    },
      // mase: holt_linear's recursive CTE plus one-step error algebra —
      // eh joins each day to the PREVIOUS day's (l + b); sums stay
      // HUGEINT, cells are the identical HALF_UP forms.
      s"""WITH RECURSIVE e AS (SELECT
         |    (epoch_us(ts) - $OriginUs) // ${Tables.MicrosPerDay} AS day,
         |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
         |  FROM events),
         |dl AS (SELECT day, CAST(sum(cents) AS BIGINT) AS y_cents
         |       FROM e GROUP BY 1),
         |ord AS (SELECT day, y_cents, row_number() OVER (ORDER BY day)
         |          AS i FROM dl),
         |rec AS (
         |  SELECT i, day, y_cents,
         |         CAST(y_cents AS HUGEINT) * 1000000 AS lv,
         |         CAST(0 AS HUGEINT) AS bv
         |  FROM ord WHERE i = 1
         |  UNION ALL
         |  SELECT i, day, y_cents, lv,
         |    CASE WHEN (lv - lprev) + 9 * bprev >= 0
         |         THEN (2 * ((lv - lprev) + 9 * bprev) + 10) // 20
         |         ELSE -((2 * (-((lv - lprev) + 9 * bprev)) + 10) // 20)
         |    END AS bv
         |  FROM (
         |    SELECT o.i, o.day, o.y_cents, r.lv AS lprev, r.bv AS bprev,
         |      CASE WHEN 3 * CAST(o.y_cents AS HUGEINT) * 1000000
         |                 + 7 * (r.lv + r.bv) >= 0
         |           THEN (2 * (3 * CAST(o.y_cents AS HUGEINT) * 1000000
         |                 + 7 * (r.lv + r.bv)) + 10) // 20
         |           ELSE -((2 * (-(3 * CAST(o.y_cents AS HUGEINT) * 1000000
         |                 + 7 * (r.lv + r.bv))) + 10) // 20)
         |      END AS lv
         |    FROM ord o JOIN rec r ON o.i = r.i + 1) t),
         |err AS (SELECT c.i,
         |          abs(CAST(c.y_cents AS HUGEINT) * 1000000
         |              - (p.lv + p.bv)) AS eh,
         |          abs(CAST(c.y_cents - p.y_cents AS HUGEINT) * 1000000)
         |            AS en
         |        FROM rec c JOIN rec p ON c.i = p.i + 1),
         |s AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM dl) AS n_days,
         |        CAST(greatest(count(*), 1) AS HUGEINT) AS steps,
         |        CAST(coalesce(sum(eh), 0) AS HUGEINT) AS sh,
         |        CAST(coalesce(sum(en), 0) AS HUGEINT) AS sn
         |      FROM err)
         |SELECT n_days,
         |       CAST((2 * sh + 1000000 * steps) // (2 * 1000000 * steps)
         |            AS BIGINT) AS holt_mae_c,
         |       CAST((2 * sn + 1000000 * steps) // (2 * 1000000 * steps)
         |            AS BIGINT) AS naive_mae_c,
         |       CAST(CASE WHEN sn = 0 THEN 0
         |            ELSE (2 * 1000000 * sh + sn) // (2 * sn) END
         |         AS BIGINT) AS mase_x1e6,
         |       CASE WHEN sn = 0 THEN 0
         |            ELSE (2 * 1000000 * sh + sn) // (2 * sn) END
         |         < 1000000 AS beats_naive
         |FROM s""".stripMargin),

    // Mann-Kendall trend test (round 15) — the NONPARAMETRIC monotone-
    // trend verdict completing the forecast/trend family (trend_slope
    // = parametric OLS slope, ewma/holt = smoothing, cusum_shift =
    // changepoint; Mann 1945, Kendall 1975): over the ≤31-row daily
    // cent-sum series (the holt_linear frame), S = Σ_{i<j}
    // sgn(y_j − y_i) — exact integers via when/otherwise, never a
    // float sign — with the exact tie term Σ t(t−1)(2t+5) and
    // 18·Var(S) = n(n−1)(2n+5) − Σt(t−1)(2t+5) kept as the integer
    // v18; z is one fixed IEEE tree over (S, v18) with the continuity
    // correction, and the trend verdict is a PURE-INTEGER compare:
    // 180000·(|S|−1)² > 38416·v18 (z² > 1.96² cross-multiplied
    // through the /18). 100 TB shape: one day-keyed map-side-
    // combinable agg to ≤31 rows; the O(n²) pairwise join runs on
    // THAT bounded frame (≤465 pairs at any SF), never on rows.
    Query("mann_kendall", { (s, d) =>
      val daily = Tables.events(s, d)
        .select(expr(s"(ts div 1000 - $OriginUs) div ${Tables.MicrosPerDay}")
          .as("day"),
          floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
        .groupBy(col("day")).agg(sum(col("cents")).as("y"))
        .localCheckpoint(true)
      val a = daily.select(col("day").as("di"), col("y").as("yi"))
      val b = daily.select(col("day").as("dj"), col("y").as("yj"))
      val sStat = a.join(b, col("di") < col("dj"))
        .agg(coalesce(sum(when(col("yj") > col("yi"), 1L)
          .when(col("yj") < col("yi"), -1L).otherwise(0L)), lit(0L))
          .as("s_stat"))
      val tie = daily.groupBy(col("y")).agg(count(lit(1)).as("t"))
        .agg(count(lit(1)).as("n_distinct"),
          sum(col("t")).as("n_days"),
          sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5)).as("tsum"))
      sStat.crossJoin(broadcast(tie))
        .selectExpr("n_days", "s_stat",
          "n_days * (n_days - 1) * (2 * n_days + 5) - tsum AS v18")
        .selectExpr("n_days", "s_stat", "v18",
          "CASE WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE) - 1.0) / " +
            "sqrt(CAST(v18 AS DOUBLE) / 18.0) " +
            "WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE) + 1.0) / " +
            "sqrt(CAST(v18 AS DOUBLE) / 18.0) ELSE 0.0 END AS z",
          "CASE WHEN abs(s_stat) >= 1 THEN " +
            "180000 * (abs(s_stat) - 1) * (abs(s_stat) - 1) > " +
            "38416 * v18 ELSE false END AS trending",
          "s_stat > 0 AS upward")
    },
      // mann_kendall: exact pairwise S and the tie-corrected v18 replay
      // on the same ≤31-row daily frame; z is the identical IEEE tree.
      """WITH e AS (SELECT (epoch_us(ts) - 1704067200000000)
        |             // 86400000000 AS day,
        |             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |           FROM events),
        |daily AS (SELECT day, CAST(sum(cents) AS BIGINT) AS y
        |          FROM e GROUP BY 1),
        |s AS (SELECT CAST(coalesce(sum(CASE WHEN b.y > a.y THEN 1
        |        WHEN b.y < a.y THEN -1 ELSE 0 END), 0) AS BIGINT)
        |        AS s_stat
        |      FROM daily a JOIN daily b ON a.day < b.day),
        |t0 AS (SELECT y, CAST(count(*) AS BIGINT) AS t
        |       FROM daily GROUP BY 1),
        |t1 AS (SELECT CAST(sum(t) AS BIGINT) AS n_days,
        |         CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tsum
        |       FROM t0),
        |x AS (SELECT n_days, s_stat,
        |        n_days * (n_days - 1) * (2 * n_days + 5) - tsum AS v18
        |      FROM s CROSS JOIN t1)
        |SELECT n_days, s_stat, v18,
        |  CASE WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE) - 1.0) /
        |    sqrt(CAST(v18 AS DOUBLE) / 18.0)
        |  WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE) + 1.0) /
        |    sqrt(CAST(v18 AS DOUBLE) / 18.0) ELSE 0.0 END AS z,
        |  CASE WHEN abs(s_stat) >= 1 THEN
        |    180000 * (abs(s_stat) - 1) * (abs(s_stat) - 1) >
        |    38416 * v18 ELSE false END AS trending,
        |  s_stat > 0 AS upward
        |FROM x""".stripMargin),

    // Theil–Sen slope estimator (round 15) — the ROBUST trend
    // magnitude beside mann_kendall's monotone verdict and
    // trend_slope's OLS fit (Theil 1950, Sen 1968): the median of all
    // pairwise slopes (y_j−y_i)/(d_j−d_i) over the ≤31-row daily
    // cent-sum frame (the holt_linear/mann_kendall frame — one
    // outlier day bends an OLS slope but moves a median of 465 pair
    // slopes by at most one rank). Exactness: each slope is a
    // sign-split HALF_UP 1e6 integer cell (cent numerator
    // DECIMAL(38,0)-routed, day-gap denominator strictly positive),
    // the median a pure rank pick over the slope frame — odd pair
    // count takes the middle rank, even count the sign-split HALF_UP
    // mean of the two middles — so the output replays bit-exact.
    // 100 TB shape: ONE map-side-combinable day agg to ≤31 rows; the
    // O(n²) pair join, the rank window and the median pick all live
    // on THAT bounded frame (≤465 rows at any SF), never on raw rows.
    Query("theil_sen", { (s, d) =>
      val daily = Tables.events(s, d)
        .select(expr(s"(ts div 1000 - $OriginUs) div ${Tables.MicrosPerDay}")
          .as("day"),
          floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
        .groupBy(col("day")).agg(sum(col("cents")).as("y"))
        .localCheckpoint(true)
      val a = daily.select(col("day").as("di"), col("y").as("yi"))
      val b = daily.select(col("day").as("dj"), col("y").as("yj"))
      val slopes = a.join(b, col("di") < col("dj"))
        .selectExpr("di", "dj",
          "CASE WHEN yj >= yi THEN " +
            "CAST((2 * 1000000 * CAST(yj - yi AS DECIMAL(38,0)) + (dj - di))" +
            " div (2 * (dj - di)) AS BIGINT) " +
            "ELSE -CAST((2 * 1000000 * CAST(yi - yj AS DECIMAL(38,0)) + (dj - di))" +
            " div (2 * (dj - di)) AS BIGINT) END AS slope_x1e6")
      val ranked = slopes.withColumn("rn", row_number()
        .over(Window.orderBy(col("slope_x1e6"), col("di"), col("dj"))))
      val n = slopes.agg(count(lit(1)).as("n_pairs"))
      ranked.crossJoin(broadcast(n))
        .filter(expr("rn = (n_pairs + 1) div 2 OR rn = (n_pairs + 2) div 2"))
        .groupBy(col("n_pairs"))
        .agg(sum(col("slope_x1e6")).as("msum"), count(lit(1)).as("n_mid"))
        .selectExpr("n_pairs",
          "CASE WHEN msum >= 0 THEN (2 * msum + n_mid) div (2 * n_mid) " +
            "ELSE -((2 * (-msum) + n_mid) div (2 * n_mid)) END" +
            " AS median_slope_x1e6")
        .selectExpr("n_pairs", "median_slope_x1e6",
          "median_slope_x1e6 > 0 AS upward")
    },
      // theil_sen: the pairwise HALF_UP slope cells, the rank window and
      // the median pick replay on the same ≤31-row daily frame; HUGEINT
      // mirrors the DECIMAL(38,0) routing, sign splits keep // ≡ div.
      """WITH e AS (SELECT (epoch_us(ts) - 1704067200000000)
        |             // 86400000000 AS day,
        |             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |           FROM events),
        |daily AS (SELECT day, CAST(sum(cents) AS BIGINT) AS y
        |          FROM e GROUP BY 1),
        |p AS (SELECT a.day AS di, b.day AS dj,
        |        CASE WHEN b.y >= a.y
        |          THEN CAST((2 * 1000000 * CAST(b.y - a.y AS HUGEINT)
        |                 + (b.day - a.day))
        |               // (2 * (b.day - a.day)) AS BIGINT)
        |          ELSE -CAST((2 * 1000000 * CAST(a.y - b.y AS HUGEINT)
        |                 + (b.day - a.day))
        |               // (2 * (b.day - a.day)) AS BIGINT)
        |        END AS slope_x1e6
        |      FROM daily a JOIN daily b ON a.day < b.day),
        |r AS (SELECT slope_x1e6,
        |        row_number() OVER (ORDER BY slope_x1e6, di, dj) AS rn
        |      FROM p),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM p),
        |m AS (SELECT n_pairs, CAST(sum(slope_x1e6) AS BIGINT) AS msum,
        |        CAST(count(*) AS BIGINT) AS n_mid
        |      FROM r CROSS JOIN n
        |      WHERE rn = (n_pairs + 1) // 2 OR rn = (n_pairs + 2) // 2
        |      GROUP BY n_pairs),
        |f AS (SELECT n_pairs,
        |        CASE WHEN msum >= 0 THEN (2 * msum + n_mid) // (2 * n_mid)
        |          ELSE -((2 * (-msum) + n_mid) // (2 * n_mid))
        |        END AS median_slope_x1e6
        |      FROM m)
        |SELECT n_pairs, median_slope_x1e6, median_slope_x1e6 > 0 AS upward
        |FROM f""".stripMargin),

    // Page–Hinkley test (round 15) — the SEQUENTIAL upward-drift
    // detector completing the changepoint family (cusum_shift =
    // fixed-reference two-sided CUSUM; Page 1954, Hinkley 1971; the
    // Gama et al. 2014 drift-survey form): over the ≤31-row daily
    // cent-sum frame, each day's deviation from the RUNNING mean —
    // dev_x1e6 = sign-split HALF_UP(1e6·(t·y_t − S_t)/t), numerator
    // DECIMAL(38,0)-routed — cumulates to m_t, and PH_t = m_t −
    // min_{i≤t} m_i peaks where an upward level shift begins. The
    // output pins (peak value, peak day, n_days) exactly; no fixed-λ
    // verdict — λ is scale-dependent and the replayed ph_x1e6 cell IS
    // the cross-engine gate. 100 TB shape: ONE map-side day agg to
    // ≤31 rows; every window (rank, running sum/min) rides THAT
    // bounded frame.
    Query("page_hinkley", { (s, d) =>
      val daily = Tables.events(s, d)
        .select(expr(s"(ts div 1000 - $OriginUs) div ${Tables.MicrosPerDay}")
          .as("day"),
          floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
        .groupBy(col("day")).agg(sum(col("cents")).as("y"))
        .localCheckpoint(true)
      val w = Window.orderBy(col("day"))
      val dev = daily
        .withColumn("t", row_number().over(w).cast("long"))
        .withColumn("s_t", sum(col("y")).over(w))
        .selectExpr("day",
          "CASE WHEN CAST(t AS DECIMAL(38,0)) * y - s_t >= 0 THEN " +
            "CAST((2 * 1000000 * (CAST(t AS DECIMAL(38,0)) * y - s_t) + t)" +
            " div (2 * t) AS BIGINT) " +
            "ELSE -CAST((2 * 1000000 * (CAST(s_t AS DECIMAL(38,0)) - " +
            "CAST(t AS DECIMAL(38,0)) * y) + t)" +
            " div (2 * t) AS BIGINT) END AS dev_x1e6")
      val ph = dev.withColumn("m_t", sum(col("dev_x1e6")).over(w))
        .withColumn("ph_t", col("m_t") - min(col("m_t")).over(w))
      val n = daily.agg(count(lit(1)).as("n_days"))
      ph.orderBy(col("ph_t").desc, col("day")).limit(1)
        .select(col("day").as("ph_day"), col("ph_t").as("ph_x1e6"))
        .crossJoin(broadcast(n))
    },
      // page_hinkley: running-mean deviations, cumulative m_t and the
      // PH peak replay on the same ≤31-row daily frame; HUGEINT mirrors
      // the DECIMAL(38,0) routing, sign splits keep // ≡ div. Both
      // engines' default cumulative window frame (RANGE UNBOUNDED
      // PRECEDING) coincide because days are distinct.
      """WITH e AS (SELECT (epoch_us(ts) - 1704067200000000)
        |             // 86400000000 AS day,
        |             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |           FROM events),
        |daily AS (SELECT day, CAST(sum(cents) AS BIGINT) AS y
        |          FROM e GROUP BY 1),
        |c AS (SELECT day, y,
        |        CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
        |        CAST(sum(y) OVER (ORDER BY day) AS BIGINT) AS s_t
        |      FROM daily),
        |dv AS (SELECT day,
        |         CASE WHEN CAST(t AS HUGEINT) * y - s_t >= 0 THEN
        |           CAST((2 * 1000000 * (CAST(t AS HUGEINT) * y - s_t) + t)
        |                // (2 * t) AS BIGINT)
        |         ELSE -CAST((2 * 1000000 * (CAST(s_t AS HUGEINT)
        |                - CAST(t AS HUGEINT) * y) + t)
        |                // (2 * t) AS BIGINT) END AS dev_x1e6
        |       FROM c),
        |mm AS (SELECT day,
        |         CAST(sum(dev_x1e6) OVER (ORDER BY day) AS BIGINT) AS m_t
        |       FROM dv),
        |ph AS (SELECT day,
        |         m_t - min(m_t) OVER (ORDER BY day) AS ph_t
        |       FROM mm),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily)
        |SELECT day AS ph_day, ph_t AS ph_x1e6, n_days
        |FROM ph CROSS JOIN n ORDER BY ph_t DESC, day LIMIT 1""".stripMargin),

    // Hour-of-day seasonal decomposition (round 14) — the classical
    // additive-seasonality extraction the time-series family lacked
    // (trend_slope = trend, autocorr = serial dependence, THIS = the
    // seasonal component; Cleveland et al.'s STL reduced to the
    // single cyclic factor a fixed-period sensor feed has): per
    // hour-of-day h, the deviation of the hour's mean centi-value
    // from the global mean. Exact integers throughout: dev_num =
    // sum_h·n_tot − sum_tot·n_h over the common denominator
    // n_h·n_tot, DECIMAL(38,0)-routed (the product is ~1e16 at sf0.1
    // and grows with corpus²), narrowed under the trend_slope
    // raise_error guard; the 1e6 cell is sign-split HALF_UP with the
    // 2e6-scaled numerator kept in decimal (2·1e6·dev_num overflows
    // int64 two orders before dev_num itself does). Plan shape: ONE
    // partial+final hash agg to ≤24 rows; the global totals
    // re-aggregate THE 24-ROW FRAME (never a second scan) and
    // broadcast back — at 100 TB this is one map-side-combined pass.
    Query("seasonal_decompose", { (s, d) =>
      def longExact(c: Column): Column =
        when(c > lit(Long.MaxValue) || c < lit(Long.MinValue),
          raise_error(concat(
            lit("graft seasonal_decompose: statistic exceeds int64: "),
            c.cast("string"))))
          .otherwise(c.cast("long"))
      val byHour = Tables.events(s, d)
        .select(
          expr(s"((ts div 1000 - $OriginUs) div 3600000000) % 24")
            .as("hour"),
          floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
        .groupBy(col("hour"))
        .agg(count(lit(1)).as("n_rows"),
          longExact(sum(col("cents").cast("decimal(38,0)")))
            .as("sum_cents"))
        // seam: the ≤24-row frame feeds BOTH the output and the totals
        // re-aggregate — without it Spark re-plans the corpus scan for
        // the totals branch (PlanSpec's one-scan guard).
        .localCheckpoint(true)
      val tot = byHour.agg(sum(col("n_rows")).as("n_tot"),
        longExact(sum(col("sum_cents").cast("decimal(38,0)")))
          .as("sum_tot"))
      byHour.crossJoin(broadcast(tot))
        .withColumn("dev_num", longExact(
          expr("CAST(sum_cents AS DECIMAL(38,0)) * n_tot" +
            " - CAST(sum_tot AS DECIMAL(38,0)) * n_rows")))
        .withColumn("den",
          expr("CAST(n_rows AS DECIMAL(38,0)) * n_tot"))
        .selectExpr("hour", "n_rows", "sum_cents", "dev_num",
          "CAST(CASE WHEN dev_num >= 0 THEN" +
            " (2 * 1000000 * CAST(dev_num AS DECIMAL(38,0)) + den)" +
            " div (2 * den)" +
            " ELSE -((2 * 1000000 * CAST(-dev_num AS DECIMAL(38,0)) + den)" +
            " div (2 * den)) END AS BIGINT) AS seasonal_x1e6")
    },
      // seasonal_decompose: dev_num and the HALF_UP cell replay in
      // HUGEINT (the decimal(38,0) mirror); the sign split keeps //
      // truncation ≡ Spark div on non-negative operands.
      """WITH e AS (SELECT ((epoch_us(ts) - 1704067200000000)
        |               // 3600000000) % 24 AS hour,
        |             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |           FROM events),
        |h AS (SELECT hour, CAST(count(*) AS BIGINT) AS n_rows,
        |             CAST(sum(cents) AS BIGINT) AS sum_cents
        |      FROM e GROUP BY 1),
        |t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS n_tot,
        |             CAST(sum(sum_cents) AS BIGINT) AS sum_tot FROM h),
        |x AS (SELECT h.hour, h.n_rows, h.sum_cents,
        |             CAST(h.sum_cents AS HUGEINT) * t.n_tot
        |               - CAST(t.sum_tot AS HUGEINT) * h.n_rows AS dev_num,
        |             CAST(h.n_rows AS HUGEINT) * t.n_tot AS den
        |      FROM h CROSS JOIN t)
        |SELECT hour, n_rows, sum_cents, CAST(dev_num AS BIGINT) AS dev_num,
        |       CAST(CASE WHEN dev_num >= 0
        |            THEN (2 * 1000000 * dev_num + den) // (2 * den)
        |            ELSE -((2 * 1000000 * (-dev_num) + den) // (2 * den))
        |            END AS BIGINT) AS seasonal_x1e6
        |FROM x""".stripMargin))
}
