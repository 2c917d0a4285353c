package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{Ingest, Merge, Retention, Windows}
import graft.plans.TopKPerKey

/** Reference-parity operators (SURVEY §2) as driver-contract queries over
  * the testdata mapping (events ↦ sensor stream; FIXTURES.md §B).
  * Each entry has DuckDB oracle SQL with identical output column names.
  */
object ParityQueries {

  import Tables.{tsUs, MicrosPerMinute, MicrosPerDay}

  private val SlideUs = 30L * Tables.MicrosPerSecond

  val all: Seq[Query] = Seq(
    // F1 — flagship; registered in SparkEntry (kept here for grouping).
    Query("tumbling_agg", { (s, d) =>
      Windows.tumblingAggUs(Tables.events(s, d), tsUs, MicrosPerMinute,
        Seq(col("user_id"), col("event_type")), col("value"))
    },
      """SELECT epoch_us(ts) - epoch_us(ts) % 60000000 AS window_start_us,
        |       user_id, event_type,
        |       round(avg(value), 4) AS avg_value,
        |       min(value) AS min_value,
        |       max(value) AS max_value,
        |       count(*) AS count_readings
        |FROM events GROUP BY 1, 2, 3""".stripMargin),

    // F2 — sliding (HOP) 1-min / 30-s: each row in exactly 2 windows.
    Query("sliding_agg", { (s, d) =>
      Windows.slidingAggUs(Tables.events(s, d), tsUs, MicrosPerMinute,
        SlideUs, Seq(col("user_id"), col("event_type")), col("value"))
    },
      """WITH e AS (SELECT epoch_us(ts) AS tus, user_id, event_type, value FROM events),
        |x AS (SELECT tus - tus % 30000000 - k * 30000000 AS window_start_us,
        |             user_id, event_type, value
        |      FROM e CROSS JOIN (SELECT unnest([0, 1]) AS k) ks)
        |SELECT window_start_us, user_id, event_type,
        |       round(avg(value), 4) AS avg_value,
        |       min(value) AS min_value,
        |       max(value) AS max_value,
        |       count(*) AS count_readings
        |FROM x GROUP BY 1, 2, 3""".stripMargin),

    // C2 — raw pass-through projection with sink renames
    // (sensor_aggregation.py:76-80).
    Query("passthrough_project", { (s, d) =>
      Tables.events(s, d).select(
        col("event_id"),
        col("user_id").as("machine_id"),
        col("event_type").as("sensor_type"),
        col("value"),
        tsUs.as("ts_us"))
    },
      """SELECT event_id, user_id AS machine_id, event_type AS sensor_type,
        |       value, epoch_us(ts) AS ts_us
        |FROM events""".stripMargin),

    // C3/C4/K1 — lake partition-key derivation (year/month/day) + per-
    // partition stats (timescale_to_deltalake.py:36).
    Query("datepart_derive", { (s, d) =>
      Ingest.withDateParts(Tables.orders(s, d), col("o_orderdate"))
        .groupBy(col("year"), col("month"), col("day"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
    },
      """SELECT year(o_orderdate) AS year, month(o_orderdate) AS month,
        |       day(o_orderdate) AS day,
        |       count(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY 1, 2, 3""".stripMargin),

    // C1/C6 — ISO-8601 'T' string round-trip: format then re-parse via
    // the reference's REPLACE expression (sensor_aggregation.py:22).
    Query("iso_roundtrip", { (s, d) =>
      val df = Tables.orders(s, d)
        .withColumn("iso_ts", date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss"))
        .select(col("o_orderkey"), col("iso_ts"))
      Ingest.withEventTime(df, col("iso_ts"))
        .withColumnRenamed("event_time", "parsed_ts")
    },
      """SELECT o_orderkey,
        |       strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') AS iso_ts,
        |       strptime(replace(strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S'), 'T', ' '),
        |                '%Y-%m-%d %H:%M:%S') AS parsed_ts
        |FROM orders""".stripMargin),

    // C7/D1-adjacent — JSON field extraction from events.props.
    Query("json_extract", { (s, d) =>
      Tables.events(s, d).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k_value"))
    },
      """SELECT event_id,
        |       CAST(regexp_extract(props, '([0-9]+)', 1) AS INTEGER) AS k_value
        |FROM events""".stripMargin),

    // E1 — dimension enrichment: fact ⋈ broadcast dims (customer →
    // nation → region plays readings → machine dim).
    Query("dim_join", { (s, d) =>
      Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          count(lit(1)).as("n_cust"),
          round(avg(col("c_acctbal")), 4).as("avg_bal"))
    },
      """SELECT r_name, n_name, count(*) AS n_cust,
        |       round(avg(c_acctbal), 4) AS avg_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2""".stripMargin),

    // K3 — retention horizon: keep last 7 days relative to max(ts),
    // bucketed per day (90-day policy semantics at test-data scale).
    Query("retention_filter", { (s, d) =>
      val e = Tables.events(s, d).select(tsUs.as("tus"))
      Retention.retain(e, col("tus"), 7L * MicrosPerDay)
        .groupBy((col("tus") - col("tus") % MicrosPerDay).as("day_start_us"))
        .agg(count(lit(1)).as("n_events"))
    },
      """WITH e AS (SELECT epoch_us(ts) AS tus FROM events),
        |c AS (SELECT max(tus) - 604800000000 AS cutoff FROM e)
        |SELECT tus - tus % 86400000000 AS day_start_us, count(*) AS n_events
        |FROM e, c WHERE tus >= cutoff GROUP BY 1""".stripMargin),

    // H — top-k latest readings (init-db.sql DESC-index access pattern
    // → TakeOrderedAndProject, no full sort).
    Query("topk_latest", { (s, d) =>
      Tables.events(s, d)
        .select(col("event_id"), tsUs.as("ts_us"), col("user_id"), col("event_type"))
        .orderBy(col("ts_us").desc, col("event_id").desc)
        .limit(100)
    },
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type
        |FROM events ORDER BY ts_us DESC, event_id DESC LIMIT 100""".stripMargin),

    // G/H — latest reading per key (the "latest per machine" pattern the
    // reference serves with DESC indexes). Implemented with max_by over
    // a (ts, id) ordering struct: a partial+final HashAggregate — O(n),
    // k rows per key cross the shuffle — instead of the window+filter
    // form's full per-partition sort. Same rows as the row_number()=1
    // formulation (oracle keeps that form).
    Query("latest_per_key", { (s, d) =>
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), tsUs.as("ts_us"),
          col("event_type"), col("value"))
        .groupBy(col("user_id"))
        .agg(max_by(
          struct(col("event_id"), col("ts_us"), col("event_type"), col("value")),
          struct(col("ts_us"), col("event_id"))).as("r"))
        .select(col("user_id"), col("r.event_id"), col("r.ts_us"),
          col("r.event_type"), col("r.value"))
    },
      """SELECT user_id, event_id, ts_us, event_type, value FROM (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events) t WHERE rn = 1""".stripMargin),

    // G/H generalization — grouped top-k (k > 1 per key) through the
    // engine's custom physical operator (plans.TopKPerKey, §4.3 tier c):
    // bounded per-key heaps map-side, so the exchange ships ≤ k rows
    // per key per partition instead of every row, and no sort is
    // planned. The ordering is total (price, orderkey, linenumber) so
    // the row_number() oracle is deterministic.
    Query("grouped_topk", { (s, d) =>
      TopKPerKey.perKey(
        Tables.lineitem(s, d)
          .select(col("l_suppkey"), col("l_orderkey"),
            col("l_linenumber"), col("l_extendedprice")),
        keys = Seq(col("l_suppkey")),
        order = Seq(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber")),
        k = 3)
    },
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice FROM (
        |  SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
        |         row_number() OVER (PARTITION BY l_suppkey
        |           ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
        |  FROM lineitem) t WHERE rn <= 3""".stripMargin),

    // I — set operations: UNION (distinct) / INTERSECT / EXCEPT.
    Query("set_ops", { (s, d) =>
      val e = Tables.events(s, d)
      val even = e.filter(col("user_id") % 2 === 0).select(col("event_type"))
      val odd  = e.filter(col("user_id") % 2 === 1).select(col("event_type"))
      val big  = e.filter(col("value") > 50).select(col("event_type"))
      val none = e.filter(col("value") > lit(1e9)).select(col("event_type"))
      even.union(big).distinct().withColumn("op", lit("union"))
        .unionByName(even.intersect(odd).withColumn("op", lit("intersect")))
        .unionByName(even.except(none).withColumn("op", lit("except")))
    },
      """SELECT event_type, 'union' AS op FROM (
        |  SELECT event_type FROM events WHERE user_id % 2 = 0
        |  UNION SELECT event_type FROM events WHERE value > 50) u
        |UNION ALL
        |SELECT event_type, 'intersect' AS op FROM (
        |  SELECT event_type FROM events WHERE user_id % 2 = 0
        |  INTERSECT SELECT event_type FROM events WHERE user_id % 2 = 1) i
        |UNION ALL
        |SELECT event_type, 'except' AS op FROM (
        |  SELECT event_type FROM events WHERE value > 0
        |  EXCEPT SELECT event_type FROM events WHERE value > 1e9) x""".stripMargin),

    // F-adjacent — distinct aggregation (absent from the reference;
    // Catalyst built-in, SURVEY §2 F note).
    Query("distinct_agg", { (s, d) =>
      Tables.events(s, d).groupBy(col("event_type"))
        .agg(
          countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))
    },
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
        |       count(*) AS n_events
        |FROM events GROUP BY 1""".stripMargin),

    // F-adjacent — sketch aggregation (HyperLogLog++): approximate
    // distinct counts, the 100 TB answer when exact distinct's shuffle
    // is unaffordable. Raw HLL estimates can't cross-engine-oracle
    // (implementations differ), so the query emits the exact counts
    // plus ERROR-BOUND BOOLEANS the DuckDB oracle asserts as literal
    // TRUE — the driver's hash gate then genuinely verifies the sketch
    // landed within 5% (~5σ at rsd 0.01; the estimate is
    // deterministic: HLL registers are max-merged, so partition layout
    // cannot change it). The exact branch exists to GATE the sketch —
    // at 100 TB only the sketch path ships (see hll_daily_union for
    // the re-aggregatable rollup form).
    Query("approx_distinct", { (s, d) =>
      def ok(approx: Column, exact: Column): Column =
        abs(approx - exact) <= greatest(ceil(exact * lit(0.05)), lit(5L))
      Tables.events(s, d).groupBy(col("event_type"))
        .agg(
          approx_count_distinct(col("user_id"), 0.01).as("au"),
          countDistinct(col("user_id")).as("n_users"),
          approx_count_distinct(col("props"), 0.01).as("ap"),
          countDistinct(col("props")).as("n_props"))
        .select(col("event_type"), col("n_users"), col("n_props"),
          ok(col("au"), col("n_users")).as("users_est_ok"),
          ok(col("ap"), col("n_props")).as("props_est_ok"))
    },
      // The exact counts replay relationally; the *_est_ok booleans are
      // asserted literal TRUE — a Spark-side sketch outside its 5% bound
      // flips the cell and fails the driver's hash gate.
      """SELECT event_type,
        |       count(DISTINCT user_id) AS n_users,
        |       count(DISTINCT props) AS n_props,
        |       TRUE AS users_est_ok, TRUE AS props_est_ok
        |FROM events GROUP BY 1""".stripMargin),

    // F-adjacent — hierarchical subtotals via ROLLUP (SURVEY §2 F note:
    // one-liner in Catalyst, no custom agg needed).
    Query("rollup_agg", { (s, d) =>
      Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"),
          sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("sum_bal"))
    },
      """SELECT r_name, n_name, count(*) AS n_cust,
        |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)""".stripMargin),

    // F-adjacent — exact quantiles (linear interpolation, same
    // definition both engines).
    Query("quantiles", { (s, d) =>
      Tables.events(s, d).groupBy(col("event_type"))
        .agg(
          round(expr("percentile(value, 0.25)"), 4).as("p25"),
          round(expr("percentile(value, 0.5)"), 4).as("p50"),
          round(expr("percentile(value, 0.9)"), 4).as("p90"))
    },
      """SELECT event_type,
        |       round(quantile_cont(value, 0.25), 4) AS p25,
        |       round(quantile_cont(value, 0.5), 4) AS p50,
        |       round(quantile_cont(value, 0.9), 4) AS p90
        |FROM events GROUP BY 1""".stripMargin),

    // G — analytic frames: running sum + lag over per-user event order.
    Query("window_running", { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), tsUs.as("ts_us"), col("value"))
        .withColumn("running_sum",
          round(sum(col("value")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 4))
        .withColumn("prev_value", lag(col("value"), 1).over(w))
    },
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
        |       round(sum(value) OVER (PARTITION BY user_id
        |         ORDER BY epoch_us(ts), event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_sum,
        |       lag(value, 1) OVER (PARTITION BY user_id
        |         ORDER BY epoch_us(ts), event_id) AS prev_value
        |FROM events""".stripMargin),

    // SQL surface — the F1 aggregation expressed as spark.sql text over
    // registered views (the reference's own interface is SQL; proves the
    // engine is reachable through both APIs — same Catalyst plan).
    Query("sql_tumbling_agg", { (s, d) =>
      graft.Sql.sql(s, d,
        """SELECT (ts div 1000) - (ts div 1000) % 60000000 AS window_start_us,
          |       user_id, event_type,
          |       round(avg(value), 4) AS avg_value,
          |       min(value) AS min_value,
          |       max(value) AS max_value,
          |       count(*) AS count_readings
          |FROM events
          |GROUP BY 1, 2, 3""".stripMargin)
    },
      """SELECT epoch_us(ts) - epoch_us(ts) % 60000000 AS window_start_us,
        |       user_id, event_type,
        |       round(avg(value), 4) AS avg_value,
        |       min(value) AS min_value,
        |       max(value) AS max_value,
        |       count(*) AS count_readings
        |FROM events GROUP BY 1, 2, 3""".stripMargin),

    // E-adjacent — as-of (point-in-time) join, composed from built-ins
    // (ops.AsOf): each purchase gets the latest click at-or-before it
    // per user. Oracle: DuckDB's native ASOF LEFT JOIN.
    Query("asof_join", { (s, d) =>
      val ev = Tables.events(s, d).select(col("user_id"), col("event_id"),
        tsUs.as("ts_us"), col("value"), col("event_type"))
      val purchases = ev.filter(col("event_type") === "purchase").drop("event_type")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_us").as("c_ts"), col("value").as("c_value"))
      graft.ops.AsOf.asofJoin(purchases, clicks, "user_id", "ts_us", "c_ts", "c_value")
        .select(col("user_id"), col("event_id"), col("ts_us"), col("value"),
          col("asof_ts"), round(col("asof_value"), 4).as("asof_value"))
    },
      """WITH p AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, value
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, epoch_us(ts) AS c_ts, value AS c_value
        |      FROM events WHERE event_type = 'click')
        |SELECT p.user_id, p.event_id, p.ts_us, p.value,
        |       c.c_ts AS asof_ts, round(c.c_value, 4) AS asof_value
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.ts_us >= c.c_ts""".stripMargin),

    // E-adjacent — bounded time-range join via bucketed equi-join
    // (ops.RangeJoin): click→purchase pairs within 6 h per user.
    Query("range_join", { (s, d) =>
      val ev = Tables.events(s, d).select(col("user_id"), col("event_id"),
        tsUs.as("ts_us"), col("event_type"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("l_id"), col("ts_us").as("l_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("r_id"), col("ts_us").as("r_ts"))
      graft.ops.RangeJoin.within(purchases, clicks, "user_id", "l_ts", "r_ts",
        gapUs = 6L * 3600L * 1000000L)
        .select(col("user_id"), col("l_id"), col("r_id"), col("gap_us"))
    },
      """WITH p AS (SELECT user_id, event_id AS l_id, epoch_us(ts) AS l_ts
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, event_id AS r_id, epoch_us(ts) AS r_ts
        |      FROM events WHERE event_type = 'click')
        |SELECT p.user_id, p.l_id, c.r_id, p.l_ts - c.r_ts AS gap_us
        |FROM p, c
        |WHERE p.user_id = c.user_id
        |  AND c.r_ts <= p.l_ts AND c.r_ts > p.l_ts - 21600000000""".stripMargin),

    // E-adjacent — semi/anti joins (EXISTS / NOT EXISTS shapes).
    Query("semi_anti_join", { (s, d) =>
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d).select(col("o_custkey"))
      val withOrders = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      val withoutOrders = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      withOrders.agg(count(lit(1)).as("n")).withColumn("grp", lit("with_orders"))
        .unionByName(
          withoutOrders.agg(count(lit(1)).as("n")).withColumn("grp", lit("without_orders")))
    },
      """SELECT count(*) AS n, 'with_orders' AS grp FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT count(*) AS n, 'without_orders' AS grp FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin),

    // J-adjacent — batch analog of Stateful.anomalyRuns (gaps-and-
    // islands): runs of ≥3 consecutive out-of-[0.5,50] readings per
    // (user_id, event_type), ordered by (ts, event_id). Gives the
    // custom-state edge a hard correctness row, not just a spec.
    Query("anomaly_runs", { (s, d) =>
      graft.ops.Runs.anomalyRuns(
        Tables.events(s, d),
        keys = Seq(col("user_id"), col("event_type")),
        ts = tsUs, tie = col("event_id"), value = col("value"),
        lo = 0.5, hi = 50.0, minRun = 3)
    },
      """WITH f AS (SELECT user_id, event_type, epoch_us(ts) AS tus, event_id,
        |                  (value < 0.5 OR value > 50.0) AS flag
        |           FROM events),
        |g AS (SELECT *,
        |        row_number() OVER (PARTITION BY user_id, event_type ORDER BY tus, event_id)
        |      - row_number() OVER (PARTITION BY user_id, event_type, flag ORDER BY tus, event_id) AS island
        |      FROM f)
        |SELECT user_id, event_type, count(*) AS run_length,
        |       min(tus) AS start_us, max(tus) AS end_us
        |FROM g WHERE flag
        |GROUP BY user_id, event_type, island
        |HAVING count(*) >= 3""".stripMargin),

    // Batch sessionization (round 5) — activity sessions per user with
    // a 12 h inactivity gap (events average ~1 per user per 11 h, so
    // 12 h yields multi-event sessions). Single-sort gaps-and-islands;
    // the streaming complement is session_window (J8).
    Query("sessionize", { (s, d) =>
      graft.ops.Sessionize.sessionize(
        Tables.events(s, d),
        keys = Seq(col("user_id")),
        ts = tsUs, tie = col("event_id"),
        gapUs = 12L * 3600L * Tables.MicrosPerSecond)
    },
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_id FROM events),
        |b AS (SELECT user_id, tus, event_id,
        |        CASE WHEN lag(tus) OVER w IS NULL
        |               OR tus - lag(tus) OVER w > 43200000000 THEN 1 ELSE 0 END AS boundary
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |s AS (SELECT user_id, tus,
        |        SUM(boundary) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |                            ROWS UNBOUNDED PRECEDING) AS session
        |      FROM b)
        |SELECT user_id,
        |       min(tus) AS session_start_us,
        |       max(tus) AS session_end_us,
        |       count(*) AS n_events,
        |       max(tus) - min(tus) AS duration_us
        |FROM s GROUP BY user_id, session""".stripMargin),

    // Session PATH mining (round 6) — the top behavioral sequences
    // ("view>click>purchase") across all sessions: sessionPaths'
    // deterministic ordered concatenation, then a path histogram +
    // top-20 (TakeOrderedAndProject; ties break on the path string).
    Query("session_paths", { (s, d) =>
      graft.ops.Sessionize.sessionPaths(
        Tables.events(s, d),
        keys = Seq(col("user_id")),
        ts = tsUs, tie = col("event_id"), typ = col("event_type"),
        gapUs = 12L * 3600L * Tables.MicrosPerSecond)
        .groupBy(col("path"))
        .agg(count(lit(1)).as("n_sessions"))
        .orderBy(col("n_sessions").desc, col("path"))
        .limit(20)
    },
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_id, event_type
        |           FROM events),
        |b AS (SELECT *, CASE WHEN lag(tus) OVER w IS NULL
        |               OR tus - lag(tus) OVER w > 43200000000 THEN 1 ELSE 0 END AS boundary
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |s AS (SELECT *, SUM(boundary) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |                  ROWS UNBOUNDED PRECEDING) AS session
        |      FROM b),
        |p AS (SELECT user_id, session,
        |        string_agg(event_type, '>' ORDER BY tus, event_id) AS path
        |      FROM s GROUP BY 1, 2)
        |SELECT path, count(*) AS n_sessions
        |FROM p GROUP BY 1
        |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin),

    // Market-basket co-occurrence (round 6) — which event types the
    // same users engage in: distinct (user, type) collapse (the only
    // full-input pass), then a per-user self-join bounded by the item
    // domain (5 types ⇒ ≤10 pairs/user; large-domain baskets cap
    // per-user items first — the standard support-mining mitigation).
    // Both join sides share the distinct's user_id partitioning, so
    // Catalyst reuses the exchange: one shuffle total. Counts only —
    // no ratio column, nothing float.
    Query("event_pairs", { (s, d) =>
      val ut = Tables.events(s, d)
        .select(col("user_id"), col("event_type")).distinct()
      val a = ut.select(col("user_id"), col("event_type").as("type_a"))
      val b = ut.select(col("user_id"), col("event_type").as("type_b"))
      a.join(b, Seq("user_id")).filter(col("type_a") < col("type_b"))
        .groupBy(col("type_a"), col("type_b"))
        .agg(count(lit(1)).as("n_users_both"))
    },
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        |       count(*) AS n_users_both
        |FROM ut a JOIN ut b
        |  ON a.user_id = b.user_id AND a.event_type < b.event_type
        |GROUP BY 1, 2""".stripMargin),

    // SCD2 interval construction (round 5) — the CDC/lake-history half
    // of the reference's snapshot extract: each customer's order stream
    // becomes versioned validity ranges; `WHERE is_current` is the
    // latest snapshot (latest_per_key is its max_by fast path).
    Query("scd2_intervals", { (s, d) =>
      graft.ops.Scd2.intervals(
        Tables.orders(s, d),
        key = Seq(col("o_custkey")),
        // NTZ parquet timestamp → LTZ is identity wall-clock in this
        // engine's forced-UTC sessions, matching DuckDB's epoch_us.
        ts = unix_micros(col("o_orderdate").cast("timestamp")),
        tie = col("o_orderkey"),
        attrs = Seq(col("o_totalprice"), col("o_orderstatus")))
        .withColumnRenamed("tie", "o_orderkey")
    },
      """SELECT o_custkey,
        |       epoch_us(o_orderdate) AS valid_from_us,
        |       o_orderkey, o_totalprice, o_orderstatus,
        |       lead(epoch_us(o_orderdate)) OVER w AS valid_to_us,
        |       (lead(epoch_us(o_orderdate)) OVER w IS NULL) AS is_current
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY epoch_us(o_orderdate), o_orderkey)""".stripMargin),

    // CUBE aggregation (round 5) — all 4 grouping combinations of
    // (region, nation) in one logical aggregate next to rollup_agg's
    // hierarchy. Spark plans Expand (4 output rows per input) + one
    // hash aggregate: the multiplier rides the already-tiny
    // post-broadcast-join rows, never the fact scan. Decimal-exact sum,
    // same as rollup.
    Query("cube_agg", { (s, d) =>
      Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .cube(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"),
          sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("sum_bal"))
    },
      // avg_value replicates Stats.avg4's EXACT decimal HALF_UP rounding
      // with integer math: values are 2 dp, so sum*10^4 is the integer
      // a = cents*100 and HALF_UP(a/n) = (2a + n) // (2n).
      """SELECT r_name, n_name, count(*) AS n_cust,
        |       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY CUBE (r_name, n_name)""".stripMargin),

    // Ranking-function suite (round 5) — rank/dense_rank/percent_rank/
    // cume_dist over a TIES-bearing ordering (value bucketed to force
    // ties: tied rows share each rank-family value, so the output is
    // deterministic without a total order), plus ntile(4) over its own
    // TOTAL ordering (ntile splits ties arbitrarily, so it gets the
    // event_id tiebreak). Both window specs share the user_id
    // partitioning: ONE exchange, two sorts. Per-user partitions are
    // user-cardinality wide — the scalable window axis (a global rank
    // at 100 TB would instead use range-partitioned sort + offset
    // merge).
    Query("rank_suite", { (s, d) =>
      val bucket = floor(col("value") / 10.0).cast("long")
      val wTies = Window.partitionBy(col("user_id")).orderBy(col("bucket").desc)
      val wTotal = Window.partitionBy(col("user_id"))
        .orderBy(col("bucket").desc, col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), bucket.as("bucket"))
        .withColumn("rnk", rank().over(wTies))
        .withColumn("drnk", dense_rank().over(wTies))
        .withColumn("prank", round(percent_rank().over(wTies), 6))
        .withColumn("cdist", round(cume_dist().over(wTies), 6))
        .withColumn("quartile", ntile(4).over(wTotal))
    },
      """SELECT user_id, event_id,
        |       CAST(floor(value / 10.0) AS BIGINT) AS bucket,
        |       rank()       OVER wt AS rnk,
        |       dense_rank() OVER wt AS drnk,
        |       round(percent_rank() OVER wt, 6) AS prank,
        |       round(cume_dist()    OVER wt, 6) AS cdist,
        |       ntile(4) OVER (PARTITION BY user_id
        |                      ORDER BY CAST(floor(value / 10.0) AS BIGINT) DESC,
        |                               event_id) AS quartile
        |FROM events
        |WINDOW wt AS (PARTITION BY user_id
        |              ORDER BY CAST(floor(value / 10.0) AS BIGINT) DESC)""".stripMargin),

    // Time-range moving aggregate (round 5) — trailing 30 s average per
    // key via a RANGE frame (physical-time window, unlike
    // window_running's ROWS frame): one exchange + one sort per key.
    // The count anchor is exact integer math; the average is rounded so
    // summation-order drift can't flip the hash gate.
    Query("range_avg", { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
        .rangeBetween(-30L * Tables.MicrosPerSecond, 0L)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), tsUs.as("ts_us"), col("value"))
        .withColumn("n_trailing", count(lit(1)).over(w))
        .withColumn("avg_trailing", round(avg(col("value")).over(w), 4))
    },
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
        |       CAST(count(*) OVER w AS BIGINT) AS n_trailing,
        |       round(avg(value) OVER w, 4) AS avg_trailing
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |             RANGE BETWEEN 30000000 PRECEDING AND CURRENT ROW)""".stripMargin),

    // CDC merge (round 5) — apply a keyed insert/update/delete changeset
    // to a snapshot (ops.Merge: the incremental MERGE INTO analog of the
    // reference's nightly full overwrite). The changeset is synthesized
    // deterministically from the snapshot's own keys (key mod 10 routes
    // each row to D / U / pass-through, +1e9-offset inserts) so the gate
    // exercises all three ops on pure read-only inputs. Broadcast
    // changes; the snapshot never shuffles.
    Query("cdc_merge", { (s, d) =>
      val base = Tables.customer(s, d)
      val m = pmod(col("c_custkey"), lit(10L))
      val snap = base.select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val dels = base.filter(m === 0)
        .select(col("c_custkey"), lit("D").as("op"), col("c_name"), col("c_acctbal"))
      val upds = base.filter(m.isin(1L, 2L, 3L))
        .select(col("c_custkey"), lit("U").as("op"), col("c_name"),
          (col("c_acctbal") + lit(100.0)).as("c_acctbal"))
      val ins = base.filter(m === 4)
        .select((col("c_custkey") + lit(1000000000L)).as("c_custkey"),
          lit("I").as("op"), concat(lit("NEW-"), col("c_name")).as("c_name"),
          col("c_acctbal"))
      Merge(snap, dels.unionByName(upds).unionByName(ins),
        "c_custkey", Seq("c_name", "c_acctbal"))
    },
      """WITH ch AS (
        |  SELECT c_custkey, 'D' AS op, c_name, c_acctbal
        |  FROM customer WHERE c_custkey % 10 = 0
        |  UNION ALL
        |  SELECT c_custkey, 'U', c_name, c_acctbal + 100.0
        |  FROM customer WHERE c_custkey % 10 IN (1, 2, 3)
        |  UNION ALL
        |  SELECT c_custkey + 1000000000, 'I', 'NEW-' || c_name, c_acctbal
        |  FROM customer WHERE c_custkey % 10 = 4),
        |m AS (
        |  SELECT s.c_custkey,
        |         CASE WHEN ch.op = 'U' THEN ch.c_name ELSE s.c_name END AS c_name,
        |         CASE WHEN ch.op = 'U' THEN ch.c_acctbal ELSE s.c_acctbal END AS c_acctbal,
        |         CASE WHEN ch.op = 'U' THEN 'updated' ELSE 'kept' END AS row_status
        |  FROM customer s LEFT JOIN ch ON ch.c_custkey = s.c_custkey
        |  WHERE ch.op IS NULL OR ch.op <> 'D')
        |SELECT c_custkey, c_name, c_acctbal, row_status FROM m
        |UNION ALL
        |SELECT c_custkey, c_name, c_acctbal, 'inserted' AS row_status
        |FROM ch WHERE op = 'I'""".stripMargin),

    // Value histogram (round 5) — fixed-width binning for data
    // profiling / outlier triage: floor(value/width) is exact IEEE math
    // in any engine, one partial+final HashAggregate, no shuffle of raw
    // rows beyond the bin-keyed exchange.
    Query("value_histogram", { (s, d) =>
      Tables.events(s, d)
        .groupBy(floor(col("value") / 5.0).cast("long").as("bin"))
        .agg(count(lit(1)).as("n"),
          round(min(col("value")), 4).as("min_v"),
          round(max(col("value")), 4).as("max_v"))
    },
      """SELECT CAST(floor(value / 5.0) AS BIGINT) AS bin,
        |       count(*) AS n,
        |       round(min(value), 4) AS min_v,
        |       round(max(value), 4) AS max_v
        |FROM events GROUP BY 1""".stripMargin),

    // Pivot (wide-table reshape, round 5) — groupBy().pivot() with
    // EXPLICIT pivot values: without them Spark schedules a separate
    // distinct job just to discover the columns; with them the whole
    // reshape is ONE partial+final HashAggregate of pivot-aggregates —
    // map-side combined, single pass at any scale. Absent combinations
    // surface as null from the pivot and are coalesced to 0 so the
    // contract matches the sum(CASE) formulation exactly.
    Query("pivot_events", { (s, d) =>
      val types = Seq("click", "error", "purchase", "signup", "view")
      val p = Tables.events(s, d)
        .groupBy(col("user_id"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
      val counts = types.map(t => coalesce(col(t), lit(0L)).as(s"n_$t"))
      val total = types.map(t => coalesce(col(t), lit(0L))).reduce(_ + _)
      p.select(col("user_id") +: counts :+ total.as("n_total"): _*)
    },
      """SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        |  CAST(sum(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
        |  CAST(sum(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
        |  CAST(sum(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END)
        |     + sum(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END)
        |     + sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |     + sum(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END)
        |     + sum(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS n_total
        |FROM events GROUP BY user_id""".stripMargin),

    // Unpivot / melt (round 8) — the inverse reshape of pivot_events:
    // the per-user wide counts fold back to (user_id, metric, n) long
    // form via Dataset.unpivot. Plan shape: unpivot is a map-side
    // Expand (rows × #value-columns, no shuffle beyond the pivot's own
    // aggregate), so the whole round-trip is still the single pivot
    // exchange. All value columns are non-null 0L-coalesced longs, so
    // Spark's null-keeping melt and DuckDB's UNPIVOT (which drops
    // NULL cells) agree row-for-row.
    Query("unpivot_metrics", { (s, d) =>
      val types = Seq("click", "error", "purchase", "signup", "view")
      val p = Tables.events(s, d)
        .groupBy(col("user_id"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .select(col("user_id") +:
          types.map(t => coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
      p.unpivot(
        ids = Array(col("user_id")),
        values = types.map(t => col(s"n_$t")).toArray,
        variableColumnName = "metric",
        valueColumnName = "n")
    },
      """WITH p AS (SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        |  CAST(sum(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
        |  CAST(sum(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS n_view
        |  FROM events GROUP BY user_id)
        |SELECT user_id, metric, n
        |FROM p UNPIVOT (n FOR metric IN
        |  (n_click, n_error, n_purchase, n_signup, n_view))""".stripMargin),

    // M — the typed Aggregator surface (Dataset[SensorReading] →
    // SensorStats) as a first-class query: one-pass algebraic
    // avg/min/max/count per (machine, sensor) through the typed API.
    Query("sensor_stats", { (s, d) =>
      import s.implicits._
      val readings = Tables.events(s, d).select(
        date_format(timestamp_micros(tsUs), "yyyy-MM-dd'T'HH:mm:ss").as("timestamp"),
        col("user_id").cast("string").as("machine_id"),
        col("event_type").as("sensor_type"),
        col("value"))
        .as[graft.model.SensorReading]
      readings.groupByKey(r => (r.machine_id, r.sensor_type))
        .agg(graft.ops.TypedAggs.sensorStats)
        .map { case ((m, st), stats) =>
          (m, st, stats.avg4, stats.min, stats.max, stats.count)
        }
        .toDF("machine_id", "sensor_type", "avg_value",
          "min_value", "max_value", "count_readings")
    },
      """WITH s AS (
        |  SELECT CAST(user_id AS VARCHAR) AS machine_id,
        |         event_type AS sensor_type,
        |         CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents,
        |         min(value) AS min_value,
        |         max(value) AS max_value,
        |         count(*) AS count_readings
        |  FROM events GROUP BY 1, 2)
        |SELECT machine_id, sensor_type,
        |       CAST((2 * cents * 100 + count_readings) // (2 * count_readings) AS DOUBLE)
        |         / 10000.0 AS avg_value,
        |       min_value, max_value, count_readings
        |FROM s""".stripMargin))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Query.builds(all)
  val oracleSql: Map[String, String] = Query.oracles(all)
}
