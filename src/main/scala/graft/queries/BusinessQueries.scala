package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{Funnel, Hierarchy, Incremental}

/** Business-analytics queries over the TPC-H and `events` tables:
  * funnels, cohorts, market share, baskets, attribution, materialized
  * views and grouping sets.
  */
object BusinessQueries {

  import QueryCommon._

  private val WeekUs = 7L * Tables.MicrosPerDay

  /** assoc_rules basket-size cap: pair generation is O(size²) per
    * basket, so oversized baskets are excluded before the explode —
    * the MaxSemCluster / MaxBandBucket guard, mirrored in the oracle. */
  val MaxBasketItems = 32

  /** rich_customers runs the SAME SQL text in Spark and DuckDB — one
    * definition, two engines. Averages are decimal-sum/count (a plain
    * avg(double) is partition-order dependent in its last ulp, which
    * both the filter boundary and the rounded output would inherit). */
  private val LateralTopkSql =
    """SELECT n.n_name, t.c_custkey, t.c_acctbal
      |FROM nation n,
      |LATERAL (SELECT c_custkey, c_acctbal FROM customer c
      |         WHERE c.c_nationkey = n.n_nationkey
      |         ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t""".stripMargin

  private val RichCustomersSql =
    """SELECT c_custkey, c_acctbal,
      |  round((SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*)
      |         FROM customer c2
      |         WHERE c2.c_nationkey = customer.c_nationkey), 4) AS nation_avg,
      |  round((SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*)
      |         FROM customer), 4) AS global_avg
      |FROM customer
      |WHERE c_acctbal > 1.5 * (SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*)
      |                         FROM customer c2
      |                         WHERE c2.c_nationkey = customer.c_nationkey)""".stripMargin

  val all: Seq[Query] = Seq(
    // Market-basket association rules (round 8) — pairwise
    // co-occurrence over (order = basket, part = item) with support ≥
    // 2 and exact-integer confidence/lift at 1e6 scale (truncating
    // `div` ≡ DuckDB `//` on non-negative operands, the link_rank
    // convention — no float division to tie-break). Pair generation is
    // quadratic in basket size, so baskets above MaxBasketItems are
    // excluded UP FRONT (mirrored in the oracle — the MaxSemCluster /
    // MaxBandBucket pattern; TPC-H baskets top out at ~13 distinct
    // items, so the cap is a no-op guard at any SF of this schema).
    // Plan shape: ONE groupBy(basket) exchange builds the sorted item
    // arrays; pairs then explode MAP-SIDE from each array (the
    // textbook self-join shuffles the item table twice and re-shuffles
    // the join output); the basket frame is localCheckpoint-ed once
    // for its three consumers (pairs, item supports, basket count).
    Query("assoc_rules", { (s, d) =>
      val items = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("basket"), col("l_partkey").as("item"))
        .distinct()
      val baskets = items.groupBy(col("basket"))
        .agg(sort_array(collect_set(col("item"))).as("its"))
        .filter(size(col("its")).between(2, MaxBasketItems))
        .localCheckpoint(true)
      val ic = baskets.select(explode(col("its")).as("item"))
        .groupBy(col("item")).agg(count(lit(1)).as("n_i"))
      val nb = baskets.agg(count(lit(1)).as("n_baskets"))
      val pairs = baskets
        .select(col("its"), posexplode(col("its")).as(Seq("i", "part_a")))
        .select(col("part_a"),
          explode(slice(col("its"), col("i") + lit(2), size(col("its"))))
            .as("part_b"))
        .groupBy(col("part_a"), col("part_b"))
        .agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 2)
      pairs
        .join(ic.select(col("item").as("part_a"), col("n_i").as("n_a")),
          "part_a")
        .join(ic.select(col("item").as("part_b"), col("n_i").as("n_b")),
          "part_b")
        .crossJoin(broadcast(nb))
        .select(col("part_a"), col("part_b"), col("n_ab"),
          col("n_a"), col("n_b"),
          expr("(n_ab * 1000000) div n_a").as("conf_x1e6"),
          expr("(n_ab * n_baskets * 1000000) div (n_a * n_b)")
            .as("lift_x1e6"))
    },
      s"""WITH items AS (SELECT DISTINCT l_orderkey AS basket,
         |                 l_partkey AS item FROM lineitem),
         |sz AS (SELECT basket, count(*) AS bs FROM items GROUP BY 1),
         |ok AS (SELECT i.basket, i.item FROM items i JOIN sz USING (basket)
         |       WHERE bs BETWEEN 2 AND $MaxBasketItems),
         |pairs AS (SELECT a.item AS part_a, b.item AS part_b,
         |            CAST(count(*) AS BIGINT) AS n_ab
         |          FROM ok a JOIN ok b
         |            ON a.basket = b.basket AND a.item < b.item
         |          GROUP BY 1, 2 HAVING count(*) >= 2),
         |ic AS (SELECT item, CAST(count(*) AS BIGINT) AS n_i
         |       FROM ok GROUP BY 1),
         |nb AS (SELECT CAST(count(*) AS BIGINT) AS n FROM sz
         |       WHERE bs BETWEEN 2 AND $MaxBasketItems)
         |SELECT part_a, part_b, n_ab, ia.n_i AS n_a, ib.n_i AS n_b,
         |       (n_ab * 1000000) // ia.n_i AS conf_x1e6,
         |       (n_ab * nb.n * 1000000) // (ia.n_i * ib.n_i) AS lift_x1e6
         |FROM pairs
         |JOIN ic ia ON ia.item = pairs.part_a
         |JOIN ic ib ON ib.item = pairs.part_b
         |CROSS JOIN nb""".stripMargin),

    // First-touch funnel: of all users, how many ever signed up; of
    // those, how many first-clicked after first-signup; of those, how
    // many first-purchased after first-click. Conditional mins make it
    // ONE pass + one tiny rollup — no per-stage self-joins (the naive
    // funnel is K joins over the event log; at 100 TB that's K
    // shuffles of the full stream).
    Query("funnel_stages", { (s, d) =>
      val per = Tables.events(s, d)
        .select(col("user_id"), Tables.tsUs.as("tus"), col("event_type"))
        .groupBy(col("user_id"))
        .agg(
          min(when(col("event_type") === "signup", col("tus"))).as("s"),
          min(when(col("event_type") === "click", col("tus"))).as("c"),
          min(when(col("event_type") === "purchase", col("tus"))).as("p"))
      per.agg(
        count(lit(1)).as("n_users"),
        count(col("s")).as("n_signup"),
        sum(when(col("s") < col("c"), 1L).otherwise(0L)).as("n_click_after"),
        sum(when(col("s") < col("c") && col("c") < col("p"), 1L).otherwise(0L))
          .as("n_purchase_after"))
    },
      """WITH per AS (
        |  SELECT user_id,
        |         min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS s,
        |         min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS c,
        |         min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS p
        |  FROM events GROUP BY 1)
        |SELECT count(*) AS n_users,
        |       count(s) AS n_signup,
        |       CAST(sum(CASE WHEN s < c THEN 1 ELSE 0 END) AS BIGINT) AS n_click_after,
        |       CAST(sum(CASE WHEN s < c AND c < p THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase_after
        |FROM per""".stripMargin),

    // Weekly cohort retention: users bucketed by first-active week,
    // counted per subsequent active week. distinct(user, week) is one
    // exchange; the cohort-min window rides the SAME user partitioning
    // on the collapsed frame (users × weeks, not events); the final
    // rollup is tiny.
    Query("cohort_retention", { (s, d) =>
      val week = expr(s"(ts div 1000 - $OriginUs) div $WeekUs")
      val uw = Tables.events(s, d)
        .select(col("user_id"), week.as("week"))
        .distinct()
      uw.withColumn("cohort_week",
          min(col("week")).over(Window.partitionBy(col("user_id"))))
        .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
        .agg(count(lit(1)).as("n_users"))
    },
      """WITH uw AS (SELECT DISTINCT user_id,
        |              (epoch_us(ts) - 1704067200000000) // 604800000000 AS week
        |            FROM events),
        |c AS (SELECT user_id, week,
        |             min(week) OVER (PARTITION BY user_id) AS cohort_week
        |      FROM uw)
        |SELECT cohort_week, week - cohort_week AS week_offset,
        |       count(*) AS n_users
        |FROM c GROUP BY 1, 2""".stripMargin),

    // TPC-H Q8 shape — national market share: NATION_7 suppliers' slice
    // of ASIA customers' revenue per order year. The deepest join tree
    // in the registry (6 tables): nation/region/supplier broadcast,
    // customer⋈orders⋈lineitem shuffle on their keys; the CASE rides
    // the partial aggregate so lineitem is scanned once.
    Query("market_share", { (s, d) =>
      val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      val custAsia = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"))
      val supNation = Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
        .join(broadcast(Tables.nation(s, d).select(
          col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("sn_key"))
        .select(col("s_suppkey"), col("supp_nation"))
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), year(col("o_orderdate")).as("o_year"))
        .join(custAsia, col("o_custkey") === col("c_custkey"))
        .join(Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_suppkey"), rev.as("rev")),
          col("o_orderkey") === col("l_orderkey"))
        .join(supNation, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("o_year"))
        .agg(
          dsum(when(col("supp_nation") === "NATION_7", col("rev")).otherwise(lit(0.0)), 4)
            .as("nation_rev"),
          dsum(col("rev"), 4).as("total_rev"))
        .withColumn("mkt_share", round(col("nation_rev") / col("total_rev"), 6))
    },
      """WITH l AS (
        |  SELECT year(o_orderdate) AS o_year,
        |         l_extendedprice * (1 - l_discount) AS rev,
        |         n2.n_name AS supp_nation
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |  JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n2 ON s_nationkey = n2.n_nationkey)
        |SELECT o_year,
        |  CAST(SUM(CAST(CASE WHEN supp_nation = 'NATION_7' THEN rev ELSE 0.0 END
        |       AS DECIMAL(18,4))) AS DOUBLE) AS nation_rev,
        |  CAST(SUM(CAST(rev AS DECIMAL(18,4))) AS DOUBLE) AS total_rev,
        |  round(CAST(SUM(CAST(CASE WHEN supp_nation = 'NATION_7' THEN rev ELSE 0.0 END
        |       AS DECIMAL(18,4))) AS DOUBLE)
        |      / CAST(SUM(CAST(rev AS DECIMAL(18,4))) AS DOUBLE), 6) AS mkt_share
        |FROM l GROUP BY 1""".stripMargin),

    // Bot detection by timing regularity (round 12) — the behavioral
    // abuse signal (Tan & Kumar 2002 robot-session detection; every
    // anti-fraud stack's first heuristic): human inter-event gaps are
    // bursty, scripted clients fire on a timer, so a LOW coefficient
    // of variation over a user's gap stream flags automation. Exact
    // integers with denominators cleared: CV² < 0.05 ⇔ 20·(m·Q − S²)
    // < S² over micros gaps (Q = Σg² routed DECIMAL(38,0)/HUGEINT —
    // a single day-long gap squared crosses 2⁶³). Three planted bot
    // users fire at exactly 60 s × 50 events (CV² = 0, the flag's
    // floor) — real users' bursty gaps stay unflagged, so the output
    // IS the planted set unless the corpus genuinely contains a
    // metronome. 100 TB shape: one per-user ordered window pass
    // (natural user partitioning), then a per-user 3-number agg —
    // the sessionize envelope, no event self-joins.
    Query("session_bot_detect", { (s, d) =>
      val base = Tables.events(s, d)
        .select(col("user_id"), expr("ts div 1000").as("tus"),
          col("event_id"))
      val plants = s.range(3)
        .select((col("id") + 9000001L).as("user_id"),
          explode(sequence(lit(0L), lit(49L))).as("i"))
        .select(col("user_id"),
          (lit(1704067200000000L) + col("i") * 60000000L).as("tus"),
          (col("user_id") * 1000 + col("i")).as("event_id"))
      val wg = Window.partitionBy(col("user_id"))
        .orderBy(col("tus"), col("event_id"))
      val stats = base.unionByName(plants)
        .withColumn("ptus", lag(col("tus"), 1).over(wg))
        .filter(col("ptus").isNotNull)
        .select(col("user_id"), (col("tus") - col("ptus")).as("g"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("m"), sum(col("g")).as("sg"),
          sum(col("g").cast("decimal(38,0)") * col("g")).as("q"))
      stats.filter(col("m") >= 19L &&
          expr("""20 * (CAST(m AS DECIMAL(38,0)) * q -
                |       CAST(sg AS DECIMAL(38,0)) * sg)
                | < CAST(sg AS DECIMAL(38,0)) * sg""".stripMargin))
        .selectExpr("user_id", "m + 1 AS n_events",
          "(2 * sg + m) div (2 * m) AS mean_gap_us",
          """CAST((2 * 1000000 * (CAST(m AS DECIMAL(38,0)) * q -
            |        CAST(sg AS DECIMAL(38,0)) * sg)
            |      + CAST(sg AS DECIMAL(38,0)) * sg)
            | div (2 * CAST(sg AS DECIMAL(38,0)) * sg) AS BIGINT)
            | AS cv2_x1e6""".stripMargin,
          "user_id >= 9000000 AS is_planted")
    },
      // session_bot_detect: same planted metronome users, lag-window
      // gaps, cleared-denominator CV² flag in HUGEINT.
      """WITH base AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id FROM events
        |  UNION ALL
        |  SELECT 9000001 + b.b AS user_id,
        |         1704067200000000 + i.i * 60000000 AS tus,
        |         (9000001 + b.b) * 1000 + i.i AS event_id
        |  FROM range(0, 3) b(b) CROSS JOIN range(0, 50) i(i)),
        |g AS (SELECT user_id,
        |        tus - lag(tus) OVER (PARTITION BY user_id
        |          ORDER BY tus, event_id) AS g
        |      FROM base),
        |st AS (SELECT user_id, CAST(count(*) AS BIGINT) AS m,
        |         CAST(sum(g) AS BIGINT) AS sg,
        |         CAST(sum(CAST(g AS HUGEINT) * g) AS HUGEINT) AS q
        |       FROM g WHERE g IS NOT NULL GROUP BY 1),
        |f AS (SELECT * FROM st WHERE m >= 19
        |        AND 20 * (CAST(m AS HUGEINT) * q
        |                  - CAST(sg AS HUGEINT) * sg)
        |            < CAST(sg AS HUGEINT) * sg)
        |SELECT user_id, m + 1 AS n_events,
        |  (2 * sg + m) // (2 * m) AS mean_gap_us,
        |  CAST((2 * 1000000 * (CAST(m AS HUGEINT) * q
        |          - CAST(sg AS HUGEINT) * sg)
        |        + CAST(sg AS HUGEINT) * sg)
        |       // (2 * CAST(sg AS HUGEINT) * sg) AS BIGINT) AS cv2_x1e6,
        |  (user_id >= 9000000) AS is_planted
        |FROM f""".stripMargin),

    // FULL OUTER join — the one join type the registry didn't yet
    // exercise. Order custkeys ≡ 0 (mod 7) are offset out of the
    // customer domain so the right-only branch is non-empty on
    // read-only inputs; the left-only branch is the orderless-customer
    // set (semi_anti_join's complement). At scale: both sides shuffle
    // on the key — full-outer has no broadcast form (every unmatched
    // row of BOTH sides must surface), which is exactly why cdc_merge
    // uses broadcast left + union-insert instead.
    Query("full_outer_join", { (s, d) =>
      val o = Tables.orders(s, d).select(
        when(pmod(col("o_custkey"), lit(7)) === 0, col("o_custkey") + 1000000000L)
          .otherwise(col("o_custkey")).as("o_custkey"),
        col("o_totalprice"))
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
      Tables.customer(s, d).select(col("c_custkey"), col("c_name"))
        .join(o, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(
          coalesce(col("c_custkey"), col("o_custkey")).as("key"),
          when(col("c_custkey").isNull, "order_only")
            .when(col("o_custkey").isNull, "customer_only")
            .otherwise("both").as("side"),
          col("c_name"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          col("sum_price"))
    },
      """WITH o AS (
        |  SELECT CASE WHEN o_custkey % 7 = 0 THEN o_custkey + 1000000000
        |              ELSE o_custkey END AS o_custkey,
        |         count(*) AS n_orders,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |  FROM orders GROUP BY 1)
        |SELECT coalesce(c_custkey, o_custkey) AS key,
        |       CASE WHEN c_custkey IS NULL THEN 'order_only'
        |            WHEN o_custkey IS NULL THEN 'customer_only'
        |            ELSE 'both' END AS side,
        |       c_name,
        |       CAST(coalesce(n_orders, 0) AS BIGINT) AS n_orders,
        |       sum_price
        |FROM customer FULL OUTER JOIN o ON c_custkey = o_custkey""".stripMargin),

    // Incremental MV refresh (ops.Incremental): the standing daily
    // rollup is built from history, then ONLY the newest week's events
    // fold in — output must equal the full recompute (which is exactly
    // what the oracle computes). The split cutoff derives from the
    // data's own max ts, so the gate exercises a genuine
    // history+increment merge at every scale factor. avg_value is
    // derived from the merged exact sum at read time — stored averages
    // don't merge.
    Query("mv_refresh", { (s, d) =>
      val keys = Seq("day_us", "event_type")
      val e = Tables.events(s, d)
        .select((Tables.tsUs - pmod(Tables.tsUs, lit(Tables.MicrosPerDay))).as("day_us"),
          col("event_type"), col("value"))
      // lazy cutoff: 1-row aggregate broadcast-crossed into both
      // branches (no eager driver action; Incremental.splitAt).
      val cut = e.agg((max(col("day_us")) - lit(7L * Tables.MicrosPerDay)).as("cutoff"))
      val history = Incremental.partials(
        Incremental.splitAt(e, cut, col("day_us") < _), keys, "value")
      val fresh = Incremental.partials(
        Incremental.splitAt(e, cut, col("day_us") >= _), keys, "value")
      // avg at 4 dp via EXACT integer HALF_UP ((2a + n) div 2n over
      // a = cents·100) — round(double/count) straddles engines on
      // half-points like 307.03/8 (the sensor_stats convention).
      // `div` (not `/` + floor): long division stays exact where the
      // double quotient degrades past 2^53.
      Incremental.merge(history, fresh, keys)
        .withColumn("cents", (col("sum_v") * 100).cast("long"))
        .selectExpr("day_us", "event_type", "n",
          "CAST(sum_v AS DOUBLE) AS sum_value",
          "min_v AS min_value", "max_v AS max_value",
          "CAST((2 * cents * 100 + n) div (2 * n) AS DOUBLE) / 10000.0 AS avg_value")
    },
      // The oracle IS the full recompute — merge(history, increment)
      // must be indistinguishable from one pass over everything.
      """WITH e AS (SELECT epoch_us(ts) - epoch_us(ts) % 86400000000 AS day_us,
        |                  event_type, value FROM events),
        |a AS (SELECT day_us, event_type, count(*) AS n,
        |             SUM(CAST(value AS DECIMAL(18,2))) AS sum_v,
        |             min(value) AS min_value, max(value) AS max_value
        |      FROM e GROUP BY 1, 2)
        |SELECT day_us, event_type, n,
        |  CAST(sum_v AS DOUBLE) AS sum_value, min_value, max_value,
        |  CAST((2 * CAST(sum_v * 100 AS BIGINT) * 100 + n) // (2 * n) AS DOUBLE)
        |    / 10000.0 AS avg_value
        |FROM a""".stripMargin),

    // Incremental JOIN-view maintenance (round 8) — mv_refresh's IVM
    // story extended from one table to a join: the (priority, year)
    // revenue view over lineitem⋈orders refreshed via the classic
    // delta decomposition (Incremental.deltaJoinTerms): standing
    // old⋈old partials + ΔL⋈O_old + L_old⋈ΔO + ΔL⋈ΔO, all merged by
    // the algebraic view merge. The four quadrants partition the join
    // exactly, so the oracle IS the full recompute — the incremental
    // path must be indistinguishable from one pass over everything.
    // The cutoff derives from the data's own max shipdate (both
    // tables split at the SAME instant), so every SF exercises all
    // delta terms its data can produce.
    Query("mv_refresh_join", { (s, d) =>
      val keys = Seq("o_orderpriority", "o_year")
      val l = Tables.lineitem(s, d).select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"),
        col("l_shipdate"))
      val o = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_orderpriority"), year(col("o_orderdate")).as("o_year"),
        col("o_orderdate"))
      val cut = l.agg((max(col("l_shipdate")) - expr("INTERVAL 90 DAYS"))
        .as("cutoff"))
      val (lOld, lNew) = (Incremental.splitAt(l, cut, col("l_shipdate") < _),
        Incremental.splitAt(l, cut, col("l_shipdate") >= _))
      val (oOld, oNew) = (Incremental.splitAt(o, cut, col("o_orderdate") < _),
        Incremental.splitAt(o, cut, col("o_orderdate") >= _))
      def joined(lf: DataFrame, of: DataFrame) =
        Incremental.partials(
          lf.join(of, col("l_orderkey") === col("o_orderkey")), keys, "rev",
          scale = 4)
      val standing = joined(lOld, oOld)
      val refreshed = Incremental
        .deltaJoinTerms(lOld, lNew, oOld, oNew, joined)
        .foldLeft(standing)(Incremental.merge(_, _, keys))
      refreshed.select(col("o_orderpriority"), col("o_year"), col("n"),
        col("sum_v").cast("double").as("revenue"))
    },
      // The oracle IS the full re-join — the four-quadrant incremental
      // path must be indistinguishable from one pass over everything.
      """SELECT o_orderpriority, year(o_orderdate) AS o_year,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2""".stripMargin),

    // Share-of-total: each order priority's slice of total revenue via
    // a window over the AGGREGATE output (5 rows) — the
    // ratio_to_report shape. The global window is an empty-partition
    // spec, which is exactly why it must sit on the post-aggregate
    // frame: over raw data it would serialize the corpus through one
    // partition (the plan's single-partition Exchange is fine for 5
    // rows, fatal for 10^12).
    Query("share_of_total", { (s, d) =>
      val agg = Tables.orders(s, d).groupBy(col("o_orderpriority"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
      agg.withColumn("total", sum(col("rev")).over(Window.partitionBy()))
        .select(col("o_orderpriority"),
          col("rev").cast("double").as("revenue"),
          round(col("rev").cast("double") / col("total").cast("double"), 6).as("rev_share"))
    },
      """WITH a AS (SELECT o_orderpriority,
        |                  SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |           FROM orders GROUP BY 1)
        |SELECT o_orderpriority, CAST(rev AS DOUBLE) AS revenue,
        |       round(CAST(rev AS DOUBLE) / CAST(sum(rev) OVER () AS DOUBLE), 6)
        |         AS rev_share
        |FROM a""".stripMargin),

    // Explicit GROUPING SETS — the general form behind rollup_agg/
    // cube_agg: two disjoint groupings (by region; by nation) in ONE
    // Expand + hash aggregate pass over the post-broadcast-join rows.
    // The set id derives from key nullness CASE (keys are non-null in
    // this schema) so both engines compute it identically.
    Query("grouping_sets", { (s, d) =>
      val joined = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      joined
        .groupingSets(Seq(Seq(col("r_name")), Seq(col("n_name"))),
          col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"),
          sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("sum_bal"))
        .withColumn("set_id",
          when(col("r_name").isNotNull, lit(0)).otherwise(lit(1)))
    },
      """SELECT r_name, n_name, count(*) AS n_cust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal,
        |  CASE WHEN r_name IS NOT NULL THEN 0 ELSE 1 END AS set_id
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY GROUPING SETS ((r_name), (n_name))""".stripMargin),

    // Correlated LATERAL subquery with ORDER BY + LIMIT — per-nation
    // top-2 customers by balance through the LATERAL planner path
    // (Catalyst decorrelates the limited subquery into a ranked join —
    // a different plan family than grouped_topk's custom operator or
    // the window formulation, and the third way this engine can answer
    // grouped top-k). One SQL text, both engines.
    Query("lateral_topk", { (s, d) => graft.Sql.sql(s, d, LateralTopkSql) },
      LateralTopkSql),

    // Correlated + uncorrelated scalar subqueries — the query class the
    // registry hadn't exercised (Catalyst plans the correlated scalar
    // as a left outer aggregate-join under the hood; the uncorrelated
    // one becomes a reusable subquery broadcast). Customers holding
    // more than 1.5x their own nation's average balance, with both
    // averages surfaced. Expressed through the SQL interface (the
    // reference's own surface) — same text runs in DuckDB.
    Query("rich_customers", { (s, d) => graft.Sql.sql(s, d, RichCustomersSql) },
      RichCustomersSql),

    // Hierarchy flattening (ops.Hierarchy): every order key climbs a
    // synthesized forest (parent = key div 10 where that key exists) to
    // its root with its depth — the recursive-CTE workload Spark lacks,
    // answered in O(log depth) pointer-doubling self-joins instead of
    // one join per level. The DuckDB oracle IS a recursive CTE, so the
    // gate proves the doubling loop ≡ true recursion.
    Query("hierarchy_flatten", { (s, d) =>
      val keys = Tables.orders(s, d).select(col("o_orderkey").as("node"))
      val cand = keys.select(col("node"),
        when(col("node") >= 10, expr("node div 10")).as("cand"))
      val edges = cand.join(
        keys.select(col("node").as("p")), col("cand") === col("p"), "left")
        .select(col("node"), col("p").as("parent"))
      Hierarchy.rootAndDepth(edges)
    },
      """WITH RECURSIVE k AS (SELECT o_orderkey AS node FROM orders),
        |e AS (SELECT node,
        |        CASE WHEN node >= 10 AND node // 10 IN (SELECT node FROM k)
        |             THEN node // 10 END AS parent
        |      FROM k),
        |anc(node, root, depth) AS (
        |  SELECT node, node, CAST(0 AS BIGINT) FROM e WHERE parent IS NULL
        |  UNION ALL
        |  SELECT e.node, a.root, a.depth + 1
        |  FROM e JOIN anc a ON e.parent = a.node)
        |SELECT node, root, depth FROM anc""".stripMargin),

    // Last-touch attribution (round 11) — the marketing-analytics
    // closer beside the funnels: every purchase attributes to the
    // LAST preceding non-purchase touch by the same user within a
    // 7-day lookback (last-touch is the deterministic industry
    // default; the first-touch variant is funnel_stages' shape).
    // Exact: one per-user ordered window pass carrying the running
    // last touch (ignoreNulls over the preceding frame — no self
    // join), then a rollup per touch channel with HALF_UP mean lag;
    // purchases with no in-window touch report as 'none'.
    Query("conversion_attribution", { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy(col("tus"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val ev = Tables.events(s, d)
        .select(col("user_id"), Tables.tsUs.as("tus"), col("event_id"),
          col("event_type"))
      ev.withColumn("touch", last(
          when(col("event_type") =!= "purchase",
            struct(col("tus").as("t_tus"), col("event_type").as("t_type"))),
          ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(
          when(col("touch").isNotNull &&
              col("tus") - col("touch.t_tus") <= lit(7L * 86400L * 1000000L),
            col("touch.t_type")).otherwise(lit("none")).as("touch_type"),
          when(col("touch").isNotNull &&
              col("tus") - col("touch.t_tus") <= lit(7L * 86400L * 1000000L),
            col("tus") - col("touch.t_tus")).as("lag_us"))
        .groupBy(col("touch_type"))
        .agg(count(lit(1)).as("n_purchases"), sum(col("lag_us")).as("sl"))
        .selectExpr("touch_type", "n_purchases",
          """CASE WHEN sl IS NULL THEN NULL
            |     ELSE (2 * sl + n_purchases) div (2 * n_purchases) END
            |  AS avg_lag_us""".stripMargin)
    },
      // conversion_attribution: same running last-touch frame (IGNORE
      // NULLS), 7-day lookback, HALF_UP mean lag.
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_id, event_type
        |           FROM events),
        |t AS (SELECT user_id, tus, event_id, event_type,
        |        last_value(CASE WHEN event_type <> 'purchase'
        |                        THEN struct_pack(t_tus := tus,
        |                                         t_type := event_type) END
        |                   IGNORE NULLS)
        |          OVER (PARTITION BY user_id ORDER BY tus, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |          AS touch
        |      FROM e),
        |p AS (SELECT CASE WHEN touch IS NOT NULL
        |                   AND tus - touch.t_tus <= 604800000000
        |                  THEN touch.t_type ELSE 'none' END AS touch_type,
        |             CASE WHEN touch IS NOT NULL
        |                   AND tus - touch.t_tus <= 604800000000
        |                  THEN tus - touch.t_tus END AS lag_us
        |      FROM t WHERE event_type = 'purchase')
        |SELECT touch_type, CAST(count(*) AS BIGINT) AS n_purchases,
        |       CASE WHEN sum(lag_us) IS NULL THEN NULL
        |            ELSE CAST((2 * sum(lag_us) + count(*)) // (2 * count(*))
        |                 AS BIGINT) END AS avg_lag_us
        |FROM p GROUP BY 1""".stripMargin),

    // First-order Markov transition matrix (round 11) — the behavioral
    // sequence model beside funnel_stages/funnel_windowed's fixed
    // chains: per user, consecutive event pairs in (ts, event_id)
    // order; per (from, to) the transition count and the HALF_UP
    // 1e6-scaled row-conditional probability. The classic session-
    // modeling primitive (next-event prediction, anomaly paths).
    // Shape: ONE per-user ordered window pass (the sessionize sort),
    // then two tiny aggs on the |types|² pair frame — nothing
    // event-sized crosses a second exchange.
    Query("event_transitions", { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("tus"), col("event_id"))
      val pairs = Tables.events(s, d)
        .select(col("user_id"), Tables.tsUs.as("tus"), col("event_id"),
          col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"),
          col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n_trans"))
      val totals = pairs.groupBy(col("from_type"))
        .agg(sum(col("n_trans")).as("n_from"))
      pairs.join(totals, "from_type")
        .selectExpr("from_type", "to_type", "n_trans", "n_from",
          "(2 * 1000000 * n_trans + n_from) div (2 * n_from) AS p_x1e6")
    },
      // event_transitions: same per-user lead() pairing, HALF_UP
      // conditional probabilities.
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_id, event_type
        |           FROM events),
        |p AS (SELECT event_type AS from_type,
        |        lead(event_type, 1) OVER (PARTITION BY user_id
        |                                  ORDER BY tus, event_id) AS to_type
        |      FROM e),
        |c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n_trans
        |      FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, CAST(sum(n_trans) AS BIGINT) AS n_from
        |      FROM c GROUP BY 1)
        |SELECT c.from_type, to_type, n_trans, n_from,
        |       (2 * 1000000 * n_trans + n_from) // (2 * n_from) AS p_x1e6
        |FROM c JOIN t ON t.from_type = c.from_type""".stripMargin),

    // RFM segmentation (round 15) — the classic customer-base
    // partition (Hughes 1994) beside cohort_retention's time view:
    // per user recency (days since last event, inverted so higher =
    // fresher), frequency and monetary quintiles, crossed into
    // segment cells with the standard labels. Quintiles are exact
    // lower-rank buckets q = 5·cb div N over each metric's value
    // histogram — and because per-user cent SUMS are near-unique
    // (the histogram is SF-proportional), cb comes from
    // bucketedCumBefore's two-level bucket-offset form, NOT an
    // unpartitioned rank window (the gini_index/spearman_rho lesson);
    // quintile maps attach back by plain UNHINTED joins. 100 TB
    // shape: one user hash agg; three bounded bucket frames +
    // parallel per-bucket windows; the only broadcasts are 1-row
    // (max day, N) and the bounded bucket offsets.
    Query("rfm_segments", { (s, d) =>
      val e = Tables.events(s, d).select(col("user_id"),
        expr(s"(ts div 1000 - $OriginUs) div ${Tables.MicrosPerDay}")
          .as("day"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
      val life = e.groupBy(col("user_id"))
        .agg(max(col("day")).as("last_day"), count(lit(1)).as("f"),
          sum(col("cents")).as("m"))
      val mx = e.agg(max(col("day")).as("mxd"))
      val lf = life.crossJoin(broadcast(mx))
        .select(col("user_id"), (col("mxd") - col("last_day")).as("r"),
          col("f"), col("m"))
        .localCheckpoint(true)
      val n = lf.agg(count(lit(1)).as("nu"))
      def qmap(c: String, width: Long) = {
        val hist = lf.groupBy(col(c).as("v")).agg(count(lit(1)).as("c"))
        bucketedCumBefore(hist, "v", width)
          .crossJoin(broadcast(n))
          .selectExpr(s"v AS ${c}_v", s"(5 * cb) div nu AS ${c}_q")
      }
      lf.join(qmap("r", 8L), col("r") === col("r_v"))
        .join(qmap("f", 4L), col("f") === col("f_v"))
        .join(qmap("m", 10000L), col("m") === col("m_v"))
        .selectExpr("4 - r_q AS rs", "f_q AS fs", "m_q AS ms", "m")
        .groupBy(col("rs"), col("fs"), col("ms"))
        .agg(count(lit(1)).as("n_users"), sum(col("m")).as("sum_m_cents"))
        .withColumn("segment", expr(
          "CASE WHEN rs >= 3 AND fs >= 3 AND ms >= 3 THEN 'champions' " +
            "WHEN rs <= 1 AND fs >= 2 THEN 'at_risk' " +
            "WHEN rs <= 1 THEN 'hibernating' ELSE 'regular' END"))
    },
      // rfm_segments: the oracle keeps the PLAIN single-window
      // cumulative (bucketedCumBefore is bit-identical to it by
      // contract); quintiles, segment cells and labels replay exactly.
      """WITH e AS (SELECT user_id,
        |             (epoch_us(ts) - 1704067200000000)
        |               // 86400000000 AS day,
        |             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |           FROM events),
        |life AS (SELECT user_id, max(day) AS last_day,
        |           CAST(count(*) AS BIGINT) AS f,
        |           CAST(sum(cents) AS BIGINT) AS m
        |         FROM e GROUP BY 1),
        |mx AS (SELECT max(day) AS mxd FROM e),
        |lf AS (SELECT user_id, mxd - last_day AS r, f, m
        |       FROM life CROSS JOIN mx),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS nu FROM lf),
        |rh AS (SELECT r AS v, CAST(count(*) AS BIGINT) AS c
        |       FROM lf GROUP BY 1),
        |rq AS (SELECT v, (5 * coalesce(sum(c) OVER (ORDER BY v
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
        |           // nu AS q
        |       FROM rh CROSS JOIN n),
        |fh AS (SELECT f AS v, CAST(count(*) AS BIGINT) AS c
        |       FROM lf GROUP BY 1),
        |fq AS (SELECT v, (5 * coalesce(sum(c) OVER (ORDER BY v
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
        |           // nu AS q
        |       FROM fh CROSS JOIN n),
        |mh AS (SELECT m AS v, CAST(count(*) AS BIGINT) AS c
        |       FROM lf GROUP BY 1),
        |mq AS (SELECT v, (5 * coalesce(sum(c) OVER (ORDER BY v
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
        |           // nu AS q
        |       FROM mh CROSS JOIN n),
        |seg AS (SELECT CAST(4 - rq.q AS BIGINT) AS rs,
        |          CAST(fq.q AS BIGINT) AS fs, CAST(mq.q AS BIGINT) AS ms,
        |          lf.m
        |        FROM lf JOIN rq ON lf.r = rq.v
        |        JOIN fq ON lf.f = fq.v
        |        JOIN mq ON lf.m = mq.v)
        |SELECT rs, fs, ms, CAST(count(*) AS BIGINT) AS n_users,
        |       CAST(sum(m) AS BIGINT) AS sum_m_cents,
        |       CASE WHEN rs >= 3 AND fs >= 3 AND ms >= 3 THEN 'champions'
        |            WHEN rs <= 1 AND fs >= 2 THEN 'at_risk'
        |            WHEN rs <= 1 THEN 'hibernating'
        |            ELSE 'regular' END AS segment
        |FROM seg GROUP BY 1, 2, 3""".stripMargin),

    // Windowed conversion funnel (round 11) — the TIME-BOUNDED funnel
    // beside funnel_stages' first-touch ordering (ClickHouse's
    // windowFunnel shape): view → click → purchase must complete
    // within 7 days of the view anchor, and the output carries the
    // mean conversion lag per stage. Deterministic earliest-anchor
    // semantics (every step a min — see ops.Funnel for the contrast
    // with retrying windowFunnel). Shape: one filtered partial+final
    // min-agg per stage; later stages join the previous stage's
    // USER-sized frame — events never self-join.
    Query("funnel_windowed", { (s, d) =>
      Funnel.staged(Tables.events(s, d), col("user_id"), Tables.tsUs,
        col("event_type"), Seq("view", "click", "purchase"),
        windowUs = 7L * 86400L * 1000000L)
    },
      // funnel_windowed: the same earliest-anchor chain — per-stage
      // conditional mins, strict ordering, 7-day anchor window, HALF_UP
      // mean lag.
      """WITH e AS (SELECT user_id AS u, epoch_us(ts) AS t, event_type AS et
        |           FROM events),
        |s1 AS (SELECT u, min(t) AS t1 FROM e WHERE et = 'view' GROUP BY 1),
        |s2 AS (SELECT e.u, t1, min(t) AS tk FROM e JOIN s1 ON s1.u = e.u
        |       WHERE et = 'click' AND t > t1 AND t <= t1 + 604800000000
        |       GROUP BY 1, 2),
        |s3 AS (SELECT e.u, s2.t1, min(t) AS tk FROM e JOIN s2 ON s2.u = e.u
        |       WHERE et = 'purchase' AND t > s2.tk AND t <= s2.t1 + 604800000000
        |       GROUP BY 1, 2)
        |SELECT CAST(1 AS BIGINT) AS stage, 'view' AS stage_name,
        |       CAST(count(*) AS BIGINT) AS n_users,
        |       CAST(0 AS BIGINT) AS avg_lag_us FROM s1
        |UNION ALL
        |SELECT 2, 'click', CAST(count(*) AS BIGINT),
        |       CAST((2 * sum(tk - t1) + count(*)) // (2 * count(*)) AS BIGINT)
        |FROM s2
        |UNION ALL
        |SELECT 3, 'purchase', CAST(count(*) AS BIGINT),
        |       CAST((2 * sum(tk - t1) + count(*)) // (2 * count(*)) AS BIGINT)
        |FROM s3""".stripMargin))
}
