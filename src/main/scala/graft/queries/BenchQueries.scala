package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Analytical headline queries (TPC-H-shaped) — the join/agg workloads
  * that dominate at 100 TB. These exercise Catalyst's join selection,
  * partial aggregation, and filter/column pushdown; Bench times them at
  * sf0.1.
  *
  * Float determinism: money aggregates go through exact DECIMAL sums and
  * only convert to DOUBLE at the end, so Spark's partition-order-dependent
  * double summation can't drift from DuckDB's.
  */
object BenchQueries {

  import QueryCommon.dsum

  val all: Seq[Query] = Seq(
    // TPC-H Q1 shape: scan-heavy single-table aggregation; the filter
    // and 6-column projection push down to the parquet scan.
    Query("pricing_summary", { (s, d) =>
      val disc = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity"), 2).as("sum_qty"),
          dsum(col("l_extendedprice"), 2).as("sum_base_price"),
          dsum(disc, 4).as("sum_disc_price"),
          dsum(disc * (lit(1.0) + col("l_tax")), 6).as("sum_charge"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
    },
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY 1, 2""".stripMargin),

    // TPC-H Q3 shape: 3-way join, selective dimension filter, top-k.
    // customer is the small side (broadcast); orders⋈lineitem shuffles
    // on orderkey; TakeOrderedAndProject avoids a global sort.
    Query("top_orders", { (s, d) =>
      val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp_ntz"))
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_shipdate") > lit("1997-01-01").cast("timestamp_ntz"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(dsum(rev, 4).as("revenue"))
        .select(col("l_orderkey"), col("revenue"), col("o_orderdate"), col("o_orderpriority"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },
      """SELECT l_orderkey,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  o_orderdate, o_orderpriority
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING'
        |  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY 1, 3, 4
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),

    // TPC-H Q14 shape: fact ⋈ part dimension with conditional revenue —
    // part broadcasts (or shuffles by key at scale); the CASE stays in
    // the partial aggregate, so one pass over lineitem.
    Query("promo_revenue", { (s, d) =>
      val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      val promo = when(col("p_type") === "PROMO", rev).otherwise(lit(0.0))
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp_ntz") &&
          col("l_shipdate") < lit("1997-02-01").cast("timestamp_ntz"))
        .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
        .agg(
          dsum(promo, 4).as("promo_rev"),
          dsum(rev, 4).as("total_rev"))
        .withColumn("promo_pct",
          round(lit(100.0) * col("promo_rev") / col("total_rev"), 4))
    },
      """SELECT
        |  CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
        |       THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(18,4))) AS DOUBLE) AS promo_rev,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS total_rev,
        |  round(100.0 * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
        |       THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(18,4))) AS DOUBLE) /
        |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE), 4) AS promo_pct
        |FROM lineitem, part
        |WHERE l_partkey = p_partkey
        |  AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-02-01 00:00:00'""".stripMargin),

    // TPC-H Q5 shape: 6-way join with region filter; nation/region/
    // supplier broadcast, customer⋈orders⋈lineitem shuffle on keys.
    Query("revenue_by_nation", { (s, d) =>
      val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .join(Tables.supplier(s, d),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(dsum(rev, 4).as("revenue"))
    },
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |GROUP BY 1""".stripMargin),

    // TPC-H Q4 shape: order-priority counts gated by an EXISTS
    // subquery — the left-semi join pattern with a non-equi residual
    // (line shipped after the order date). The semi join shuffles on
    // orderkey once; the residual evaluates inside the join.
    Query("priority_count", { (s, d) =>
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp_ntz"))
      val l = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_shipdate"))
      o.join(l, col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
    },
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate)
        |GROUP BY 1""".stripMargin),

    // TPC-H Q12 shape (adapted to the corpus columns): late-shipped
    // line counts per return flag, split by order priority class — a
    // fact⋈fact join whose CASE aggregates fold in the partial stage.
    Query("late_lines", { (s, d) =>
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate"))
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(!high, 1L).otherwise(0L)).as("low_line_count"))
    },
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate > o_orderdate
        |GROUP BY 1""".stripMargin),

    // TPC-H Q7 shape: shipping volume between two nations by ship year.
    // The nation filter (2 of 25) is applied to the nation dim FIRST and
    // broadcast into supplier/customer, so the selective predicate prunes
    // the fact-side join inputs before the orderkey shuffle — at 100 TB
    // this is the difference between shuffling 8% of lineitem⋈orders
    // output and shuffling all of it. The asymmetric-pair predicate
    // reduces to supp_nation != cust_nation once both sides are
    // restricted to the same two-nation set. supplier/customer are
    // SF-proportional, so they carry no broadcast HINT (round-8 fix):
    // the size threshold (and AQE at runtime) broadcasts the pruned
    // frames while they fit and degrades to shuffle when they don't;
    // only the constant-size nation dim is forced.
    Query("nation_volume", { (s, d) =>
      val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      val picked = Tables.nation(s, d)
        .filter(col("n_name").isin("NATION_1", "NATION_2"))
      val supp = Tables.supplier(s, d)
        .join(broadcast(picked.select(col("n_nationkey"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("supp_nation"))
      val cust = Tables.customer(s, d)
        .join(broadcast(picked.select(col("n_nationkey"), col("n_name").as("cust_nation"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("cust_nation"))
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(dsum(rev, 4).as("revenue"))
    },
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  year(l_shipdate) AS l_year,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem, orders, customer, supplier, nation n1, nation n2
        |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        |  AND l_suppkey = s_suppkey
        |  AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
        |  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |GROUP BY 1, 2, 3""".stripMargin),

    // TPC-H Q21 shape: suppliers who were the SOLE late supplier on a
    // multi-supplier order. The classic formulation is EXISTS + NOT
    // EXISTS correlated subqueries (three scans of lineitem); here the
    // per-order facts (distinct suppliers, distinct late suppliers,
    // per-supplier late-line counts) come from ONE lineitem⋈orders
    // shuffle on orderkey with two stacked aggregations sharing that
    // partitioning, and the qualifying join is co-partitioned — no
    // second pass over the fact table at any scale.
    Query("waiting_suppliers", { (s, d) =>
      val lo = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_shipdate") > col("o_orderdate")).as("late"))
      // One row per (order, supplier): how many of that supplier's lines
      // on the order shipped late.
      val perOrderSupp = lo.groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(sum(when(col("late"), 1L).otherwise(0L)).as("late_lines"))
      // One row per order: supplier fan-out and late-supplier fan-out.
      val perOrder = perOrderSupp.groupBy(col("l_orderkey"))
        .agg(
          count(lit(1)).as("n_supp"),
          sum(when(col("late_lines") > 0, 1L).otherwise(0L)).as("n_late_supp"))
      perOrderSupp.filter(col("late_lines") > 0)
        .join(perOrder.filter(col("n_supp") >= 2 && col("n_late_supp") === 1),
          Seq("l_orderkey"))
        .join(Tables.supplier(s, d).select(col("s_suppkey"), col("s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(sum(col("late_lines")).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(100)
    },
      """SELECT s_name, count(*) AS numwait
        |FROM supplier, lineitem l1, orders
        |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
        |  AND l1.l_shipdate > o_orderdate
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > o_orderdate)
        |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin),

    // TPC-H Q18 shape: large-volume orders — aggregate-then-join with a
    // HAVING gate. The quantity rollup + filter runs BEFORE any join, so
    // only the ~0.1% of orders above threshold reach the orders/customer
    // joins; the threshold compare happens on the exact decimal (both
    // engines), with the double conversion only in the projected output.
    Query("big_orders", { (s, d) =>
      val qty = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("qd"))
        .filter(col("qd") > 200)
        .select(col("l_orderkey"), col("qd").cast("double").as("sum_qty"))
      qty.join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
    },
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
        |FROM (SELECT l_orderkey,
        |        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |      FROM lineitem GROUP BY 1
        |      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 200) q
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey""".stripMargin),

    // TPC-H Q13 shape: customer-order distribution — LEFT OUTER join
    // with a right-side predicate, then TWO stacked aggregations (count
    // per customer, histogram of counts). The outer join is what makes
    // the shape distinct: zero-order customers must survive with
    // c_count = 0 (count(o_orderkey) counts only matches), and the
    // second aggregate collapses |customers| rows to a ~50-row
    // distribution — shuffle volume drops at each step, never grows.
    Query("cust_order_dist", { (s, d) =>
      val filtered = Tables.orders(s, d)
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .select(col("o_custkey"), col("o_orderkey"))
      Tables.customer(s, d).select(col("c_custkey"))
        .join(filtered, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
    },
      """WITH co AS (SELECT c_custkey, count(o_orderkey) AS c_count
        |            FROM customer LEFT JOIN orders
        |              ON c_custkey = o_custkey
        |             AND o_orderpriority <> '1-URGENT'
        |            GROUP BY 1)
        |SELECT c_count, count(*) AS custdist FROM co GROUP BY 1""".stripMargin),

    // TPC-H Q17 shape: small-quantity-order revenue — a correlated
    // aggregate (each line compared to 0.2× its part's average
    // quantity). The textbook decorrelation is an aggregate + self-join
    // — TWO passes over the fact; here the per-part stats come from a
    // window over the SAME partkey shuffle the probe rows need anyway:
    // one lineitem scan, one exchange, zero joins beyond the broadcast
    // brand filter (the oracle deliberately keeps the join formulation
    // — an independent derivation of the same answer). The threshold
    // compare q < 0.2·avg runs as exact integers (5·q·n < Σq —
    // quantities are integral), so no engine can flip a boundary row;
    // the single closing division is the only float op.
    Query("small_qty_revenue", { (s, d) =>
      // filtered part is SF-proportional: no broadcast hint (round-8
      // audit) — size-based planning broadcasts it while it fits.
      val brand = Tables.part(s, d).filter(col("p_brand") === "Brand#1")
        .select(col("p_partkey"))
      val byPart = Window.partitionBy(col("l_partkey"))
      Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_quantity").cast("long").as("q"),
          col("l_extendedprice"))
        .join(brand, col("l_partkey") === col("p_partkey"))
        .drop("p_partkey")
        .withColumn("n", count(lit(1)).over(byPart))
        .withColumn("sq", sum(col("q")).over(byPart))
        .filter(lit(5L) * col("q") * col("n") < col("sq"))
        .agg((sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          / 7.0).as("avg_yearly"))
    },
      // threshold as exact integers (5·q·n < Σq ⟺ q < 0.2·avg) — no
      // float boundary; the /7.0 is the only float op, identical IEEE.
      """WITH lp AS (SELECT l_partkey, CAST(l_quantity AS BIGINT) AS q,
        |                   l_extendedprice
        |            FROM lineitem JOIN part ON l_partkey = p_partkey
        |            WHERE p_brand = 'Brand#1'),
        |st AS (SELECT l_partkey, count(*) AS n, sum(q) AS sq
        |       FROM lp GROUP BY 1)
        |SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |         / 7.0 AS avg_yearly
        |FROM lp JOIN st USING (l_partkey)
        |WHERE 5 * q * n < sq""".stripMargin),

    // TPC-H Q19 shape: discounted revenue under a DISJUNCTION of
    // conjunctive predicates spanning BOTH join sides (brand+size from
    // part, quantity from lineitem) — the planner stress is OR-split
    // pushdown: Catalyst derives the part-side residual
    // (brand₁∧size₁)∨(brand₂∧size₂)∨(brand₃∧size₃) and pushes it into
    // the dimension scan, so only qualifying parts reach the broadcast;
    // the mixed-side conjunctions evaluate post-join. One lineitem
    // pass, decimal-exact revenue.
    Query("brand_revenue", { (s, d) =>
      val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      val cond =
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
          col("l_quantity").between(20, 30))
      Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"),
          col("l_discount"))
        .join(Tables.part(s, d)
          .select(col("p_partkey"), col("p_brand"), col("p_size")),
          col("l_partkey") === col("p_partkey"))
        .filter(cond)
        .agg(dsum(rev, 4).as("revenue"))
    },
      """SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
        |  AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin),

    // TPC-H Q22 shape: promising under-served customers — a GLOBAL
    // scalar aggregate threshold (above-average balance) + NOT EXISTS
    // (no urgent order; this corpus has no order-less customers, so
    // the classic never-ordered clause would gate on an empty result)
    // + rollup, the three-clause combination Catalyst
    // decorrelates into broadcast-threshold + shuffle anti-join. The
    // 1-row average broadcasts back onto the customer scan (never a
    // raw-data window); the threshold compares in exact decimal
    // cross-multiplication (bal·cnt > Σbal — avg division never
    // happens, so no engine can disagree on a boundary customer);
    // orders sheds to a distinct custkey set before the anti join.
    Query("sales_opportunity", { (s, d) =>
      val pos = Tables.customer(s, d)
        .filter(col("c_acctbal") > 0.0)
        .select(col("c_custkey"), col("c_nationkey"),
          col("c_acctbal").cast("decimal(18,2)").as("bal"))
      val thresh = pos.agg(sum(col("bal")).as("sm"), count(lit(1)).as("cnt"))
      pos.crossJoin(broadcast(thresh))
        .filter(col("bal") * col("cnt") > col("sm"))
        .join(Tables.orders(s, d)
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey")).distinct(),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_cust"),
          sum(col("bal")).cast("double").as("total_bal"))
    },
      """WITH pos AS (SELECT c_custkey, c_nationkey,
        |                    CAST(c_acctbal AS DECIMAL(18,2)) AS bal
        |             FROM customer WHERE c_acctbal > 0.0),
        |t AS (SELECT sum(bal) AS sm, count(*) AS cnt FROM pos)
        |SELECT c_nationkey, count(*) AS n_cust,
        |       CAST(sum(bal) AS DOUBLE) AS total_bal
        |FROM pos, t
        |WHERE bal * cnt > sm
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')
        |GROUP BY 1""".stripMargin),

    // TPC-H Q6 shape: forecasting-revenue-change — the pure pushdown
    // showcase: three range predicates and a 2-column projection, all
    // of which must reach the parquet scan (PushedFilters shows the
    // shipdate/discount/quantity ranges; ReadSchema is 2 columns wide
    // beyond the filter columns). One map-side partial + 1-row final.
    Query("forecast_revenue", { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp_ntz") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp_ntz") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
        .agg(dsum(col("l_extendedprice") * col("l_discount"), 4).as("revenue"))
    },
      """SELECT CAST(SUM(CAST(l_extendedprice * l_discount
        |  AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin),

    // TPC-H Q10 shape: returned-item reporting — top 20 customers by
    // revenue lost to returns in one quarter. orders prunes to the
    // quarter BEFORE the lineitem join (filter pushed below the join),
    // lineitem prunes to returnflag='R' at the scan; nation broadcasts;
    // TakeOrderedAndProject caps what leaves the final aggregate.
    Query("returned_customers", { (s, d) =>
      val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      Tables.customer(s, d)
        .join(Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1997-07-01").cast("timestamp_ntz") &&
            col("o_orderdate") < lit("1997-10-01").cast("timestamp_ntz")),
          col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, d).filter(col("l_returnflag") === "R"),
          col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(dsum(rev, 4).as("revenue"))
        .select(col("c_custkey"), col("c_name"), col("revenue"),
          col("c_acctbal"), col("n_name"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },
      """SELECT c_custkey, c_name,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  c_acctbal, n_name
        |FROM customer, orders, lineitem, nation
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1997-10-01 00:00:00'
        |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin),

    // TPC-H Q15 shape: top supplier(s) — the revenue "view" (3-month
    // per-supplier aggregate) is computed ONCE, its 1-row global max
    // broadcasts back onto it (no window over the raw data, no second
    // lineitem scan), and only the argmax row(s) join supplier. The
    // max-equality compare is on decimal-sum-derived doubles, identical
    // bits in any engine. At 100 TB the view is |suppliers| rows —
    // the only lineitem pass is the first aggregate.
    Query("top_supplier", { (s, d) =>
      // The view is consumed twice (argmax + its own max); eager
      // localCheckpoint materializes the |suppliers|-row aggregate so
      // lineitem is scanned ONCE (the Dedup.scala convention — blocks
      // are RDD-owned and freed by GC, unlike persist()).
      val rev = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp_ntz") &&
          col("l_shipdate") < lit("1997-04-01").cast("timestamp_ntz"))
        .groupBy(col("l_suppkey"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
          .as("total_revenue"))
        .localCheckpoint(true)
      val mx = rev.agg(max(col("total_revenue")).as("mx"))
      rev.crossJoin(broadcast(mx))
        .filter(col("total_revenue") === col("mx"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .orderBy(col("s_suppkey"))
    },
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
        |      AS DECIMAL(18,4))) AS DOUBLE) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM supplier, revenue
        |WHERE s_suppkey = supplier_no
        |  AND total_revenue = (SELECT max(total_revenue) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin),

    // TPC-H Q2 shape: correlated min over a multi-table dim join —
    // cheapest supplier per part within a region. No partsupp table in
    // this schema, so the supply-cost proxy is min(l_extendedprice)
    // per (part, supplier) observed in lineitem (an exact double min —
    // no division, cross-engine safe). The correlated "cost = min cost
    // for this part" runs as a window min over p_partkey on the
    // already-tiny offer frame (filtered parts × region suppliers) —
    // no second lineitem scan, no self-join. Dims broadcast; the only
    // big-data exchange is the (partkey, suppkey) aggregate.
    Query("min_cost_supplier", { (s, d) =>
      val cost = Tables.lineitem(s, d)
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(col("l_extendedprice")).as("cost"))
      val eurNations = Tables.nation(s, d)
        .join(broadcast(Tables.region(s, d).filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val eurSupp = Tables.supplier(s, d)
        .join(broadcast(eurNations), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
      val parts = Tables.part(s, d)
        .filter(col("p_size") <= 5 && col("p_type") === "LARGE")
        .select(col("p_partkey"))
      val offers = cost
        .join(parts, col("l_partkey") === col("p_partkey"))
        .join(eurSupp, col("l_suppkey") === col("s_suppkey"))
      val byPart = Window.partitionBy(col("p_partkey"))
      offers
        .withColumn("min_cost", min(col("cost")).over(byPart))
        .filter(col("cost") === col("min_cost"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("cost"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
        .limit(100)
    },
      """WITH cost AS (SELECT l_partkey, l_suppkey,
        |                     min(l_extendedprice) AS cost
        |              FROM lineitem GROUP BY 1, 2),
        |off AS (SELECT s_acctbal, s_name, n_name, p_partkey, cost
        |        FROM cost, part, supplier, nation, region
        |        WHERE l_partkey = p_partkey AND l_suppkey = s_suppkey
        |          AND p_size <= 5 AND p_type = 'LARGE'
        |          AND s_nationkey = n_nationkey
        |          AND n_regionkey = r_regionkey AND r_name = 'EUROPE')
        |SELECT s_acctbal, s_name, n_name, p_partkey, cost
        |FROM off o
        |WHERE cost = (SELECT min(cost) FROM off o2
        |              WHERE o2.p_partkey = o.p_partkey)
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin),

    // TPC-H Q11 shape: group-by gated by a GLOBAL scalar HAVING
    // threshold — parts whose value from one nation's suppliers
    // exceeds 2× the average part value (scale-free, unlike Q11's
    // fixed fraction — a fixed 1/N empties out as |parts| grows). The
    // per-part aggregate is computed ONCE (localCheckpoint — consumed
    // by both the total and the filter); its 1-row global (sum, count)
    // broadcasts back. The threshold compare stays in exact decimals
    // (vd·n > 2·tot) — the only double is the final output cast. At
    // 100 TB: one lineitem exchange on l_partkey; everything after
    // runs on |parts| rows.
    Query("value_concentration", { (s, d) =>
      val natSupp = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d).filter(col("n_name") === "NATION_7")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"))
      val perPart = Tables.lineitem(s, d)
        .join(natSupp, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).as("vd"))
        .localCheckpoint(true)
      val total = perPart.agg(sum(col("vd")).as("tot"), count(lit(1)).as("n"))
      perPart.crossJoin(broadcast(total))
        .filter(col("vd") * col("n") > col("tot") * 2)
        .select(col("l_partkey"), col("vd").cast("double").as("part_value"))
        .orderBy(col("part_value").desc, col("l_partkey"))
    },
      """WITH per AS (SELECT l_partkey,
        |               SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS vd
        |             FROM lineitem, supplier, nation
        |             WHERE l_suppkey = s_suppkey
        |               AND s_nationkey = n_nationkey AND n_name = 'NATION_7'
        |             GROUP BY 1)
        |SELECT l_partkey, CAST(vd AS DOUBLE) AS part_value
        |FROM per
        |WHERE vd * (SELECT count(*) FROM per) >
        |      2 * (SELECT sum(vd) FROM per)
        |ORDER BY part_value DESC, l_partkey""".stripMargin),

    // TPC-H Q9 shape: product-line profit by supplier nation and order
    // year. No partsupp in this schema, so the supply-cost proxy is
    // 10% of p_retailprice per unit (a fixed margin model — the join
    // tree and aggregation shape are what Q9 exercises). Filtered part
    // and supplier⋈nation broadcast onto lineitem; the only big
    // exchange is lineitem⋈orders on orderkey for the order year.
    Query("product_profit", { (s, d) =>
      val redParts = Tables.part(s, d)
        .filter(col("p_name").like("red%"))
        .select(col("p_partkey"), col("p_retailprice"))
      val supp = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("nation"))
      val amount = col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
        lit(0.1) * col("p_retailprice") * col("l_quantity")
      Tables.lineitem(s, d)
        .join(redParts, col("l_partkey") === col("p_partkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("nation"), year(col("o_orderdate")).as("o_year"))
        .agg(dsum(amount, 4).as("profit"))
        .orderBy(col("nation"), col("o_year").desc)
    },
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
        |                - 0.1 * p_retailprice * l_quantity
        |            AS DECIMAL(18,4))) AS DOUBLE) AS profit
        |FROM lineitem, part, supplier, nation, orders
        |WHERE l_partkey = p_partkey AND l_suppkey = s_suppkey
        |  AND s_nationkey = n_nationkey AND l_orderkey = o_orderkey
        |  AND p_name LIKE 'red%'
        |GROUP BY 1, 2
        |ORDER BY 1, 2 DESC""".stripMargin),

    // TPC-H Q16 shape: supplier variety per part attribute — DISTINCT
    // supplier count per (brand, type, size) for a filtered part
    // range, excluding a supplier blacklist (negative balance — the
    // complaints proxy) via broadcast anti-join. The distinct-agg
    // expands (brand,type,size,suppkey) then collapses — two exchanges
    // on shrinking frames; parts broadcast onto the fact.
    Query("supplier_variety", { (s, d) =>
      val parts = Tables.part(s, d)
        .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO" &&
          col("p_size") <= 8)
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
      val excluded = Tables.supplier(s, d)
        .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
      Tables.lineitem(s, d)
        .join(parts, col("l_partkey") === col("p_partkey"))
        .join(excluded, col("l_suppkey") === col("s_suppkey"),
          "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    },
      """SELECT p_brand, p_type, p_size,
        |       count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem, part
        |WHERE l_partkey = p_partkey
        |  AND p_brand <> 'Brand#1' AND p_type <> 'PROMO' AND p_size <= 8
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |                        WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin),

    // TPC-H Q20 shape: nested semi-join chain — suppliers in one
    // nation who shipped a significant volume (HAVING sum qty > 40 per
    // part in 1997) of 'small%'-named parts. Each level stays a
    // semi-join: lineitem semi part-filter (broadcast), the aggregate
    // gate, then supplier LEFT SEMI the qualifying-supplier set —
    // supplier rows never duplicate, lineitem crosses one exchange on
    // (partkey, suppkey).
    Query("excess_suppliers", { (s, d) =>
      val smallParts = Tables.part(s, d)
        .filter(col("p_name").like("small%"))
        .select(col("p_partkey"))
      val qualifying = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp_ntz") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp_ntz"))
        .join(smallParts, col("l_partkey") === col("p_partkey"),
          "left_semi")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("qty"))
        .filter(col("qty") > 40)
        .select(col("l_suppkey"))
      Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d).filter(col("n_name") === "NATION_3")),
          col("s_nationkey") === col("n_nationkey"))
        .join(qualifying, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
        .orderBy(col("s_suppkey"))
    },
      """SELECT s_suppkey, s_name, s_acctbal
        |FROM supplier, nation
        |WHERE s_nationkey = n_nationkey AND n_name = 'NATION_3'
        |  AND s_suppkey IN (
        |    SELECT l_suppkey FROM lineitem
        |    WHERE l_partkey IN (SELECT p_partkey FROM part
        |                        WHERE p_name LIKE 'small%')
        |      AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        |    GROUP BY l_partkey, l_suppkey
        |    HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 40)
        |ORDER BY s_suppkey""".stripMargin))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Query.builds(all)
  val oracleSql: Map[String, String] = Query.oracles(all)
}
