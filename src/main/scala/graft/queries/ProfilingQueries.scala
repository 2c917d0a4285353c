package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.{Dedup, HeavyHitters, TextOps}

/** Profiling and sketch queries: table profiles, histograms, quantiles,
  * heavy hitters, distinct-count sketches, skew and zone-map pruning.
  */
object ProfilingQueries {

  val all: Seq[Query] = Seq(
    // Pareto skyline (round 14) — the classic two-criteria frontier
    // (Börzsönyi/Kossmann/Stocker, ICDE 2001): parts no other part
    // both undercuts-or-ties on price AND matches-or-beats on size,
    // strict in at least one dimension (min retail cents, max p_size).
    // Computed WITHOUT the O(n²) dominance self-join: collapse to one
    // (price_cents → max size) row per distinct price, run ONE
    // running-max window over that VALUE-BOUNDED frame (distinct
    // retail cents is price-range-bounded ≤ ~120k regardless of SF —
    // the compressed-frame convention), and re-join the bounded group
    // table broadcast onto the scan. A part is on the frontier iff its
    // size equals its price group's max (same-price domination must be
    // strict in size) and that max strictly exceeds every cheaper
    // group's running max (cheaper is already strict in price). Exact
    // integers end to end; both engines run the same algebra.
    Query("skyline_frontier", { (s, d) =>
      val p = Tables.part(s, d).select(col("p_partkey"),
        floor(col("p_retailprice") * 100 + lit(0.5)).cast("long")
          .as("price_cents"),
        col("p_size").cast("long").as("p_size"))
      val g = p.groupBy("price_cents").agg(max(col("p_size")).as("gmax"))
      val w = Window.orderBy(col("price_cents"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val g2 = g.withColumn("prevmax", max(col("gmax")).over(w))
      p.join(broadcast(g2), Seq("price_cents"))
        .filter(col("p_size") === col("gmax") &&
          (col("prevmax").isNull || col("gmax") > col("prevmax")))
        .select(col("p_partkey"), col("price_cents"), col("p_size"))
    },
      // skyline_frontier: the same value-bounded group + running-max
      // algebra — one row per distinct price, ROWS-framed running max,
      // frontier = group max that strictly clears every cheaper group.
      """WITH p AS (SELECT p_partkey,
        |             CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)
        |               AS price_cents,
        |             CAST(p_size AS BIGINT) AS p_size
        |           FROM part),
        |g AS (SELECT price_cents, max(p_size) AS gmax FROM p GROUP BY 1),
        |g2 AS (SELECT price_cents, gmax,
        |         max(gmax) OVER (ORDER BY price_cents
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS prevmax
        |       FROM g)
        |SELECT p.p_partkey, p.price_cents, p.p_size
        |FROM p JOIN g2 USING (price_cents)
        |WHERE p.p_size = g2.gmax
        |  AND (g2.prevmax IS NULL OR g2.gmax > g2.prevmax)""".stripMargin),

    // Zone-map pruning audit (round 12) — the data-skipping argument
    // behind every lake layout decision (parquet row-group min/max,
    // ORC stripe stats; Moerkotte's small materialized aggregates,
    // VLDB 1998): per-shard min/max "zone maps" let a selective scan
    // SKIP whole files. The audit COMPUTES the benefit of clustering
    // instead of asserting it: the same 64-shard corpus is laid out
    // twice — arrival order (round-robin on event_id: every shard
    // holds a value mix, so the selective predicate prunes almost
    // nothing) vs value-clustered (equal-MASS equi-depth buckets on
    // the compressed centi-value histogram — equal-WIDTH buckets
    // fail on this corpus's long tail, which is itself the lesson:
    // cluster by rank mass, not by range) — and both prune fractions
    // are reported with a computed clustered_wins cell (the
    // split_leakage convention). The predicate is the exact
    // nearest-rank p90 (winsorize's formula), so ~10% of rows match
    // by construction. All exact integers. 100 TB shape: the
    // cumulative rides the DISTINCT-centi-value compressed histogram
    // (the equidepth_hist layout; its _scale variant shows the
    // two-level form); zone maps are one (shard, max) agg; the
    // prune decision is a 64-row broadcast — exactly how a planner
    // consults file stats without touching data.
    Query("zonemap_prune", { (s, d) =>
      val S = 64
      val y = floor(col("value") * 100 + lit(0.5)).cast("long")
      val e = Tables.events(s, d).select(col("event_id"), y.as("y"))
        .localCheckpoint(true)
      val nTot = e.agg(count(lit(1)).as("n"))
      val wv = Window.orderBy(col("y"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val hb = e.groupBy(col("y")).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(wv))
        .crossJoin(broadcast(nTot))
        .select(col("y"),
          least(lit((S - 1).toLong),
            expr(s"((cum - 1) * $S) div n")).as("shard_clu"),
          col("cum"), col("n"))
        .localCheckpoint(true)
      val p90 = hb.filter(col("cum") >= expr("(9 * n + 9) div 10"))
        .agg(min(col("y")).as("p"))
      val laid = e.join(hb.select(col("y"), col("shard_clu")), "y")
        .crossJoin(broadcast(p90))
        .select(col("y"), col("p"),
          pmod(col("event_id"), lit(S.toLong)).as("shard_nat"),
          col("shard_clu"))
        .localCheckpoint(true)
      def audit(shardCol: String, nm: String): DataFrame = {
        val zones = laid.groupBy(col(shardCol).as("shard"))
          .agg(count(lit(1)).as("rows"), max(col("y")).as("zmax"),
            max(col("p")).as("p"))
        zones.agg(
          lit(nm).as("layout"),
          count(lit(1)).as("n_shards"),
          sum(when(col("zmax") < col("p"), 1L).otherwise(0L))
            .as("n_pruned"),
          sum(col("rows")).as("rows_total"),
          sum(when(col("zmax") >= col("p"), col("rows")).otherwise(0L))
            .as("rows_scanned"))
      }
      val nat = audit("shard_nat", "natural")
      val clu = audit("shard_clu", "clustered")
      val winner = clu.select(col("n_pruned").as("cp"))
        .crossJoin(nat.select(col("n_pruned").as("np")))
        .select((col("cp") > col("np")).as("clustered_wins"))
      nat.unionByName(clu).crossJoin(broadcast(winner))
        .selectExpr("layout", "n_shards", "n_pruned", "rows_total",
          "rows_scanned",
          "(2 * 1000000 * n_pruned + n_shards) div (2 * n_shards)" +
            " AS pruned_frac_x1e6",
          "clustered_wins")
    },
      // zonemap_prune: same two layouts (round-robin vs equi-depth on
      // the compressed histogram), exact nearest-rank p90 predicate,
      // per-shard max zone maps, prune fractions + computed winner.
      """WITH e AS (SELECT event_id,
        |             CAST(floor(value * 100 + 0.5) AS BIGINT) AS y
        |           FROM events),
        |nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
        |hb AS (SELECT y, sum(CAST(c AS BIGINT)) OVER (ORDER BY y
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |       FROM (SELECT y, count(*) AS c FROM e GROUP BY 1)),
        |hb2 AS (SELECT y, least(63, ((cum - 1) * 64) // nt.n)
        |          AS shard_clu, cum
        |        FROM hb CROSS JOIN nt),
        |p90 AS (SELECT min(y) AS p FROM hb2 CROSS JOIN nt
        |        WHERE cum >= (9 * nt.n + 9) // 10),
        |laid AS (SELECT e.y, p90.p,
        |           e.event_id % 64 AS shard_nat, h.shard_clu
        |         FROM e JOIN hb2 h USING (y) CROSS JOIN p90),
        |zn AS (SELECT shard_nat AS shard, CAST(count(*) AS BIGINT) AS nr,
        |              max(y) AS zmax, max(p) AS p
        |       FROM laid GROUP BY 1),
        |zc AS (SELECT shard_clu AS shard, CAST(count(*) AS BIGINT) AS nr,
        |              max(y) AS zmax, max(p) AS p
        |       FROM laid GROUP BY 1),
        |an AS (SELECT 'natural' AS layout,
        |         CAST(count(*) AS BIGINT) AS n_shards,
        |         CAST(sum(CASE WHEN zmax < p THEN 1 ELSE 0 END)
        |              AS BIGINT) AS n_pruned,
        |         CAST(sum(nr) AS BIGINT) AS rows_total,
        |         CAST(sum(CASE WHEN zmax >= p THEN nr ELSE 0 END)
        |              AS BIGINT) AS rows_scanned
        |       FROM zn),
        |ac AS (SELECT 'clustered' AS layout,
        |         CAST(count(*) AS BIGINT) AS n_shards,
        |         CAST(sum(CASE WHEN zmax < p THEN 1 ELSE 0 END)
        |              AS BIGINT) AS n_pruned,
        |         CAST(sum(nr) AS BIGINT) AS rows_total,
        |         CAST(sum(CASE WHEN zmax >= p THEN nr ELSE 0 END)
        |              AS BIGINT) AS rows_scanned
        |       FROM zc),
        |w AS (SELECT (ac.n_pruned > an.n_pruned) AS clustered_wins
        |      FROM ac, an)
        |SELECT layout, n_shards, n_pruned, rows_total, rows_scanned,
        |  (2 * 1000000 * n_pruned + n_shards) // (2 * n_shards)
        |    AS pruned_frac_x1e6,
        |  w.clustered_wins
        |FROM (SELECT * FROM an UNION ALL SELECT * FROM ac) u
        |CROSS JOIN w""".stripMargin),

    // Misra–Gries heavy hitters (ext.HeavyHitters): sketch-based token
    // frequency, ≤ k−1 counters per partition and on the driver
    // regardless of corpus size. The sketch's RETAINED SET and raw
    // estimates are partition-layout-dependent (like HLL) — but its
    // GUARANTEES are not: every token with true count > n/k is
    // provably retained, and estimates bracket truth as
    // true − n/k ≤ est ≤ true (Misra & Gries 1982; merge per Agarwal
    // et al. 2012). So the query emits the GUARANTEED set — the exact
    // frequencies of tokens above the n/k threshold (pure relational
    // algebra, DuckDB-replayable) — plus three TRUE-asserted guarantee
    // cells the oracle pins as literals (the approx_distinct /
    // hll_daily_union error-bound-boolean discipline): `retained`
    // (the sketch kept it), `no_overcount` (est ≤ true), `slack_ok`
    // ((true − est)·k ≤ n, cross-multiplied — no division). Any MG
    // implementation bug that loses a guaranteed hitter or inflates a
    // counter flips a cell and hash-fails. The exact branch GATES the
    // sketch at test scale; at 100 TB only the sketch path ships
    // (map-side fold to ≤ k−1 counters, sketches alone cross the
    // exchange — the exact groupBy here shuffles one row per distinct
    // token, which is the cost the sketch exists to avoid).
    Query("heavy_hitters", { (s, d) =>
      import s.implicits._
      val k = 40
      val toks = Tables.documents(s, d)
        .select(explode(TextOps.tokens(lower(col("text")))).as("token"))
        .localCheckpoint(true)
      val sketch = toks.as[String]
        .select(HeavyHitters.misraGries(k)) // typed select: global fold
        .toDF("hh")
        .select(explode(col("hh")).as("h"))
        .select(col("h._1").as("token"), col("h._2").as("est_count"))
      val n = toks.agg(count(lit(1)).as("n"))
      toks.groupBy(col("token")).agg(count(lit(1)).as("exact_count"))
        .crossJoin(broadcast(n))
        .filter(col("exact_count") * k > col("n"))
        .join(broadcast(sketch), Seq("token"), "left")
        .select(col("token"), col("exact_count"),
          col("est_count").isNotNull.as("retained"),
          coalesce(col("est_count") <= col("exact_count"), lit(false))
            .as("no_overcount"),
          coalesce((col("exact_count") - col("est_count")) * k <= col("n"),
            lit(false)).as("slack_ok"))
    },
      // heavy_hitters: the guaranteed set replays as exact relational
      // token counts above the n/k threshold (k = 40, cross-multiplied);
      // the three Misra–Gries guarantee cells are literal TRUE — a
      // sketch that loses a guaranteed hitter, overcounts, or drifts
      // past n/k flips one and hash-fails.
      """WITH toks AS (SELECT unnest(list_filter(
        |    string_split_regex(trim(lower(text)), '\s+'),
        |    x -> x <> '')) AS token FROM documents),
        |n AS (SELECT count(*) AS n FROM toks),
        |exact AS (SELECT token, count(*) AS exact_count FROM toks
        |          GROUP BY token)
        |SELECT token, exact_count, TRUE AS retained,
        |       TRUE AS no_overcount, TRUE AS slack_ok
        |FROM exact, n WHERE exact_count * 40 > n""".stripMargin),

    // Re-aggregatable distinct-count sketches: per-(type, day) HLL
    // sketches (the granularity a daily rollup job materializes), then
    // hll_union_agg + estimate per type — distinct users over ANY day
    // range without re-touching raw data. THE pattern that replaces
    // count(DISTINCT) at 100 TB: raw rows fold into fixed-size binary
    // sketches map-side; only sketches move from then on. Datasketches
    // estimates are implementation-specific (no cross-engine value
    // oracle), so the query emits the exact per-type counts plus an
    // ERROR-BOUND BOOLEAN the DuckDB oracle asserts as literal TRUE:
    // the union-of-366-daily-sketches estimate must land within 5% of
    // exact (lgK=14 → rsd 0.8%, so 5% is >6σ; register max-merge makes
    // the estimate partition-layout-invariant). The exact branch GATES
    // the sketch — at 100 TB only the sketch path ships.
    Query("hll_daily_union", { (s, d) =>
      val day = (Tables.tsUs - pmod(Tables.tsUs, lit(Tables.MicrosPerDay)))
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), day.as("day_us"))
        .agg(hll_sketch_agg(col("user_id"), lit(14)).as("sketch"))
      val unioned = daily.groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_days"),
          hll_sketch_estimate(hll_union_agg(col("sketch"))).as("au"))
      val exact = Tables.events(s, d).groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"))
      unioned.join(exact, Seq("event_type"))
        .select(col("event_type"), col("n_days"), col("n_users"),
          (abs(col("au") - col("n_users")) <=
            greatest(ceil(col("n_users") * lit(0.05)), lit(5L)))
            .as("union_est_ok"))
    },
      """WITH e AS (SELECT event_type,
        |             epoch_us(ts) - epoch_us(ts) % 86400000000 AS day_us,
        |             user_id
        |           FROM events)
        |SELECT event_type,
        |       count(DISTINCT day_us) AS n_days,
        |       count(DISTINCT user_id) AS n_users,
        |       TRUE AS union_est_ok
        |FROM e GROUP BY 1""".stripMargin),

    // One-pass table profiling — the "ANALYZE TABLE" governance op:
    // per-column null counts, ranges, and two exact distinct counts in
    // a single aggregate over the scan (multi-column distinct plans an
    // Expand: rows × #distinct-aggs, all map-side partials — one pass
    // over the fact table, no joins).
    Query("profile_table", { (s, d) =>
      Tables.lineitem(s, d).agg(
        count(lit(1)).as("n_rows"),
        sum(col("l_quantity").isNull.cast("long")).as("null_qty"),
        sum(col("l_shipdate").isNull.cast("long")).as("null_shipdate"),
        countDistinct(col("l_returnflag")).as("distinct_flags"),
        countDistinct(col("l_linestatus")).as("distinct_status"),
        min(col("l_quantity")).as("min_qty"), max(col("l_quantity")).as("max_qty"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
    },
      """SELECT count(*) AS n_rows,
        |  CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_qty,
        |  CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_shipdate,
        |  count(DISTINCT l_returnflag) AS distinct_flags,
        |  count(DISTINCT l_linestatus) AS distinct_status,
        |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        |  min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem""".stripMargin),

    // Equi-depth histogram — per-type deciles (equal ROW counts per
    // bin, unlike value_histogram's fixed widths): ntile(10) over a
    // TOTAL ordering (event_id tiebreak — ntile splits ties
    // arbitrarily otherwise), then bin ranges. One exchange + sort per
    // type — with only a handful of event types, a few partitions
    // carry the whole table through that sort, so this exact row-level
    // form is the SMALL-DATA member of a pair: equidepth_hist_scale
    // below is the 100 TB member (sort over the compressed histogram,
    // never the raw rows; approx_quantiles is the sketched third
    // option when even quantized cardinality is unbounded).
    Query("equidepth_hist", { (s, d) =>
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value"), col("event_id"))
      Tables.events(s, d)
        .select(col("event_type"), col("event_id"), col("value"))
        .withColumn("decile", ntile(10).over(w))
        .groupBy(col("event_type"), col("decile"))
        .agg(count(lit(1)).as("n"),
          round(min(col("value")), 4).as("lo"),
          round(max(col("value")), 4).as("hi"))
    },
      """WITH t AS (SELECT event_type, value,
        |             ntile(10) OVER (PARTITION BY event_type
        |                             ORDER BY value, event_id) AS decile
        |           FROM events)
        |SELECT event_type, decile, count(*) AS n,
        |       round(min(value), 4) AS lo,
        |       round(max(value), 4) AS hi
        |FROM t GROUP BY 1, 2""".stripMargin),

    // Equi-depth histogram, SCALE form — the classic two-level shape:
    // (1) quantize values to centi-units and hash-aggregate the
    // per-type histogram (map-side partials; the only pass over raw
    // rows), (2) run the cumulative window + decile assignment over
    // the COMPRESSED histogram — thousands of (type, quantum) rows,
    // not the table — then re-aggregate to bins. Deciles are assigned
    // by each quantum's starting row index (a quantum never splits
    // across bins: the quantization step is the histogram's stated
    // resolution), all in exact integer math, so the result is
    // engine-independent and hash-oracled — unlike an
    // approx_percentile variant. The per-type sort cost is
    // O(distinct quanta), flat in table size.
    Query("equidepth_hist_scale", { (s, d) =>
      val byQ = Window.partitionBy(col("event_type")).orderBy(col("q"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val byType = Window.partitionBy(col("event_type"))
      Tables.events(s, d)
        .select(col("event_type"),
          floor(col("value") * 100 + lit(0.5)).cast("long").as("q"))
        .groupBy(col("event_type"), col("q"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(byQ))
        .withColumn("total", sum(col("cnt")).over(byType))
        .withColumn("decile",
          least(lit(10L), lit(1L) + expr("((cum - cnt) * 10) div total")))
        .groupBy(col("event_type"), col("decile"))
        .agg(sum(col("cnt")).as("n"),
          (min(col("q")).cast("double") / 100.0).as("lo"),
          (max(col("q")).cast("double") / 100.0).as("hi"))
    },
      // All-integer until the closing /100.0 — engine-independent.
      """WITH q AS (SELECT event_type,
        |             CAST(floor(value * 100 + 0.5) AS BIGINT) AS q
        |           FROM events),
        |h AS (SELECT event_type, q, count(*) AS cnt FROM q GROUP BY 1, 2),
        |c AS (SELECT event_type, q, cnt,
        |        sum(cnt) OVER (PARTITION BY event_type ORDER BY q
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |        sum(cnt) OVER (PARTITION BY event_type) AS total
        |      FROM h),
        |b AS (SELECT event_type, cnt, q,
        |        CAST(least(10, 1 + ((cum - cnt) * 10) // total) AS BIGINT) AS decile
        |      FROM c)
        |SELECT event_type, decile, CAST(sum(cnt) AS BIGINT) AS n,
        |       CAST(min(q) AS DOUBLE) / 100.0 AS lo,
        |       CAST(max(q) AS DOUBLE) / 100.0 AS hi
        |FROM b GROUP BY 1, 2""".stripMargin),

    Query("skew_report", { (s, d) =>
      val counts = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n_rows"))
      val total = counts.agg(sum(col("n_rows")).as("total"))
      counts.crossJoin(broadcast(total))
        .select(col("l_orderkey"), col("n_rows"),
          round(col("n_rows").cast("double") / col("total"), 9).as("row_share"))
        .orderBy(col("n_rows").desc, col("l_orderkey"))
        .limit(20)
    },
      """WITH c AS (SELECT l_orderkey, count(*) AS n_rows
        |           FROM lineitem GROUP BY 1),
        |t AS (SELECT sum(n_rows) AS total FROM c)
        |SELECT l_orderkey, n_rows,
        |       round(CAST(n_rows AS DOUBLE) / total, 9) AS row_share
        |FROM c, t
        |ORDER BY n_rows DESC, l_orderkey LIMIT 20""".stripMargin),

    // Approximate percentiles (KLL-style sketch) next to the exact
    // `quantiles` oracle: the single-pass mergeable form that replaces
    // exact percentile's full per-group sort+materialization at scale.
    // Sketch VALUES are accuracy-parameter- and merge-order-dependent
    // (no cross-engine oracle), so the query emits RANK-BRACKET
    // BOOLEANS the DuckDB oracle asserts as literal TRUE: each approx
    // percentile must land between the exact percentiles at p∓0.02 —
    // a ±2% rank window, 200× the sketch's 1e-4 rank error, yet tight
    // enough that a wrong column / wrong pct / broken merge fails the
    // driver's hash gate. The bracket is SNAPPED OUTWARD to the
    // nearest ACTUAL elements: percentile_approx returns a data value,
    // while interpolated percentile fabricates one — for a small group
    // the open interpolated interval can contain no element at all,
    // flipping the cell on a CORRECT sketch. Snapping (largest element
    // ≤ lo, smallest ≥ hi, group min/max when none exists) makes the
    // bracket attainable at every group size without loosening it
    // where groups are large. The exact branch exists to GATE the
    // sketch (at 100 TB only the sketch path ships; `quantiles` is the
    // exact baseline query).
    Query("approx_quantiles", { (s, d) =>
      val ev = Tables.events(s, d).select(col("event_type"), col("value"))
      val bounds = ev.groupBy(col("event_type")).agg(
        expr("percentile(value, 0.23)").as("lo25"),
        expr("percentile(value, 0.27)").as("hi25"),
        expr("percentile(value, 0.48)").as("lo50"),
        expr("percentile(value, 0.52)").as("hi50"),
        expr("percentile(value, 0.88)").as("lo90"),
        expr("percentile(value, 0.92)").as("hi90"))
      def snapLo(t: String): Column =
        coalesce(max(when(col("value") <= col(s"lo$t"), col("value"))),
          min(col("value")))
      def snapHi(t: String): Column =
        coalesce(min(when(col("value") >= col(s"hi$t"), col("value"))),
          max(col("value")))
      def appr(p: Double): Column =
        percentile_approx(col("value"), lit(p), lit(10000))
      ev.join(broadcast(bounds), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          (appr(0.25) >= snapLo("25") && appr(0.25) <= snapHi("25"))
            .as("p25_ok"),
          (appr(0.5) >= snapLo("50") && appr(0.5) <= snapHi("50"))
            .as("p50_ok"),
          (appr(0.9) >= snapLo("90") && appr(0.9) <= snapHi("90"))
            .as("p90_ok"))
    },
      // Sketch-gating oracles: the exact columns replay relationally;
      // the *_ok booleans are asserted literal TRUE, so a Spark sketch
      // outside its bound flips the cell and fails the driver hash gate.
      """SELECT event_type, count(*) AS n,
        |       TRUE AS p25_ok, TRUE AS p50_ok, TRUE AS p90_ok
        |FROM events GROUP BY 1""".stripMargin),

    // KMV distinct sketch (round 15) — the k-minimum-values estimator
    // (Bar-Yossef et al. 2002; the theta-sketch core) completing the
    // sketch family with what HLL union / CMS / MG can't do: SET
    // ALGEBRA on distinct counts (union by sketch merge, intersection
    // by inclusion-exclusion). Two sets — customers ordering in 1995
    // vs 1996 — hashed by md5Hash60 (uniform on [0, 2^60)); each
    // sketch is the K = 256 smallest hashes (TakeOrdered — a bounded
    // heap, never a global sort), est = (K−1)·2^60 div h_(K) routed
    // through DECIMAL(38,0), degenerating to the EXACT count when the
    // set is smaller than K; the union sketch is the K smallest of
    // the two sketches' union (sketch-sized merge — the property that
    // makes KMV shippable from 1000 executors). Exact distinct counts
    // ride along as the calibration read (dropped at 100 TB — they
    // are what the sketch replaces); ok-cells pin ±20% by pure-integer
    // cross-multiplication, and every cell is md5-deterministic so
    // the oracle replays the whole estimate. 100 TB shape: one
    // distinct-key agg per set feeding a 256-row heap; merges and
    // estimates ride 256-row frames.
    Query("kmv_sketch", { (s, d) =>
      val K = 256
      val two60 = "1152921504606846976"
      def hashes(yr: Int) = Tables.orders(s, d)
        .filter(year(col("o_orderdate")) === yr)
        .select(col("o_custkey")).distinct()
        .select(Dedup.md5Hash60(concat(lit("kmv:"), col("o_custkey")))
          .as("h"))
        .localCheckpoint(true)
      val sa = hashes(1995)
      val sb = hashes(1996)
      def estSql(k: String, hk: String) =
        s"CASE WHEN $k < $K THEN $k ELSE " +
          s"CAST(CAST(${K - 1} AS DECIMAL(38,0)) * $two60 div $hk" +
          " AS BIGINT) END"
      def sketch(sx: DataFrame, p: String) =
        sx.orderBy(col("h")).limit(K)
          .agg(count(lit(1)).as(s"k_$p"), max(col("h")).as(s"hk_$p"))
          .crossJoin(sx.agg(count(lit(1)).as(s"n_$p")))
          .selectExpr(s"n_$p",
            s"${estSql(s"k_$p", s"hk_$p")} AS est_$p")
      val merged = sa.orderBy(col("h")).limit(K)
        .unionByName(sb.orderBy(col("h")).limit(K))
        .distinct().orderBy(col("h")).limit(K)
        .agg(count(lit(1)).as("k_u"), max(col("h")).as("hk_u"))
        .crossJoin(sa.unionByName(sb).distinct()
          .agg(count(lit(1)).as("n_union")))
        .selectExpr("n_union", s"${estSql("k_u", "hk_u")} AS est_union")
      sketch(sa, "a").crossJoin(sketch(sb, "b")).crossJoin(merged)
        .selectExpr("n_a", "est_a", "n_b", "est_b", "n_union",
          "est_union", "est_a + est_b - est_union AS est_intersect",
          "5 * abs(est_a - n_a) <= n_a AS a_ok",
          "5 * abs(est_b - n_b) <= n_b AS b_ok",
          "5 * abs(est_union - n_union) <= n_union AS union_ok")
    },
      // kmv_sketch: the same md5 axis, 256-row ORDER BY h LIMIT heaps,
      // HUGEINT estimate arithmetic and inclusion-exclusion replay
      // exactly; // ≡ div on the non-negative operands.
      """WITH ca AS (SELECT DISTINCT o_custkey FROM orders
        |            WHERE date_part('year', o_orderdate) = 1995),
        |cb AS (SELECT DISTINCT o_custkey FROM orders
        |       WHERE date_part('year', o_orderdate) = 1996),
        |ha AS (SELECT CAST('0x' || substr(md5('kmv:' ||
        |         CAST(o_custkey AS VARCHAR)), 1, 15) AS BIGINT) AS h
        |       FROM ca),
        |hb AS (SELECT CAST('0x' || substr(md5('kmv:' ||
        |         CAST(o_custkey AS VARCHAR)), 1, 15) AS BIGINT) AS h
        |       FROM cb),
        |ka AS (SELECT h FROM ha ORDER BY h LIMIT 256),
        |kb AS (SELECT h FROM hb ORDER BY h LIMIT 256),
        |ku AS (SELECT DISTINCT h FROM
        |         (SELECT h FROM ka UNION ALL SELECT h FROM kb)
        |       ORDER BY h LIMIT 256),
        |aa AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM ha) AS n_a,
        |         CAST(count(*) AS BIGINT) AS k_a,
        |         max(h) AS hk_a FROM ka),
        |bb AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM hb) AS n_b,
        |         CAST(count(*) AS BIGINT) AS k_b,
        |         max(h) AS hk_b FROM kb),
        |uu AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM
        |           (SELECT DISTINCT h FROM
        |             (SELECT h FROM ha UNION ALL SELECT h FROM hb)))
        |           AS n_union,
        |         CAST(count(*) AS BIGINT) AS k_u,
        |         max(h) AS hk_u FROM ku),
        |est AS (SELECT n_a,
        |         CASE WHEN k_a < 256 THEN k_a ELSE
        |           CAST(255 * CAST(1152921504606846976 AS HUGEINT)
        |                // hk_a AS BIGINT) END AS est_a,
        |         n_b,
        |         CASE WHEN k_b < 256 THEN k_b ELSE
        |           CAST(255 * CAST(1152921504606846976 AS HUGEINT)
        |                // hk_b AS BIGINT) END AS est_b,
        |         n_union,
        |         CASE WHEN k_u < 256 THEN k_u ELSE
        |           CAST(255 * CAST(1152921504606846976 AS HUGEINT)
        |                // hk_u AS BIGINT) END AS est_union
        |       FROM aa CROSS JOIN bb CROSS JOIN uu)
        |SELECT n_a, est_a, n_b, est_b, n_union, est_union,
        |       est_a + est_b - est_union AS est_intersect,
        |       5 * abs(est_a - n_a) <= n_a AS a_ok,
        |       5 * abs(est_b - n_b) <= n_b AS b_ok,
        |       5 * abs(est_union - n_union) <= n_union AS union_ok
        |FROM est""".stripMargin))
}
