package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.{Dedup, TextOps}

/** Graph queries over the deterministic document link graph: PageRank,
  * TrustRank, HITS, triangles, k-core, label propagation and TextRank.
  */
object GraphQueries {

  import QueryCommon._

  val all: Seq[Query] = Seq(
    // PageRank over a deterministic link graph (round 8; Brin & Page
    // 1998 — link authority is the CommonCrawl-style curation signal
    // alongside per-domain caps). The corpus has no link column, so
    // each doc links to 3 md5-derived targets (every byte derives from
    // the read-only corpus — the messyUrls convention). Exact-integer
    // fixed point: ranks at 1e6 scale, every division a truncating
    // BIGINT div on non-negative operands (Spark `div` ≡ DuckDB `//`),
    // damping 85/100, 5 unrolled iterations → bit-identical engines.
    // Shape at 100 TB: the edge table builds once map-side and is the
    // persisted graph; each iteration is ONE join+agg exchange pair
    // over (id, long) rows — rank state is never wide; iterations are
    // driver-synchronized like hierarchy_flatten's pointer doubling.
    Query("link_rank", { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val n = Tables.documents(s, d).agg(count(lit(1)).cast("long").as("n"))
      val edges = docs.crossJoin(broadcast(n))
        .select(col("doc_id").as("src"),
          explode(array((1 to 3).map(k =>
            Dedup.md5Hash60(concat(col("doc_id").cast("string"), lit(s":$k")))
              % col("n")): _*)).as("dst"))
        .localCheckpoint(true)
      // Five rounds as ONE nested plan — at this unroll depth Catalyst
      // handles the tree easily and a single job beats 5 sequential
      // checkpoint-materialized jobs 3× (SCALE.md probe). Past ~10s of
      // iterations the per-round localCheckpoint form becomes the
      // right trade (plan growth), as hierarchy_flatten does.
      var ranks = docs.crossJoin(broadcast(n))
        .selectExpr("doc_id", "1000000 div n AS r")
      for (_ <- 1 to 5) {
        val contrib = edges.join(ranks, edges("src") === ranks("doc_id"))
          .groupBy(col("dst")).agg(sum(expr("r div 3")).as("cs"))
        ranks = docs.crossJoin(broadcast(n))
          .join(contrib, col("doc_id") === col("dst"), "left")
          .selectExpr("doc_id", "n",
            "150000 div n + (85 * coalesce(cs, 0)) div 100 AS r")
          .select(col("doc_id"), col("r"))
      }
      ranks.select(col("doc_id"), col("r").as("rank_x1e6"))
    },
      {
        val hash = "CAST('0x' || substr(md5(CAST(src AS VARCHAR) || ':' || " +
          "CAST(k AS VARCHAR)), 1, 15) AS BIGINT)"
        val iters = (1 to 5).map { i =>
          s"""c$i AS (SELECT dst, sum(r // 3) AS cs
             |        FROM edges JOIN r${i - 1} ON r${i - 1}.doc_id = edges.src
             |        GROUP BY 1),
             |r$i AS (SELECT ids.doc_id,
             |          150000 // nn.n + (85 * coalesce(cs, 0)) // 100 AS r
             |        FROM ids CROSS JOIN nn LEFT JOIN c$i ON c$i.dst = ids.doc_id)"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
           |ids AS (SELECT doc_id FROM documents),
           |edges AS (SELECT doc_id AS src, $hash % nn.n AS dst
           |          FROM (SELECT doc_id AS src, doc_id FROM ids)
           |          CROSS JOIN nn
           |          CROSS JOIN (VALUES (1), (2), (3)) t(k)),
           |r0 AS (SELECT doc_id, 1000000 // nn.n AS r FROM ids CROSS JOIN nn),
           |$iters
           |SELECT doc_id, CAST(r AS BIGINT) AS rank_x1e6 FROM r5""".stripMargin
      }),

    // Seeded trust propagation (round 10) — TrustRank (Gyöngyi,
    // Garcia-Molina & Pedersen, VLDB 2004): link_rank with the uniform
    // restart vector replaced by a TRUSTED SEED distribution, the
    // quality-propagation move behind domain-trust curation (content
    // linked from vetted sources inherits trust; spam islands
    // unreachable from seeds decay to 0 — the uniform-restart
    // PageRank would still give them the damping floor). Seeds are
    // the md5-selected ~10% ("trust:"+id % 10 == 0 — the
    // hand-vetted-list stand-in, oracle-portable like every split in
    // this file); same deterministic 3-out-edge graph, same
    // exact-integer damping (r div 3 contributions, 85/100 damping,
    // 15% restart mass split over the SEEDS only). 100 TB shape
    // identical to link_rank: the rank frame is (id, long), each
    // round is one edge⋈rank join + agg, seed membership is a
    // map-side hash predicate — no extra state.
    Query("trust_rank", { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val n = Tables.documents(s, d).agg(count(lit(1)).cast("long").as("n"))
      val isSeed = pmod(Dedup.md5Hash60(
        concat(lit("trust:"), col("doc_id").cast("string"))), lit(10L)) === 0L
      val ns = docs.filter(isSeed).agg(count(lit(1)).cast("long").as("ns"))
      val edges = docs.crossJoin(broadcast(n))
        .select(col("doc_id").as("src"),
          explode(array((1 to 3).map(k =>
            Dedup.md5Hash60(concat(col("doc_id").cast("string"), lit(s":$k")))
              % col("n")): _*)).as("dst"))
        .localCheckpoint(true)
      var ranks = docs.crossJoin(broadcast(ns))
        .select(col("doc_id"),
          when(isSeed, expr("1000000 div ns")).otherwise(lit(0L)).as("r"))
      for (_ <- 1 to 5) {
        val contrib = edges.join(ranks, edges("src") === ranks("doc_id"))
          .groupBy(col("dst")).agg(sum(expr("r div 3")).as("cs"))
        ranks = docs.crossJoin(broadcast(ns))
          .join(contrib, col("doc_id") === col("dst"), "left")
          .select(col("doc_id"),
            (when(isSeed, expr("150000 div ns")).otherwise(lit(0L)) +
              expr("(85 * coalesce(cs, 0)) div 100")).as("r"))
      }
      ranks.select(col("doc_id"), col("r").as("trust_x1e6"))
    },
      // trust_rank: link_rank's chain with the restart mass on the
      // md5-selected seed set only.
      {
        val hash = "CAST('0x' || substr(md5(CAST(src AS VARCHAR) || ':' || " +
          "CAST(k AS VARCHAR)), 1, 15) AS BIGINT)"
        val iters = (1 to 5).map { i =>
          s"""c$i AS (SELECT dst, sum(r // 3) AS cs
             |        FROM edges JOIN r${i - 1} ON r${i - 1}.doc_id = edges.src
             |        GROUP BY 1),
             |r$i AS (SELECT sd.doc_id,
             |          CASE WHEN sd.is_seed THEN 150000 // ns.ns ELSE 0 END
             |            + (85 * coalesce(cs, 0)) // 100 AS r
             |        FROM sd CROSS JOIN ns LEFT JOIN c$i ON c$i.dst = sd.doc_id)"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
           |ids AS (SELECT doc_id FROM documents),
           |sd AS (SELECT doc_id,
           |         (CAST('0x' || substr(md5('trust:' || CAST(doc_id AS VARCHAR)),
           |               1, 15) AS BIGINT) % 10 = 0) AS is_seed
           |       FROM ids),
           |ns AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM sd WHERE is_seed),
           |edges AS (SELECT doc_id AS src, $hash % nn.n AS dst
           |          FROM (SELECT doc_id AS src, doc_id FROM ids)
           |          CROSS JOIN nn
           |          CROSS JOIN (VALUES (1), (2), (3)) t(k)),
           |r0 AS (SELECT sd.doc_id,
           |         CASE WHEN sd.is_seed THEN 1000000 // ns.ns ELSE 0 END AS r
           |       FROM sd CROSS JOIN ns),
           |$iters
           |SELECT doc_id, CAST(r AS BIGINT) AS trust_x1e6 FROM r5""".stripMargin
      }),

    // Triangle counting over link_rank's deterministic graph (round
    // 8) — the graph-structure curation signal (clustering/community
    // density) next to link authority. Degree-ordered orientation
    // (Cohen 2009 / Schank-Wagner "forward"): every undirected edge
    // points from its lower-(degree, id) endpoint to the higher, so
    // each triangle is counted EXACTLY once at its lowest vertex and —
    // the 100 TB point — wedge fan-out is bounded by oriented
    // out-degree, O(√m) worst case for any graph, instead of the
    // unoriented max degree (a celebrity node makes the naive wedge
    // join quadratic). Plan: one distinct exchange builds the edge
    // set (checkpointed for its three consumers), one co-partitioned
    // self-join on the wedge apex, one LEFT SEMI probe closes it.
    Query("graph_triangles", { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val n = Tables.documents(s, d).agg(count(lit(1)).cast("long").as("n"))
      val raw = docs.crossJoin(broadcast(n))
        .select(col("doc_id").as("u"),
          explode(array((1 to 3).map(k =>
            Dedup.md5Hash60(concat(col("doc_id").cast("string"), lit(s":$k")))
              % col("n")): _*)).as("v"))
      val und = raw.filter(col("u") =!= col("v"))
        .select(least(col("u"), col("v")).as("a"),
          greatest(col("u"), col("v")).as("b"))
        .distinct()
        .localCheckpoint(true)
      val deg = und.select(explode(array(col("a"), col("b"))).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("deg"))
      // a < b by construction, so the (deg, id) tie-break is a < b.
      val aFirst = col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b"))
      val o = und
        .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
        .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
        .select(
          when(aFirst, col("a")).otherwise(col("b")).as("src"),
          when(aFirst, col("b")).otherwise(col("a")).as("dst"),
          when(aFirst, col("db")).otherwise(col("da")).as("ddeg"))
        .localCheckpoint(true)
      val tri = o.as("o1").join(o.as("o2"),
          col("o1.src") === col("o2.src") &&
            (col("o1.ddeg") < col("o2.ddeg") ||
              (col("o1.ddeg") === col("o2.ddeg") &&
                col("o1.dst") < col("o2.dst"))))
        .select(col("o1.dst").as("w_src"), col("o2.dst").as("w_dst"))
        .join(o.select(col("src").as("w_src"), col("dst").as("w_dst")),
          Seq("w_src", "w_dst"), "left_semi")
      docs.agg(count(lit(1)).as("n_vertices"))
        .crossJoin(broadcast(und.agg(count(lit(1)).as("n_edges"))))
        .crossJoin(broadcast(tri.agg(count(lit(1)).as("n_triangles"))))
    },
      {
        val hash = "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || " +
          "CAST(k AS VARCHAR)), 1, 15) AS BIGINT)"
        s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
           |ids AS (SELECT doc_id FROM documents),
           |raw AS (SELECT doc_id AS u, $hash % nn.n AS v
           |        FROM ids CROSS JOIN nn
           |        CROSS JOIN (VALUES (1), (2), (3)) t(k)),
           |und AS (SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
           |        FROM raw WHERE u <> v),
           |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg
           |        FROM (SELECT a AS v FROM und
           |              UNION ALL SELECT b AS v FROM und)
           |        GROUP BY 1),
           |o AS (SELECT CASE WHEN da.deg < db.deg
           |                    OR (da.deg = db.deg AND a < b)
           |                  THEN a ELSE b END AS src,
           |             CASE WHEN da.deg < db.deg
           |                    OR (da.deg = db.deg AND a < b)
           |                  THEN b ELSE a END AS dst,
           |             CASE WHEN da.deg < db.deg
           |                    OR (da.deg = db.deg AND a < b)
           |                  THEN db.deg ELSE da.deg END AS ddeg
           |      FROM und JOIN deg da ON da.v = und.a
           |               JOIN deg db ON db.v = und.b),
           |tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
           |        FROM o o1 JOIN o o2 ON o1.src = o2.src
           |          AND (o1.ddeg < o2.ddeg
           |               OR (o1.ddeg = o2.ddeg AND o1.dst < o2.dst))
           |        WHERE EXISTS (SELECT 1 FROM o o3
           |                      WHERE o3.src = o1.dst AND o3.dst = o2.dst))
           |SELECT (SELECT CAST(count(*) AS BIGINT) FROM ids) AS n_vertices,
           |       (SELECT CAST(count(*) AS BIGINT) FROM und) AS n_edges,
           |       n_triangles
           |FROM tri""".stripMargin
      }),

    // TextRank keyword extraction (round 12) — Mihalcea & Tarau
    // (EMNLP 2004): PageRank over the token CO-OCCURRENCE graph
    // instead of a link graph — the unsupervised keyword/topic
    // extractor curation reports use next to phrase_detect's PMI
    // collocations (PMI finds PAIRS; TextRank ranks WORDS by graph
    // centrality). Vertices are ≥ 4-char lowercase tokens (the
    // content-word proxy for the paper's POS filter), undirected
    // edges are DISTINCT adjacent co-occurrences in the filtered
    // sequence (window 2), and 4 unrolled link_rank-style exact-
    // integer PR rounds (1e6-scaled ranks, r div deg contributions,
    // 85/100 damping — every division a truncating BIGINT div on
    // non-negative operands) make both engines bit-identical; top-20
    // by (rank, word) is a total order so the cut can't diverge.
    // 100 TB shape: one map-side zip_with pair derivation; the graph
    // is DISTINCT-edge-sized (vocabulary², bounded, never
    // corpus-sized); each round is one join+agg exchange pair over
    // (word, long) rows; the cut is a bounded TakeOrdered.
    Query("textrank_keywords", { (s, d) =>
      val toks = TextOps.tokens(lower(col("text")))
      val pairs = Dedup.rebalance(Tables.documents(s, d))
        .select(filter(toks, t => length(t) >= 4).as("ws"))
        .filter(size(col("ws")) >= 2)
        .select(explode(zip_with(
          slice(col("ws"), lit(1), greatest(size(col("ws")) - 1, lit(0))),
          slice(col("ws"), lit(2), greatest(size(col("ws")) - 1, lit(0))),
          (a, b) => struct(least(a, b).as("wa"), greatest(a, b).as("wb"))))
          .as("p"))
        .select(col("p.wa").as("wa"), col("p.wb").as("wb"))
        .filter(col("wa") =!= col("wb"))
        .distinct()
      val und = pairs.select(col("wa").as("src"), col("wb").as("dst"))
        .unionByName(pairs.select(col("wb").as("src"), col("wa").as("dst")))
        .localCheckpoint(true)
      val deg = und.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .localCheckpoint(true)
      val nV = deg.agg(count(lit(1)).cast("long").as("n"))
      val ed = und.join(deg, "src")
      var ranks = deg.crossJoin(broadcast(nV))
        .selectExpr("src AS w", "1000000 div n AS r")
      for (_ <- 1 to 4) {
        val contrib = ed.join(ranks, ed("src") === ranks("w"))
          .groupBy(col("dst")).agg(sum(expr("r div deg")).as("cs"))
        ranks = deg.select(col("src").as("w")).crossJoin(broadcast(nV))
          .join(contrib, col("w") === col("dst"), "left")
          .selectExpr("w", "150000 div n + (85 * coalesce(cs, 0)) div 100 AS r")
      }
      ranks.join(deg.select(col("src").as("w"), col("deg")), "w")
        .select(col("w").as("word"), col("deg").as("degree"),
          col("r").as("rank_x1e6"))
        .orderBy(col("rank_x1e6").desc, col("word")).limit(20)
    },
      // textrank_keywords: same filtered-token co-occurrence graph,
      // 4 unrolled exact-integer PR rounds (link_rank's constants),
      // top-20 under the (rank desc, word) total order.
      {
        def round(i: Int): String = {
          val prev = if (i == 1) "r0" else s"r${i - 1}"
          s"""c$i AS (SELECT u.dst, CAST(sum(r.r // d.deg) AS BIGINT) AS cs
             |  FROM und u JOIN deg d ON d.src = u.src
             |       JOIN $prev r ON r.w = u.src
             |  GROUP BY 1),
             |r$i AS (SELECT d.src AS w,
             |          150000 // n + (85 * coalesce(c.cs, 0)) // 100 AS r
             |        FROM deg d CROSS JOIN nv LEFT JOIN c$i c ON c.dst = d.src)"""
            .stripMargin
        }
        s"""WITH tk AS (
           |  SELECT list_filter(list_transform($ToksSql, t -> lower(t)),
           |                     t -> length(t) >= 4) AS ws
           |  FROM documents),
           |bg AS (SELECT least(ws[k], ws[k + 1]) AS wa,
           |              greatest(ws[k], ws[k + 1]) AS wb
           |       FROM (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS k
           |             FROM tk WHERE len(ws) >= 2)),
           |ed AS (SELECT DISTINCT wa, wb FROM bg WHERE wa <> wb),
           |und AS (SELECT wa AS src, wb AS dst FROM ed
           |        UNION ALL SELECT wb, wa FROM ed),
           |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
           |        FROM und GROUP BY 1),
           |nv AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
           |r0 AS (SELECT src AS w, 1000000 // n AS r FROM deg CROSS JOIN nv),
           |${(1 to 4).map(round).mkString(",\n")}
           |SELECT r4.w AS word, deg.deg AS degree,
           |       CAST(r4.r AS BIGINT) AS rank_x1e6
           |FROM r4 JOIN deg ON deg.src = r4.w
           |ORDER BY rank_x1e6 DESC, word LIMIT 20""".stripMargin
      }),

    // HITS hub/authority scores (round 10) — Kleinberg (JACM 1999)
    // over link_rank's deterministic 3-out-edge graph: the
    // two-sided authority signal (a page is a good hub if it points
    // at good authorities and vice versa) next to link_rank's
    // single-vector PageRank. Three unrolled mutual-reinforcement
    // rounds run UNNORMALIZED from hub=1, so every score is an exact
    // BIGINT path count (weighted in-/out-tree tallies) and no
    // division ever happens — the normalization constant cancels in
    // any downstream ranking use, and values stay ≤ (3·maxdeg)³,
    // comfortably inside BIGINT at any corpus size (Poisson-bounded
    // degrees). 100 TB shape identical to link_rank: the edge set
    // builds once map-side and checkpoints; each half-round is one
    // (id, long) join + agg exchange pair.
    Query("hits_scores", { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val n = Tables.documents(s, d).agg(count(lit(1)).cast("long").as("n"))
      val edges = docs.crossJoin(broadcast(n))
        .select(col("doc_id").as("src"),
          explode(array((1 to 3).map(k =>
            Dedup.md5Hash60(concat(col("doc_id").cast("string"), lit(s":$k")))
              % col("n")): _*)).as("dst"))
        .localCheckpoint(true)
      var hub = docs.select(col("doc_id"), lit(1L).as("hs"))
      var auth = docs.select(col("doc_id"), lit(0L).as("av"))
      for (_ <- 1 to 3) {
        val aRaw = edges.join(hub, edges("src") === hub("doc_id"))
          .groupBy(col("dst")).agg(sum(col("hs")).as("sum_a"))
        auth = docs.join(aRaw, col("doc_id") === col("dst"), "left")
          .select(col("doc_id"), coalesce(col("sum_a"), lit(0L)).as("av"))
        val hRaw = edges.join(auth, edges("dst") === auth("doc_id"))
          .groupBy(col("src")).agg(sum(col("av")).as("sum_h"))
        hub = docs.join(hRaw, col("doc_id") === col("src"), "left")
          .select(col("doc_id"), coalesce(col("sum_h"), lit(0L)).as("hs"))
      }
      auth.join(hub, "doc_id")
        .select(col("doc_id"), col("av").as("auth_score"),
          col("hs").as("hub_score"))
    },
      // hits_scores: link_rank's edge CTE, three unrolled unnormalized
      // mutual-reinforcement half-round pairs — pure BIGINT sums.
      {
        val hash = "CAST('0x' || substr(md5(CAST(src AS VARCHAR) || ':' || " +
          "CAST(k AS VARCHAR)), 1, 15) AS BIGINT)"
        val iters = (1 to 3).map { i =>
          s"""a$i AS (SELECT ids.doc_id, CAST(coalesce(t.v, 0) AS BIGINT) AS av
             |        FROM ids LEFT JOIN (
             |          SELECT dst, sum(hs) AS v FROM edges
             |          JOIN h${i - 1} ON h${i - 1}.doc_id = edges.src
             |          GROUP BY 1) t ON t.dst = ids.doc_id),
             |h$i AS (SELECT ids.doc_id, CAST(coalesce(t.v, 0) AS BIGINT) AS hs
             |        FROM ids LEFT JOIN (
             |          SELECT src, sum(av) AS v FROM edges
             |          JOIN a$i ON a$i.doc_id = edges.dst
             |          GROUP BY 1) t ON t.src = ids.doc_id)""".stripMargin
        }.mkString(",\n")
        s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
           |ids AS (SELECT doc_id FROM documents),
           |edges AS (SELECT doc_id AS src, $hash % nn.n AS dst
           |          FROM (SELECT doc_id AS src, doc_id FROM ids)
           |          CROSS JOIN nn
           |          CROSS JOIN (VALUES (1), (2), (3)) t(k)),
           |h0 AS (SELECT doc_id, CAST(1 AS BIGINT) AS hs FROM ids),
           |$iters
           |SELECT a3.doc_id, a3.av AS auth_score, h3.hs AS hub_score
           |FROM a3 JOIN h3 ON a3.doc_id = h3.doc_id""".stripMargin
      }),

    // Label-propagation communities (round 10) — Raghavan, Albert &
    // Kumara (Phys. Rev. E 2007), made DETERMINISTIC: synchronous
    // updates, each node adopting its neighbors' MODE label with the
    // (count desc, label asc) tie-break, 3 unrolled rounds from
    // singleton labels over the undirected link graph. The density
    // community signal next to dedup_groups' pure connectivity (CC
    // merges everything reachable; LPA keeps weakly-bridged regions
    // apart). The per-node argmax is NOT a window sort: mode selection
    // aggregates as max(struct(c, -lab)) — partial-aggregable, so
    // each round's shuffle carries (node, lab) partial counts, then
    // node-sized maxima; label frames are (id, long) rows throughout.
    // 100 TB shape: the adjacency builds once map-side and
    // checkpoints; each round is two partial+final agg exchanges —
    // the link_rank envelope with the window eliminated.
    // k-core decomposition (round 11) — Seidman (1983): the maximal
    // subgraph where every vertex keeps degree ≥ k, THE density filter
    // beside label_prop's communities and dedup_groups' connectivity
    // (link-farm cores, tightly-quoted doc clusters). Peeling made
    // deterministic and bounded: 6 unrolled rounds over link_rank's
    // deterministic undirected graph, each round recomputing degrees
    // within the surviving set and dropping vertices below k = 4
    // (the graph's ~6-mean degree distribution gives k = 4 real
    // peeling work AND a large surviving core; fixpoint lands at
    // round 5 at sf0.1, measured); the
    // output carries a `stable` cell (TRUE iff a further round would
    // remove nobody — the fixpoint certificate, asserted in the spec)
    // so bounded unrolling can never silently under-peel. 100 TB
    // shape: the edge set builds map-side once and checkpoints; each
    // round is two semi-joins against the (id)-sized survivor frame +
    // one count agg — rounds ride vertex/edge cardinality, and real
    // peels converge in few rounds (degrees only shrink).
    Query("kcore_decomp", { (s, d) =>
      val kk = 4; val rounds = 6
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val n = Tables.documents(s, d).agg(count(lit(1)).cast("long").as("n"))
      val dir = docs.crossJoin(broadcast(n))
        .select(col("doc_id").as("src"),
          explode(array((1 to 3).map(k =>
            Dedup.md5Hash60(concat(col("doc_id").cast("string"), lit(s":$k")))
              % col("n")): _*)).as("dst"))
        .filter(col("src") =!= col("dst"))
      val und = dir.select(col("src").as("a"), col("dst").as("b"))
        .unionByName(dir.select(col("dst").as("a"), col("src").as("b")))
        .distinct()
        .localCheckpoint(true)
      def degrees(surv: DataFrame): DataFrame =
        und.join(surv.withColumnRenamed("v", "a"), "a")
          .join(surv.select(col("v").as("b")), "b")
          .groupBy(col("a")).agg(count(lit(1)).as("deg"))
      var surv = docs.select(col("doc_id").as("v"))
      for (_ <- 1 to rounds)
        surv = degrees(surv).filter(col("deg") >= kk)
          .select(col("a").as("v")).localCheckpoint(true)
      val degF = degrees(surv).localCheckpoint(true)
      degF.crossJoin(broadcast(degF.agg(
          max(when(col("deg") < kk, 1L).otherwise(0L)).as("unstable"))))
        .select(col("a").as("doc_id"), col("deg"),
          (coalesce(col("unstable"), lit(0L)) === 0L).as("stable"))
    },
      // kcore_decomp: same deterministic graph, 6 unrolled peeling
      // rounds (matching the Spark side's rounds = 6), final degrees +
      // the fixpoint certificate.
      {
        val hash = "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || " +
          "CAST(k AS VARCHAR)), 1, 15) AS BIGINT)"
        val roundsSql = (1 to 6).map { r =>
          val p = r - 1
          s"""d$r AS (SELECT a, CAST(count(*) AS BIGINT) AS deg FROM und
             |        JOIN s$p x ON x.v = und.a JOIN s$p y ON y.v = und.b
             |        GROUP BY 1),
             |s$r AS (SELECT a AS v FROM d$r WHERE deg >= 4)""".stripMargin
        }.mkString(",\n")
        s"""WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
           |dir AS (SELECT doc_id AS src, $hash % n.n AS dst
           |        FROM documents CROSS JOIN n
           |        CROSS JOIN (VALUES (1), (2), (3)) t(k)),
           |und AS (SELECT DISTINCT a, b FROM (
           |          SELECT src AS a, dst AS b FROM dir WHERE src <> dst
           |          UNION ALL SELECT dst, src FROM dir WHERE src <> dst)),
           |s0 AS (SELECT doc_id AS v FROM documents),
           |$roundsSql,
           |df AS (SELECT a, CAST(count(*) AS BIGINT) AS deg FROM und
           |       JOIN s6 x ON x.v = und.a JOIN s6 y ON y.v = und.b
           |       GROUP BY 1),
           |u AS (SELECT CAST(coalesce(max(CASE WHEN deg < 4 THEN 1 ELSE 0 END), 0)
           |             AS BIGINT) AS unstable FROM df)
           |SELECT a AS doc_id, deg, (unstable = 0) AS stable
           |FROM df CROSS JOIN u""".stripMargin
      }),

    Query("label_prop", { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val n = Tables.documents(s, d).agg(count(lit(1)).cast("long").as("n"))
      val und = docs.crossJoin(broadcast(n))
        .select(col("doc_id").as("u"),
          explode(array((1 to 3).map(k =>
            Dedup.md5Hash60(concat(col("doc_id").cast("string"), lit(s":$k")))
              % col("n")): _*)).as("v"))
        .filter(col("u") =!= col("v"))
        .select(least(col("u"), col("v")).as("a"),
          greatest(col("u"), col("v")).as("b"))
        .distinct()
      val nbr = und.select(col("a").as("node"), col("b").as("other"))
        .unionByName(und.select(col("b").as("node"), col("a").as("other")))
        .localCheckpoint(true)
      var labels = docs.select(col("doc_id"), col("doc_id").as("lab"))
      for (_ <- 1 to 3) {
        val cnt = nbr
          .join(labels.select(col("doc_id").as("other"), col("lab")), "other")
          .groupBy(col("node"), col("lab")).agg(count(lit(1)).as("c"))
        val pick = cnt.groupBy(col("node"))
          .agg(max(struct(col("c"), (-col("lab")).as("nl"))).as("m"))
          .select(col("node"), (-col("m.nl")).as("plab"))
        labels = docs.join(pick, col("doc_id") === col("node"), "left")
          .select(col("doc_id"),
            coalesce(col("plab"), col("doc_id")).as("lab"))
      }
      val sizes = labels.groupBy(col("lab")).agg(count(lit(1)).as("csize"))
      labels.join(sizes, "lab")
        .select(col("doc_id"), col("lab").as("community"), col("csize"))
    },
      // label_prop: same undirected edge set, three unrolled synchronous
      // LPA rounds, mode via row_number (count desc, label asc).
      {
        val hash = "CAST('0x' || substr(md5(CAST(src AS VARCHAR) || ':' || " +
          "CAST(k AS VARCHAR)), 1, 15) AS BIGINT)"
        val iters = (1 to 3).map { i =>
          s"""c$i AS (SELECT node, lab, CAST(count(*) AS BIGINT) AS c
             |        FROM nbr JOIN l${i - 1} ON l${i - 1}.doc_id = nbr.other
             |        GROUP BY 1, 2),
             |p$i AS (SELECT node, lab FROM (
             |          SELECT node, lab, row_number() OVER (
             |            PARTITION BY node ORDER BY c DESC, lab) AS rn
             |          FROM c$i) WHERE rn = 1),
             |l$i AS (SELECT ids.doc_id, coalesce(p$i.lab, ids.doc_id) AS lab
             |        FROM ids LEFT JOIN p$i ON p$i.node = ids.doc_id)"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
           |ids AS (SELECT doc_id FROM documents),
           |raw AS (SELECT src AS u, $hash % nn.n AS v
           |        FROM (SELECT doc_id AS src FROM ids)
           |        CROSS JOIN nn
           |        CROSS JOIN (VALUES (1), (2), (3)) t(k)),
           |ue AS (SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
           |       FROM raw WHERE u <> v),
           |nbr AS (SELECT a AS node, b AS other FROM ue
           |        UNION ALL SELECT b, a FROM ue),
           |l0 AS (SELECT doc_id, doc_id AS lab FROM ids),
           |$iters,
           |sizes AS (SELECT lab, CAST(count(*) AS BIGINT) AS csize
           |          FROM l3 GROUP BY 1)
           |SELECT l3.doc_id, l3.lab AS community, csize
           |FROM l3 JOIN sizes USING (lab)""".stripMargin
      }))
}
