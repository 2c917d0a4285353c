package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.{Dedup, Packing, Retrieval, TextOps, VectorOps}

/** Lexical and hybrid retrieval queries: BM25/TF-IDF top-k, rank fusion,
  * RAG pipelines, reranking, query expansion and ranking metrics.
  */
object RetrievalQueries {

  import QueryCommon._

  /** nDCG@10 discount weights floor(1e9·ln2/ln(r+1)+0.5), r = 1..10 —
    * computed ONCE here and injected as literals into both the
    * `rag_pipeline` Spark plan and its DuckDB oracle (a full
    * recompute, so runtime ln() on each side would gamble on
    * cross-engine libm rounding; ten constants don't). */
  private val RagNdcgWeights: Seq[Long] = (1 to 10)
    .map(r => math.floor(1e9 * math.log(2) / math.log(r + 1.0) + 0.5).toLong)

  /** The hybrid-retrieval plant construction and the three per-query
    * rankings (lexical, dense, RRF-fused top-10 with rank) shared by
    * `hybrid_rrf` and `retrieval_ndcg` — see `hybrid_rrf`'s comment
    * for why every downstream cell is pinned at any SF. */
  private def hybridRankings(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
      val nQ = 5
      val qbase = Tables.embeddings(s, d).filter(col("vec_id") < nQ)
        .select(col("vec_id").as("qid"),
          transform(col("embedding"), x => (x + lit(0.01)).cast("float"))
            .as("qv"))
        .localCheckpoint(true)
      val qt = concat_ws(" ", transform(sequence(lit(1), lit(20)),
        i => concat(lit("hq"), col("qid"), lit("t"), i)))
      val withJ = qbase.select(col("qid"), col("qv"),
        explode(sequence(lit(1), lit(3))).as("j"))
      // --- planted documents (text side) ---
      val selfD = qbase.select((col("qid") + 9000000L).as("doc_id"),
        qt.as("text"))
      val lexD = withJ.select(
        (lit(9100000L) + col("qid") * 10 + col("j")).as("doc_id"),
        concat(qt, lit(" zz"), col("qid"), lit("x"), col("j")).as("text"))
      val denseD = withJ.select(
        (lit(9200000L) + col("qid") * 10 + col("j")).as("doc_id"),
        concat(lit("dd"), col("qid"), lit("x"), col("j")).as("text"))
      val bothD = withJ.select(
        (lit(9300000L) + col("qid") * 10 + col("j")).as("doc_id"),
        qt.as("text"))
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        .unionByName(selfD).unionByName(lexD).unionByName(denseD)
        .unionByName(bothD)
      // --- planted vectors (dense side) ---
      def perturb(base: Column, delta: Column) =
        transform(base, x => (x + delta).cast("float"))
      val selfV = qbase.select((col("qid") + 9000000L).as("vec_id"),
        col("qv").as("v"))
      val lexV = withJ.select(
        (lit(9100000L) + col("qid") * 10 + col("j")).as("vec_id"),
        transform(col("qv"), x => (-x).cast("float")).as("v"))
      val denseV = withJ.select(
        (lit(9200000L) + col("qid") * 10 + col("j")).as("vec_id"),
        perturb(col("qv"), col("j") * lit(0.001)).as("v"))
      val bothV = withJ.select(
        (lit(9300000L) + col("qid") * 10 + col("j")).as("vec_id"),
        perturb(col("qv"), col("j") * lit(0.002)).as("v"))
      val vecs = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").as("v"))
        .unionByName(selfV).unionByName(lexV).unionByName(denseV)
        .unionByName(bothV)
        .select(col("vec_id"),
          VectorOps.quantize1000(col("v").cast("array<double>")).as("q"))
        .localCheckpoint(true)
      // --- lexical path: tf-idf of the query's terms, top-10 ---
      // Round-20 shape: the scored rows only ever involve the ≤ 100
      // query terms, so the broadcast probe moves BEFORE the (doc,
      // term) exchange (guide §2.3) — no corpus-scale tf checkpoint.
      // df per query term and n_docs (docs with ≥ 1 token — explode's
      // row support) re-derive exactly; Σ tf·w ≡ summing w per matched
      // token instance, exact integers.
      val toksL = Dedup.rebalance(docs)
        .select(col("doc_id"),
          explode(TextOps.tokens(lower(col("text")))).as("term"))
      val qterms = qbase.select(col("qid"),
          explode(split(lower(qt), " ")).as("term"))
      val qtf = toksL.join(broadcast(qterms), "term")
        .groupBy(col("qid"), col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
        .localCheckpoint(true)
      // df invariantly as distinct docs per term (ADVICE r20): equals
      // the row count while query vocabularies are qid-unique, and
      // stays a document frequency if a future construction shares a
      // term across qids. qtf is probe-bounded; cost is nil.
      val dfreq = qtf.groupBy(col("term"))
        .agg(countDistinct(col("doc_id")).as("df"))
      val totals = docs
        .filter(size(TextOps.tokens(lower(col("text")))) >= 1)
        .agg(count(lit(1)).as("n_docs"))
      val lexScored = qtf
        .join(broadcast(dfreq), "term")
        .crossJoin(broadcast(totals))
        .groupBy(col("qid").as("query_id"), col("doc_id"))
        .agg(sum(col("tf") *
          floor(log(col("n_docs").cast("double") / col("df").cast("double"))
            * 1e6 + 0.5).cast("long")).as("score_x1e6"))
      val wq = Window.partitionBy("query_id")
      val lexRank = graft.plans.TopKPerKey.perKey(lexScored,
          keys = Seq(col("query_id")),
          order = Seq(col("score_x1e6").desc, col("doc_id")), k = 10)
        .select(col("query_id"), col("doc_id"),
          row_number().over(wq.orderBy(col("score_x1e6").desc,
            col("doc_id"))).as("rank"))
      // --- dense path: exact integer L2 over quantized vectors ---
      val qq = qbase.select(col("qid"),
        VectorOps.quantize1000(col("qv").cast("array<double>")).as("qq"))
      val denseScored = vecs.crossJoin(broadcast(qq))
        .select(col("qid").as("query_id"), col("vec_id").as("doc_id"),
          VectorOps.idist2(col("q"), col("qq")).as("d2"))
      val denseRank = graft.plans.TopKPerKey.perKey(denseScored,
          keys = Seq(col("query_id")),
          order = Seq(col("d2"), col("doc_id")), k = 10)
        .select(col("query_id"), col("doc_id"),
          row_number().over(wq.orderBy(col("d2"), col("doc_id")))
            .as("rank"))
      // --- fuse + recall cells over the planted relevant set ---
      val fused = Retrieval.rrfFuse(Seq(lexRank, denseRank), k = 10)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("query_id")
            .orderBy(col("rrf_x1e12").desc, col("doc_id"))))
      (lexRank, denseRank, fused)
  }

  val all: Seq[Query] = Seq(
    // MMR diversified re-ranking (round 14) — Carbonell & Goldstein
    // 1998, the retrieval-diversification operator the rerank family
    // lacked (rag_rerank re-scores, THIS trades relevance against
    // redundancy): greedily pick k = 10 of the top-30 relevance
    // candidates maximizing 7·rel − 3·maxsim (λ = 0.7 at denominator
    // 10, dropped — integer compares), where maxsim is the picked
    // set's best dot to the candidate. All similarity is the exact
    // milli-quantized integer dot (LongDot kernel on the scan); the
    // greedy runs DRIVER-SIDE on the 30-candidate model frame (the
    // kmeans/colbert collect discipline — selection state is 30×64
    // longs, never data), and the oracle replays it as TEN unrolled
    // argmax CTEs over the 30×30 dot matrix (the link_rank unrolled-
    // rounds convention — no recursion, both engines exact). Ties:
    // higher score then smaller vec_id, total. 100 TB shape: one scan
    // + TakeOrdered(30) is the only distributed work; MMR cost is
    // O(k·C) on the driver at any corpus size.
    Query("mmr_rerank", { (s, d) =>
      import s.implicits._
      val q = Tables.embeddings(s, d)
        .select(col("vec_id"),
          VectorOps.quantize1000(col("embedding").cast("array<double>"))
            .as("qv"))
        .localCheckpoint(true)
      val qvec = q.filter(col("vec_id") === 0)
        .select(col("qv")).head.getSeq[Long](0).toArray
      val cands = q.filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          graft.ext.expr.LongDot.longDot(col("qv"),
            typedLit(qvec.toSeq)).as("rel"), col("qv"))
        .orderBy(col("rel").desc, col("vec_id"))
        .limit(30)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1),
          r.getSeq[Long](2).toArray))
      def dot(a: Array[Long], b: Array[Long]): Long = {
        var i = 0; var acc = 0L
        while (i < a.length) { acc += a(i) * b(i); i += 1 }
        acc
      }
      val picked = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long, Long, Long)] // rank, id, rel, ms, score
      val remaining = scala.collection.mutable.ArrayBuffer(cands: _*)
      (1 to 10).foreach { rank =>
        val scored = remaining.map { case (id, rel, v) =>
          val ms = if (picked.isEmpty) 0L
            else picked.map(p => dot(v,
              cands.find(_._1 == p._2).get._3)).max
          (id, rel, ms, 7L * rel - 3L * ms)
        }
        val best = scored.minBy { case (id, _, _, sc) => (-sc, id) }
        picked += ((rank.toLong, best._1, best._2, best._3, best._4))
        remaining.remove(remaining.indexWhere(_._1 == best._1))
      }
      picked.toSeq
        .toDF("rank", "vec_id", "rel_dot", "maxsim_dot", "mmr_score")
    },
      // mmr_rerank: ten unrolled argmax CTEs over the 30x30 exact dot
      // matrix — machine-generated, no recursion, identical tie-break.
      {
        val steps = (2 to 10).map { i =>
          val p = i - 1
          s"""cand$i AS MATERIALIZED (SELECT c.id, c.rel, max(d.dot) AS ms
             |  FROM cand c JOIN dots d ON d.a = c.id
             |    AND d.b IN (SELECT id FROM sel$p)
             |  WHERE c.id NOT IN (SELECT id FROM sel$p)
             |  GROUP BY 1, 2),
             |s$i AS MATERIALIZED (SELECT id, rel, ms FROM cand$i
             |  ORDER BY 7 * rel - 3 * ms DESC, id LIMIT 1),
             |sel$i AS MATERIALIZED (SELECT id FROM sel$p
             |  UNION ALL SELECT id FROM s$i)"""
            .stripMargin
        }.mkString(",\n")
        val unions = (2 to 10).map(i =>
          s"UNION ALL SELECT $i, id, rel, ms, 7 * rel - 3 * ms FROM s$i")
          .mkString("\n")
        s"""WITH vecs AS MATERIALIZED (SELECT vec_id,
           |    list_transform(CAST(embedding AS DOUBLE[]),
           |      x -> CAST(floor(x * 1000 + 0.5) AS BIGINT)) AS q
           |  FROM embeddings),
           |qv AS (SELECT q FROM vecs WHERE vec_id = 0),
           |rels AS (SELECT v.vec_id AS id,
           |    CAST(list_sum(list_transform(generate_series(1, len(v.q)),
           |      i -> v.q[i] * qv.q[i])) AS BIGINT) AS rel
           |  FROM vecs v, qv WHERE v.vec_id <> 0),
           |cand AS MATERIALIZED (SELECT r.id, r.rel, v.q
           |         FROM rels r JOIN vecs v ON v.vec_id = r.id
           |         ORDER BY r.rel DESC, r.id LIMIT 30),
           |dims AS (SELECT id, unnest(q) AS val,
           |           generate_subscripts(q, 1) AS dim FROM cand),
           |dots AS MATERIALIZED (SELECT a.id AS a, b.id AS b,
           |    CAST(sum(a.val * b.val) AS BIGINT) AS dot
           |  FROM dims a JOIN dims b USING (dim) WHERE a.id <> b.id
           |  GROUP BY 1, 2),
           |s1 AS MATERIALIZED (SELECT id, rel FROM cand
           |  ORDER BY rel DESC, id LIMIT 1),
           |sel1 AS MATERIALIZED (SELECT id FROM s1),
           |$steps
           |SELECT CAST(1 AS BIGINT) AS rank, id AS vec_id,
           |       rel AS rel_dot, CAST(0 AS BIGINT) AS maxsim_dot,
           |       7 * rel AS mmr_score
           |FROM s1
           |$unions""".stripMargin
      }),

    // Hybrid retrieval fusion (round 11) — lexical (tf-idf) and dense
    // (integer-L2 over milli-quantized embeddings) top-10 retrieval
    // fused by exact-integer reciprocal-rank fusion (ext.Retrieval;
    // Cormack et al. 2009). Plants make the recall bound REAL and the
    // cells pinnable at any SF: per query (5 synthetic query docs with
    // UNIQUE vocabulary, embeddings = corpus vec + 0.01), 3 LEX-ONLY
    // relevants (query text + extra tokens; negated embedding — dense
    // can never see them), 3 DENSE-ONLY (disjoint text; embedding
    // within 3 milli-units — lexical can never see them), 3 BOTH.
    // Unique query vocabulary means exactly 7 docs lexically match
    // (no corpus interference possible), and corpus embeddings are
    // near-orthogonal (closest corpus vector sits ~1e6 milli² away vs
    // the plants' ≤ ~2.5e3), so lex_hits = 6, dense_hits = 6 — and
    // the fused top-10 provably contains ALL NINE relevants (the 4
    // two-path docs outscore every single-path score ≥ S(7)+S(7) >
    // S(2); the 6 single-path plants hold ranks 2..7 of their lists,
    // beating the rank-8+ noise) — fused recall strictly ABOVE both
    // single paths, the ann_recall-style bound cell asserted TRUE.
    // 100 TB shape: lexical rides the (doc,term) tf frame with the
    // 100-term query set broadcast; dense is the brute-force kernel
    // over quantized vectors (swap in the IVF path at scale — fusion
    // only sees per-query top-k frames either way); fusion itself is
    // output-sized (see ext.Retrieval).
    Query("hybrid_rrf", { (s, d) =>
      val (lexRank, denseRank, fused) = hybridRankings(s, d)
      val isRel = col("doc_id") >= 9100000L && col("doc_id") < 9400000L
      def hits(r: DataFrame) = r.groupBy(col("query_id"))
        .agg(sum(when(isRel, 1L).otherwise(0L)))
      val lexH = hits(lexRank).toDF("query_id", "lex_hits")
      val denseH = hits(denseRank).toDF("query_id", "dense_hits")
      val fusedH = hits(fused).toDF("query_id", "fused_hits")
      lexH.join(denseH, "query_id").join(fusedH, "query_id")
        .select(col("query_id"), lit(9L).as("n_rel"), col("lex_hits"),
          col("dense_hits"), col("fused_hits"),
          (col("fused_hits") >= greatest(col("lex_hits"), col("dense_hits")))
            .as("fused_ok"))
    },
      // hybrid_rrf: the plant construction pins every cell at any SF
      // (unique query vocabulary → exactly 7 lexical matches; corpus
      // embeddings near-orthogonal → the 6 dense plants own ranks 2-7;
      // the fused top-10 provably holds all 9 relevants) — the
      // ann_recall convention: the Spark side computes the retrievals
      // and the fusion for real, the oracle asserts the invariant cells.
      """SELECT CAST(vec_id AS BIGINT) AS query_id,
        |       CAST(9 AS BIGINT) AS n_rel,
        |       CAST(6 AS BIGINT) AS lex_hits, CAST(6 AS BIGINT) AS dense_hits,
        |       CAST(9 AS BIGINT) AS fused_hits, TRUE AS fused_ok
        |FROM embeddings WHERE vec_id < 5""".stripMargin),

    // Retrieval-quality metric (round 11) — nDCG@10 over the three
    // hybrid paths: the standard graded-ranking metric (Järvelin &
    // Kekäläinen 2002) the recall cells of hybrid_rrf can't express
    // (nDCG rewards putting relevants EARLY, not just in the cutoff).
    // Binary gains over the planted relevant set; discount weights
    // floor(1e9·ln2/ln(r+1) + 0.5) — ten constants both engines
    // derive identically — summed per query and HALF_UP-normalized by
    // the ideal DCG of 9 relevants. The plant construction pins every
    // value (relevants hold ranks 2-7 of each single path, 2-10 of
    // the fused list — see hybrid_rrf), so the oracle asserts the
    // exact nDCG cells; fused strictly beats both single paths.
    // MRR + precision@5 (round 15) — the rank-position retrieval
    // metrics beside retrieval_ndcg's graded gain (MRR = where does
    // the FIRST relevant hit land; P@5 = how much of the early window
    // is relevant): over the same three per-query rankings (lexical,
    // dense, RRF-fused) and the same planted relevance set, so every
    // cell is pinned at any SF by the hybridRankings construction.
    // RR = HALF_UP(1e6 / first_relevant_rank) exact (0 when no
    // relevant doc ranks), P@5 an exact count. 100 TB shape: rides
    // hybridRankings' existing top-10 frames — three ≤50-row model
    // frames, map-side metric algebra.
    Query("mrr_prec_at_k", { (s, d) =>
      val (lexRank, denseRank, fused) = hybridRankings(s, d)
      val isRel = col("doc_id") >= 9100000L && col("doc_id") < 9400000L
      def stats(r: DataFrame, p: String) = r.groupBy(col("query_id"))
        .agg(min(when(isRel, col("rank"))).as("fr"),
          sum(when(isRel && col("rank") <= 5, 1L).otherwise(0L))
            .as(s"${p}_p5"))
        .selectExpr("query_id",
          s"CAST(coalesce((2 * 1000000 + fr) div (2 * fr), 0) AS BIGINT)" +
            s" AS ${p}_rr_x1e6", s"${p}_p5")
      stats(lexRank, "lex").join(stats(denseRank, "dense"), "query_id")
        .join(stats(fused, "fused"), "query_id")
    },
      // mrr_prec_at_k: the plant construction pins the cells — each
      // path's first relevant sits at rank 2 (rank 1 is the query doc
      // itself), so RR = HALF_UP(1e6/2) = 500000 on all three paths,
      // and ranks 2-5 of every list are relevant, so P@5 = 4. A ranking
      // regression that displaces the plants shifts fr or the window
      // count and hash-fails.
      """SELECT CAST(vec_id AS BIGINT) AS query_id,
        |       CAST(500000 AS BIGINT) AS lex_rr_x1e6,
        |       CAST(4 AS BIGINT) AS lex_p5,
        |       CAST(500000 AS BIGINT) AS dense_rr_x1e6,
        |       CAST(4 AS BIGINT) AS dense_p5,
        |       CAST(500000 AS BIGINT) AS fused_rr_x1e6,
        |       CAST(4 AS BIGINT) AS fused_p5
        |FROM embeddings WHERE vec_id < 5""".stripMargin),

    Query("retrieval_ndcg", { (s, d) =>
      val (lexRank, denseRank, fused) = hybridRankings(s, d)
      val isRel = col("doc_id") >= 9100000L && col("doc_id") < 9400000L
      val w = floor(lit(1e9) * log(lit(2.0)) / log(col("rank") + lit(1.0))
        + lit(0.5)).cast("long")
      def dcg(r: DataFrame) = r.groupBy(col("query_id"))
        .agg(sum(when(isRel, w).otherwise(0L)))
      val idcg = (1 to 9)
        .map(r => math.floor(1e9 * math.log(2) / math.log(r + 1.0) + 0.5)
          .toLong).sum
      val l = dcg(lexRank).toDF("query_id", "lex_dcg")
      val dn = dcg(denseRank).toDF("query_id", "dense_dcg")
      val f = dcg(fused).toDF("query_id", "fused_dcg")
      l.join(dn, "query_id").join(f, "query_id")
        .selectExpr("query_id",
          s"(2 * 1000000 * lex_dcg + $idcg) div (2 * $idcg) AS lex_ndcg_x1e6",
          s"(2 * 1000000 * dense_dcg + $idcg) div (2 * $idcg) AS dense_ndcg_x1e6",
          s"(2 * 1000000 * fused_dcg + $idcg) div (2 * $idcg) AS fused_ndcg_x1e6")
        .withColumn("fused_best",
          col("fused_ndcg_x1e6") >
            greatest(col("lex_ndcg_x1e6"), col("dense_ndcg_x1e6")))
    },
      // retrieval_ndcg: the plant construction pins the cells — single
      // paths hold relevants at ranks 2-7 (DCG = Σ w(2..7) =
      // 2,637,999,639), the fused list at 2-10 (Σ w(2..10) =
      // 3,543,559,338), ideal = Σ w(1..9) = 4,254,494,512; HALF_UP
      // 1e6-normalization gives 620050 / 620050 / 832898.
      """SELECT CAST(vec_id AS BIGINT) AS query_id,
        |       CAST(620050 AS BIGINT) AS lex_ndcg_x1e6,
        |       CAST(620050 AS BIGINT) AS dense_ndcg_x1e6,
        |       CAST(832898 AS BIGINT) AS fused_ndcg_x1e6,
        |       TRUE AS fused_best
        |FROM embeddings WHERE vec_id < 5""".stripMargin),

    // RAG serving capstone (round 12) — the retrieval family chained
    // end-to-end the way corpus_pipeline chains curation: chunking
    // (chunk_docs' 64/48 token windows) → per-chunk vectors (parent
    // embedding quantized, chunk_idx offset IN INTEGER SPACE — no
    // cross-engine float arithmetic anywhere past the shared
    // quantize1000) → lexical tf-idf retrieval over chunk text (idf
    // weight the exact-integer (1e6·n_chunks) div df — the log-free
    // form, so the whole chain stays bit-exact) → dense exact
    // integer-L2 retrieval over chunk vectors → RRF fusion
    // (Retrieval.rrfFuse) → binary-gain nDCG@10 gate over the planted
    // relevant set. Any interface drift between two stages (a stride
    // change, a quantization change, a rank column off by one)
    // shifts retrieved chunk keys or metric cells and hash-fails the
    // full-recompute oracle. Plants per query (qid < 5, j 1..3):
    // lexical-only docs (146 tokens → 3 chunks, the 20 query terms
    // occupying exactly positions 97-116 so chunking placement is
    // load-bearing; vector -qq), dense-only docs (junk text; vector
    // qq + j), both (query terms + junk; vector qq + 2j). Relevance =
    // parent doc in a plant id range — chunk-level retrieval scored
    // doc-level, the standard RAG judgment. 100 TB shape: chunking
    // and chunk vectors ride the corpus scan (one checkpointed seam);
    // lexical is the (chunk, term) tf exchange with the 100-term
    // query set broadcast; dense is one broadcast-query map-side pass
    // (swap in the IVF probe at scale — fusion only sees per-query
    // top-10 frames); TopKPerKey bounded heaps everywhere; the
    // metric rides 10 rows per (query, path).
    Query("rag_pipeline", { (s, d) =>
      val nQ = 5; val k = 10
      val emb = Tables.embeddings(s, d)
      val qvec = VectorOps.quantize1000(col("embedding").cast("array<double>"))
      val qbase = emb.filter(col("vec_id") < nQ)
        .select(col("vec_id").as("qid"),
          transform(qvec, x => x + lit(10L)).as("qq"))
        .localCheckpoint(true)
      val qt = concat_ws(" ", transform(sequence(lit(1), lit(20)),
        i => concat(lit("hq"), col("qid"), lit("t"), i)))
      def junk(pfx: String, n: Int) = concat_ws(" ",
        transform(sequence(lit(1), lit(n)),
          kk => concat(lit(pfx), col("did"), lit("x"), kk)))
      val withJ = qbase.select(col("qid"), col("qq"),
        explode(sequence(lit(1), lit(3))).as("j"))
      // --- planted docs (text side) ---
      val lexD = withJ
        .select(col("qid"), (lit(9100000L) + col("qid") * 10 + col("j")).as("did"))
        .select(col("did").as("doc_id"),
          concat(junk("zj", 96), lit(" "), qt, lit(" "), junk("zk", 30)).as("text"))
      val denseD = withJ
        .select(col("qid"), (lit(9200000L) + col("qid") * 10 + col("j")).as("did"))
        .select(col("did").as("doc_id"), junk("zd", 10).as("text"))
      val bothD = withJ
        .select(col("qid"), (lit(9300000L) + col("qid") * 10 + col("j")).as("did"))
        .select(col("did").as("doc_id"),
          concat(qt, lit(" "), junk("zb", 5)).as("text"))
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        .unionByName(lexD).unionByName(denseD).unionByName(bothD)
      // --- parent vectors (integer space) ---
      val lexV = withJ.select(
        (lit(9100000L) + col("qid") * 10 + col("j")).as("doc_id"),
        transform(col("qq"), x => -x).as("q"))
      val denseV = withJ.select(
        (lit(9200000L) + col("qid") * 10 + col("j")).as("doc_id"),
        transform(col("qq"), x => x + col("j")).as("q"))
      val bothV = withJ.select(
        (lit(9300000L) + col("qid") * 10 + col("j")).as("doc_id"),
        transform(col("qq"), x => x + col("j") * 2).as("q"))
      val pvecs = emb.select(col("vec_id").as("doc_id"), qvec.as("q"))
        .unionByName(lexV).unionByName(denseV).unionByName(bothV)
      // --- stage 1: chunking (the chunk_docs operator), ONE seam ---
      val chunks = Packing.chunkTokens(docs, col("doc_id"),
          TextOps.tokens(lower(col("text"))), chunkLen = 64, stride = 48)
        .select(col("doc_id"), col("chunk_idx"), col("chunk_text"))
        .localCheckpoint(true)
      val ckey = (col("doc_id") * 1000 + col("chunk_idx")).as("ckey")
      // --- stage 2: per-chunk vectors (parent q + chunk_idx) ---
      val cvecs = chunks.join(pvecs, "doc_id")
        .select(ckey, transform(col("q"), x => x + col("chunk_idx")).as("q"))
      // --- stage 3a: lexical tf-idf over chunk text ---
      // Round-20 shape: the scored rows only involve the query's ≤ 100
      // terms, so the broadcast probe moves BEFORE the (chunk, term)
      // exchange (guide §2.3) — no chunk-corpus-scale tf checkpoint.
      // df per query term re-derives exactly off the probed rows
      // (query vocabulary is qid-unique by construction), and Σ tf·w ≡
      // summing w per matched token instance.
      val ctoks = chunks
        .select(ckey, explode(TextOps.tokens(col("chunk_text"))).as("term"))
      val qterms = qbase.select(col("qid"),
        explode(split(qt, " ")).as("term"))
      val qtf = ctoks.join(broadcast(qterms), "term")
        .groupBy(col("qid"), col("ckey"), col("term"))
        .agg(count(lit(1)).as("tf"))
        .localCheckpoint(true)
      // df as distinct chunks per term — see hybridRankings' dfreq
      // note (ADVICE r20): row count ≡ chunk frequency only while
      // query vocabularies are qid-unique.
      val dfreq = qtf.groupBy(col("term"))
        .agg(countDistinct(col("ckey")).as("df"))
      val totals = chunks.agg(count(lit(1)).as("n_chunks"))
      val lexScored = qtf
        .join(broadcast(dfreq), "term")
        .crossJoin(broadcast(totals))
        .groupBy(col("qid").as("query_id"), col("ckey"))
        .agg(sum(col("tf") *
          expr("(1000000 * n_chunks) div df")).as("score"))
      val wq = Window.partitionBy("query_id")
      val lexRank = graft.plans.TopKPerKey.perKey(lexScored,
          keys = Seq(col("query_id")),
          order = Seq(col("score").desc, col("ckey")), k = k)
        .select(col("query_id"), col("ckey").as("doc_id"),
          row_number().over(wq.orderBy(col("score").desc, col("ckey")))
            .as("rank"))
      // --- stage 3b: dense exact integer-L2 over chunk vectors ---
      val denseScored = cvecs.crossJoin(
          broadcast(qbase.select(col("qid"), col("qq"))))
        .select(col("qid").as("query_id"), col("ckey").as("doc_id"),
          VectorOps.idist2(col("q"), col("qq")).as("d2"))
      val denseRank = graft.plans.TopKPerKey.perKey(denseScored,
          keys = Seq(col("query_id")),
          order = Seq(col("d2"), col("doc_id")), k = k)
        .select(col("query_id"), col("doc_id"),
          row_number().over(wq.orderBy(col("d2"), col("doc_id"))).as("rank"))
      // --- stage 4: RRF fusion; stage 5: nDCG@10 gate ---
      val fused = Retrieval.rrfFuse(Seq(lexRank, denseRank), k = k)
        .withColumn("rank", row_number().over(
          wq.orderBy(col("rrf_x1e12").desc, col("doc_id"))))
        .localCheckpoint(true)
      val isRel = col("doc_id") >= 9100000L * 1000 &&
        col("doc_id") < 9400000L * 1000
      // Discount weights floor(1e9·ln2/ln(r+1)+0.5) precomputed as ten
      // literals (injected into BOTH engines from this one list — the
      // oracle is a full recompute here, so runtime ln() on each side
      // would gamble on cross-engine libm rounding).
      val wArr = RagNdcgWeights
      val w = element_at(typedLit(wArr), col("rank").cast("int"))
      val idcg = wArr.sum
      def ndcg(r: DataFrame, nm: String) = r.groupBy(col("query_id"))
        .agg(sum(when(isRel, w).otherwise(0L)).as("dcg"))
        .selectExpr("query_id",
          s"(2 * 1000000 * dcg + $idcg) div (2 * $idcg) AS $nm")
      val cells = ndcg(lexRank, "lex_ndcg_x1e6")
        .join(ndcg(denseRank, "dense_ndcg_x1e6"), "query_id")
        .join(ndcg(fused, "fused_ndcg_x1e6"), "query_id")
      // split ckey back into (parent doc, chunk) BEFORE the renaming
      // select — a one-step select would resolve the later col
      // references to the fresh "doc_id" alias (the quote-plant
      // lateral-alias lesson).
      fused.join(broadcast(cells), "query_id")
        .withColumn("parent_doc", expr("doc_id div 1000"))
        .withColumn("cidx", pmod(col("doc_id"), lit(1000L)))
        .withColumn("rel", isRel)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("parent_doc").as("doc_id"), col("cidx").as("chunk_idx"),
          col("rrf_x1e12"), col("n_paths"), col("rel").as("is_rel"),
          col("lex_ndcg_x1e6"), col("dense_ndcg_x1e6"),
          col("fused_ndcg_x1e6"),
          (col("fused_ndcg_x1e6") >= greatest(col("lex_ndcg_x1e6"),
            col("dense_ndcg_x1e6"))).as("fused_ok"))
    },
      // rag_pipeline: the ORACLE IS THE FULL RECOMPUTE of the whole
      // serving chain — chunking, integer chunk vectors, log-free
      // integer tf-idf, 64-term literal L2 sums, exact-integer RRF,
      // literal-weight nDCG (weights injected from the SAME Scala list
      // the Spark plan uses). MATERIALIZED on the corpus-derived CTEs
      // (the corpus_pipeline fd lesson).
      {
        val ed2 = (1 to 64).map(j =>
          s"(c.q[$j] - qv.qq[$j]) * (c.q[$j] - qv.qq[$j])").mkString(" + ")
        val wl = RagNdcgWeights.mkString("list_value(", ", ", ")")
        val idcg = RagNdcgWeights.sum
        def junkSql(pfx: String, n: Int) =
          s"""array_to_string(list_transform(generate_series(1, $n),
             |      k -> '$pfx' || CAST(did AS VARCHAR) || 'x' || CAST(k AS VARCHAR)), ' ')""".stripMargin
        s"""WITH
           |qb AS MATERIALIZED (SELECT vec_id AS qid,
           |    list_transform(embedding,
           |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT) + 10) AS qq
           |  FROM embeddings WHERE vec_id < 5),
           |qt AS (SELECT qid, array_to_string(list_transform(generate_series(1, 20),
           |    i -> 'hq' || CAST(qid AS VARCHAR) || 't' || CAST(i AS VARCHAR)), ' ') AS qtext
           |  FROM qb),
           |wj AS (SELECT qb.qid, qb.qq, r.j FROM qb CROSS JOIN range(1, 4) r(j)),
           |lexd AS (SELECT did AS doc_id,
           |    ${junkSql("zj", 96)} || ' ' || qtext || ' ' || ${junkSql("zk", 30)} AS text
           |  FROM (SELECT 9100000 + qid * 10 + j AS did, qtext
           |        FROM wj JOIN qt USING (qid))),
           |densed AS (SELECT did AS doc_id, ${junkSql("zd", 10)} AS text
           |  FROM (SELECT 9200000 + qid * 10 + j AS did FROM wj)),
           |bothd AS (SELECT did AS doc_id, qtext || ' ' || ${junkSql("zb", 5)} AS text
           |  FROM (SELECT 9300000 + qid * 10 + j AS did, qtext
           |        FROM wj JOIN qt USING (qid))),
           |docs AS (SELECT doc_id, text FROM documents
           |  UNION ALL SELECT doc_id, text FROM lexd
           |  UNION ALL SELECT doc_id, text FROM densed
           |  UNION ALL SELECT doc_id, text FROM bothd),
           |pv AS MATERIALIZED (
           |  SELECT vec_id AS doc_id, list_transform(embedding,
           |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS q
           |    FROM embeddings
           |  UNION ALL SELECT 9100000 + qid * 10 + j,
           |      list_transform(qq, x -> -x) FROM wj
           |  UNION ALL SELECT 9200000 + qid * 10 + j,
           |      list_transform(qq, x -> x + j) FROM wj
           |  UNION ALL SELECT 9300000 + qid * 10 + j,
           |      list_transform(qq, x -> x + 2 * j) FROM wj),
           |tok AS (SELECT doc_id,
           |    list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS toks
           |  FROM docs),
           |sz AS (SELECT doc_id, toks,
           |    CASE WHEN len(toks) <= 64 THEN 1
           |         ELSE 1 + (len(toks) - 64 + 47) // 48 END AS n_chunks
           |  FROM tok),
           |chunk AS MATERIALIZED (SELECT doc_id * 1000 + chunk_idx AS ckey,
           |    doc_id, chunk_idx,
           |    list_slice(toks, chunk_idx * 48 + 1, chunk_idx * 48 + 64) AS ctoks
           |  FROM (SELECT doc_id, toks,
           |          unnest(generate_series(0, n_chunks - 1)) AS chunk_idx
           |        FROM sz)),
           |cv AS MATERIALIZED (SELECT ckey,
           |    list_transform(q, x -> x + chunk_idx) AS q
           |  FROM chunk JOIN pv USING (doc_id)),
           |tf AS MATERIALIZED (SELECT ckey, term, CAST(count(*) AS BIGINT) AS tf
           |  FROM (SELECT ckey, unnest(ctoks) AS term FROM chunk) GROUP BY 1, 2),
           |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
           |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_chunks FROM chunk),
           |qterms AS (SELECT qid, unnest(string_split(qtext, ' ')) AS term FROM qt),
           |lexsc AS (SELECT qid AS query_id, ckey,
           |    CAST(sum(tf * ((1000000 * n_chunks) // df)) AS BIGINT) AS score
           |  FROM tf JOIN qterms USING (term) JOIN dfreq USING (term) CROSS JOIN tot
           |  GROUP BY 1, 2),
           |lexrank AS (SELECT query_id, ckey AS doc_id,
           |    row_number() OVER (PARTITION BY query_id
           |                       ORDER BY score DESC, ckey) AS rank
           |  FROM lexsc QUALIFY rank <= 10),
           |densesc AS (SELECT qv.qid AS query_id, c.ckey AS doc_id,
           |    CAST($ed2 AS BIGINT) AS d2
           |  FROM cv c CROSS JOIN qb qv),
           |denserank AS (SELECT query_id, doc_id,
           |    row_number() OVER (PARTITION BY query_id
           |                       ORDER BY d2, doc_id) AS rank
           |  FROM densesc QUALIFY rank <= 10),
           |contrib AS (SELECT query_id, doc_id, 1000000000000 // (60 + rank) AS c
           |  FROM lexrank
           |  UNION ALL SELECT query_id, doc_id, 1000000000000 // (60 + rank)
           |  FROM denserank),
           |fagg AS (SELECT query_id, doc_id, CAST(sum(c) AS BIGINT) AS rrf_x1e12,
           |    CAST(count(*) AS BIGINT) AS n_paths
           |  FROM contrib GROUP BY 1, 2),
           |fused AS (SELECT query_id, doc_id, rrf_x1e12, n_paths,
           |    row_number() OVER (PARTITION BY query_id
           |                       ORDER BY rrf_x1e12 DESC, doc_id) AS rank
           |  FROM fagg QUALIFY rank <= 10),
           |lexdcg AS (SELECT query_id, CAST(sum(CASE
           |    WHEN doc_id >= 9100000000 AND doc_id < 9400000000
           |    THEN ($wl)[rank] ELSE 0 END) AS BIGINT) AS dcg
           |  FROM lexrank GROUP BY 1),
           |densedcg AS (SELECT query_id, CAST(sum(CASE
           |    WHEN doc_id >= 9100000000 AND doc_id < 9400000000
           |    THEN ($wl)[rank] ELSE 0 END) AS BIGINT) AS dcg
           |  FROM denserank GROUP BY 1),
           |fuseddcg AS (SELECT query_id, CAST(sum(CASE
           |    WHEN doc_id >= 9100000000 AND doc_id < 9400000000
           |    THEN ($wl)[rank] ELSE 0 END) AS BIGINT) AS dcg
           |  FROM fused GROUP BY 1),
           |cells AS (SELECT l.query_id,
           |    CAST((2 * 1000000 * l.dcg + $idcg) // (2 * $idcg) AS BIGINT) AS lex_ndcg_x1e6,
           |    CAST((2 * 1000000 * d.dcg + $idcg) // (2 * $idcg) AS BIGINT) AS dense_ndcg_x1e6,
           |    CAST((2 * 1000000 * f.dcg + $idcg) // (2 * $idcg) AS BIGINT) AS fused_ndcg_x1e6
           |  FROM lexdcg l JOIN densedcg d ON d.query_id = l.query_id
           |  JOIN fuseddcg f ON f.query_id = l.query_id)
           |SELECT f.query_id, CAST(f.rank AS BIGINT) AS rank,
           |  f.doc_id // 1000 AS doc_id, f.doc_id % 1000 AS chunk_idx,
           |  f.rrf_x1e12, f.n_paths,
           |  (f.doc_id >= 9100000000 AND f.doc_id < 9400000000) AS is_rel,
           |  c.lex_ndcg_x1e6, c.dense_ndcg_x1e6, c.fused_ndcg_x1e6,
           |  (c.fused_ndcg_x1e6 >= greatest(c.lex_ndcg_x1e6, c.dense_ndcg_x1e6))
           |    AS fused_ok
           |FROM fused f JOIN cells c ON c.query_id = f.query_id""".stripMargin
      }),

    // Late-interaction retrieval (round 12) — ColBERT's MaxSim
    // scoring (Khattab & Zaharia, SIGIR 2020): instead of one vector
    // per document, every TOKEN carries a vector, and
    // score(q, d) = Σ_{qt ∈ q} max_{dt ∈ d} ⟨v(qt), v(dt)⟩ — each
    // query token finds its best-matching document token. The missing
    // retrieval family between pure-lexical (term equality) and
    // pure-dense (one doc vector): soft term matching with per-token
    // granularity. Token vectors here are md5-derived 8-dim integers
    // (dim k of token t = md5Hash60(t':'k) % 201 − 100), so every dot
    // product and the whole ranking is exact-integer and the oracle
    // replays it fully. Plants per query (3 queries × j 1..3): docs
    // carrying the query's 4 tokens verbatim, whose per-token best is
    // ≥ the self-dot |v(qt)|² by construction — a deterministic FLOOR
    // anchoring the score scale (with unnormalized random vectors a
    // large vocabulary's best soft match can legitimately exceed the
    // self-dot — real ColBERT normalizes; the ranking either way is
    // exact and fully oracled, and is_planted records the outcome
    // rather than assuming it). 100 TB shape:
    // the expensive pass (token-vector dot products) rides the
    // DISTINCT vocabulary with the 12-token query set broadcast —
    // O(vocab · |q|) — never the corpus; the (doc, term) incidence
    // frame joins the scored vocab and two hash aggs (max per
    // (query, doc, qt), sum per (query, doc)) feed TopKPerKey bounded
    // heaps. A real deployment swaps the md5 vectors for learned ones
    // stored by token id — the plan shape is identical.
    Query("colbert_maxsim", { (s, d) =>
      val nQ = 3; val k = 5
      def tokVec(t: Column): Column = transform(sequence(lit(0), lit(7)),
        kk => pmod(Dedup.md5Hash60(concat(t, lit(":"), kk)), lit(201L))
          - 100L)
      // planted docs: the query's 4 tokens + 6 junk tokens
      val qids = Tables.embeddings(s, d).filter(col("vec_id") < nQ)
        .select(col("vec_id").as("qid"))
      val qt = transform(sequence(lit(1), lit(4)),
        i => concat(lit("cq"), col("qid"), lit("t"), i))
      val withJ = qids.select(col("qid"),
        explode(sequence(lit(1), lit(3))).as("j"))
      val plantD = withJ
        .select(col("qid"), (lit(9500000L) + col("qid") * 10 + col("j"))
          .as("did"))
        .select(col("did").as("doc_id"),
          concat(concat_ws(" ", qt), lit(" "),
            concat_ws(" ", transform(sequence(lit(1), lit(6)),
              kk => concat(lit("cx"), col("did"), lit("x"), kk))))
            .as("text"))
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        .unionByName(plantD)
      // (doc, term) token stream — NOT distinct'd (round 20): MaxSim's
      // per-(doc, qterm) max is idempotent over duplicate tokens, so
      // the old corpus-token-scale distinct exchange + eager cache
      // bought nothing the partial max aggregate doesn't already do
      // map-side. Tokenization recomputes once per consumer off the
      // scan (map-side, cheap); the only token-scale exchange left is
      // the partial-agged per-(qid, doc, qterm) max.
      val toks = docs.select(col("doc_id"),
        explode(TextOps.tokens(lower(col("text")))).as("term"))
      // score the DISTINCT vocabulary against the 12 query tokens
      val vocab = toks.select(col("term")).distinct()
        .withColumn("tv", tokVec(col("term")))
      val qterms = qids
        .select(col("qid"), explode(qt).as("qterm"))
        .withColumn("qv", tokVec(col("qterm")))
      val dots = vocab.join(broadcast(qterms))
        .select(col("qid"), col("qterm"), col("term"),
          VectorOps.idot(col("tv"), col("qv")).as("dot"))
      // max over the doc's tokens per query token, then sum over qts
      val perQt = toks.join(dots, "term")
        .groupBy(col("qid"), col("doc_id"), col("qterm"))
        .agg(max(col("dot")).as("best"))
      val scored = perQt.groupBy(col("qid").as("query_id"), col("doc_id"))
        .agg(sum(col("best")).as("maxsim"))
      graft.plans.TopKPerKey.perKey(scored, Seq(col("query_id")),
          Seq(col("maxsim").desc, col("doc_id")), k)
        .select(col("query_id"), col("doc_id"), col("maxsim"),
          (col("doc_id") >= 9500000L && col("doc_id") < 9600000L)
            .as("is_planted"))
    },
      // colbert_maxsim: full recompute — md5-derived 8-dim integer token
      // vectors, vocab × query-token dot products, max per (query, doc,
      // qt), sum, top-5.
      """WITH qids AS (SELECT vec_id AS qid FROM embeddings WHERE vec_id < 3),
        |qt AS (SELECT qid, 'cq' || CAST(qid AS VARCHAR) || 't' || CAST(i.i AS VARCHAR) AS qterm
        |       FROM qids CROSS JOIN range(1, 5) i(i)),
        |plant AS (SELECT did AS doc_id,
        |    array_to_string(list_transform(generate_series(1, 4),
        |      i -> 'cq' || CAST(qid AS VARCHAR) || 't' || CAST(i AS VARCHAR)), ' ')
        |    || ' ' ||
        |    array_to_string(list_transform(generate_series(1, 6),
        |      kk -> 'cx' || CAST(did AS VARCHAR) || 'x' || CAST(kk AS VARCHAR)), ' ')
        |      AS text
        |  FROM (SELECT qid, 9500000 + qid * 10 + j.j AS did
        |        FROM qids CROSS JOIN range(1, 4) j(j))),
        |docs AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id, text FROM plant),
        |inc AS MATERIALIZED (SELECT DISTINCT doc_id, term FROM (
        |  SELECT doc_id,
        |         unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |                x -> x <> '')) AS term
        |  FROM docs)),
        |vocab AS (SELECT DISTINCT term FROM inc),
        |qv AS (SELECT qid, qterm, k.k,
        |    CAST('0x' || substr(md5(qterm || ':' || CAST(k.k AS VARCHAR)), 1, 15)
        |      AS BIGINT) % 201 - 100 AS v
        |  FROM qt CROSS JOIN range(0, 8) k(k)),
        |tvv AS MATERIALIZED (SELECT term, k.k,
        |    CAST('0x' || substr(md5(term || ':' || CAST(k.k AS VARCHAR)), 1, 15)
        |      AS BIGINT) % 201 - 100 AS v
        |  FROM vocab CROSS JOIN range(0, 8) k(k)),
        |dots AS (SELECT q.qid, q.qterm, t.term,
        |    CAST(sum(q.v * t.v) AS BIGINT) AS dot
        |  FROM qv q JOIN tvv t ON t.k = q.k GROUP BY 1, 2, 3),
        |perqt AS (SELECT d.qid, i.doc_id, d.qterm, max(d.dot) AS best
        |  FROM inc i JOIN dots d ON d.term = i.term GROUP BY 1, 2, 3),
        |sc AS (SELECT qid AS query_id, doc_id,
        |    CAST(sum(best) AS BIGINT) AS maxsim
        |  FROM perqt GROUP BY 1, 2)
        |SELECT query_id, doc_id, maxsim,
        |  (doc_id >= 9500000 AND doc_id < 9600000) AS is_planted
        |FROM (SELECT query_id, doc_id, maxsim,
        |        row_number() OVER (PARTITION BY query_id
        |                           ORDER BY maxsim DESC, doc_id) AS rn
        |      FROM sc) WHERE rn <= 5""".stripMargin),

    // Retrieve-then-rerank (round 12) — the two-stage serving shape
    // every production retrieval stack converges on (Nogueira & Cho
    // 2019; ColBERT §1): a CHEAP recall stage (raw tf overlap with
    // the query terms, top-20) feeds an EXPENSIVE precision stage
    // (colbert_maxsim's late-interaction MaxSim) that rescores ONLY
    // the candidates — the rerank cost is O(k·|q|·vocab_cand), never
    // corpus-sized. The plants make the improvement COMPUTABLE, not
    // assumed: tf-inflated decoys (one query token repeated 12×)
    // out-score the true relevants (all 4 query tokens once) in
    // stage 1, and MaxSim — which maxes per DISTINCT query token —
    // demotes them, so rerank nDCG@5 > stage-1 nDCG@5 on the same
    // relevant set (rerank_ok records it, the retrieval_ndcg
    // convention). The candidate pool is graded three ways per
    // query: full-match relevants (all 4 query tokens once + junk,
    // tf 4), partial-match competitors (2 of 4 tokens ×3, tf 6) and
    // tf-inflated decoys (one token ×12) — stage 1 ranks them
    // decoys > partials > relevants, the reranker exactly inverts
    // that, and the margins are construction-deterministic (the
    // corpus vocabulary is deliberately disjoint from the synthetic
    // query tokens, so real docs flow through the same frames
    // without perturbing the graded cells — this corpus's tiny
    // shared vocabulary makes any corpus-anchored query degenerate).
    // Fully exact-integer; full-recompute oracle.
    Query("rag_rerank", { (s, d) =>
      val k = 5; val kCand = 20
      def tokVec(t: Column): Column = transform(sequence(lit(0), lit(7)),
        kk => pmod(Dedup.md5Hash60(concat(t, lit(":"), kk)), lit(201L))
          - 100L)
      val docsBase = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val qids = Tables.embeddings(s, d).filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"))
      val qterms = qids
        .select(col("qid"), explode(sequence(lit(1), lit(4))).as("i"))
        .select(col("qid"),
          concat(lit("rq"), col("qid"), lit("t"), col("i")).as("term"))
        .localCheckpoint(true)
      val qtext = qterms.groupBy(col("qid"))
        .agg(concat_ws(" ", sort_array(collect_list(col("term"))))
          .as("qtext"))
        .localCheckpoint(true)
      val plants = qtext
        .select(col("qid"), col("qtext"),
          explode(sequence(lit(1), lit(3))).as("j"))
        .select(col("qtext"),
          (lit(9700000L) + col("qid") * 10 + col("j")).as("did"))
        .select(col("did").as("doc_id"),
          concat(col("qtext"), lit(" "), concat_ws(" ",
            transform(sequence(lit(1), lit(6)),
              kk => concat(lit("rx"), col("did"), lit("x"), kk))))
            .as("text"))
      val partials = qtext
        .select(col("qid"), explode(sequence(lit(1), lit(2))).as("j"))
        .select((lit(9750000L) + col("qid") * 10 + col("j")).as("doc_id"),
          concat_ws(" ", concat(
            array_repeat(concat(lit("rq"), col("qid"), lit("t1")), 3),
            array_repeat(concat(lit("rq"), col("qid"), lit("t2")), 3)))
            .as("text"))
      val decoys = qtext
        .select(col("qid"), explode(sequence(lit(1), lit(2))).as("j"))
        .select((lit(9800000L) + col("qid") * 10 + col("j")).as("doc_id"),
          concat_ws(" ", array_repeat(
            concat(lit("rq"), col("qid"), lit("t1")), 12)).as("text"))
      val docs = docsBase.unionByName(plants).unionByName(partials)
        .unionByName(decoys)
      // Round-20 shape: no corpus-scale (doc, term) tf checkpoint.
      // Stage 1 only reads query-term-matched token rows (broadcast
      // probe before the exchange, guide §2.3 — Σ tf ≡ counting
      // matched instances); the rerank vocabulary only needs the ≤ 60
      // candidate docs' terms, re-derived by a broadcast id probe on
      // the token stream instead of a semi-join against cached
      // corpus-wide tf.
      val toks = Dedup.rebalance(docs).select(col("doc_id"),
        explode(TextOps.tokens(lower(col("text")))).as("term"))
      val s1 = toks.join(broadcast(qterms), "term")
        .groupBy(col("qid").as("query_id"), col("doc_id"))
        .agg(count(lit(1)).as("score1"))
      val wq = Window.partitionBy(col("query_id"))
      val cand = graft.plans.TopKPerKey.perKey(s1, Seq(col("query_id")),
          Seq(col("score1").desc, col("doc_id")), kCand)
        .withColumn("rank1", row_number().over(
          wq.orderBy(col("score1").desc, col("doc_id"))))
        .localCheckpoint(true)
      // ≤ kCand × nQ candidate ids by the TopK cut — bounded, broadcast
      val candInc = toks
        .join(broadcast(cand.select(col("doc_id")).distinct()), "doc_id")
        .select(col("doc_id"), col("term")).distinct()
        .localCheckpoint(true)
      val vocab = candInc.select(col("term")).distinct()
        .withColumn("tv", tokVec(col("term")))
      val qtv = qterms.select(col("qid"), col("term").as("qterm"))
        .withColumn("qv", tokVec(col("qterm")))
      // Normalization surrogate: real ColBERT scores cosine, where a
      // term's self-similarity is the attainable MAXIMUM; with
      // unnormalized md5 vectors a big candidate vocabulary's best
      // cross-dot can legitimately beat a self-dot (colbert_maxsim
      // records exactly that), which would let broad real docs bury
      // the true matches. So an EXACT term match pins to 8·100² =
      // 80000, the max any integer dot can reach — the cosine
      // self-max emulated in exact integers.
      val dots = vocab.join(broadcast(qtv))
        .select(col("qid"), col("qterm"), col("term"),
          when(col("term") === col("qterm"), lit(80000L))
            .otherwise(VectorOps.idot(col("tv"), col("qv"))).as("dot"))
      val perQt = candInc.join(dots, "term")
        .groupBy(col("qid"), col("doc_id"), col("qterm"))
        .agg(max(col("dot")).as("best"))
      val rr = perQt.groupBy(col("qid").as("query_id"), col("doc_id"))
        .agg(sum(col("best")).as("maxsim"))
        .join(cand.select(col("query_id"), col("doc_id")),
          Seq("query_id", "doc_id"))
      val rerank = rr.withColumn("rank", row_number().over(
          wq.orderBy(col("maxsim").desc, col("doc_id"))))
        .filter(col("rank") <= k).localCheckpoint(true)
      val isRel = col("doc_id") >= 9700000L && col("doc_id") < 9750000L
      val wArr = RagNdcgWeights.take(k)
      val idcg = wArr.sum
      def ndcg(r: DataFrame, rankCol: String, nm: String) =
        r.filter(col(rankCol) <= k).groupBy(col("query_id"))
          .agg(sum(when(isRel,
            element_at(typedLit(wArr), col(rankCol).cast("int")))
            .otherwise(0L)).as("dcg"))
          .selectExpr("query_id",
            s"(2 * 1000000 * dcg + $idcg) div (2 * $idcg) AS $nm")
      val cells = ndcg(cand, "rank1", "stage1_ndcg_x1e6")
        .join(ndcg(rerank, "rank", "rerank_ndcg_x1e6"), "query_id")
      rerank.join(broadcast(cells), "query_id")
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("doc_id"), col("maxsim"), isRel.as("is_rel"),
          col("stage1_ndcg_x1e6"), col("rerank_ndcg_x1e6"),
          (col("rerank_ndcg_x1e6") >= col("stage1_ndcg_x1e6"))
            .as("rerank_ok"))
    },
      // rag_rerank: full recompute — anchor derivation, plant/decoy
      // construction, tf-overlap stage 1, candidate-restricted MaxSim,
      // literal-weight nDCG@5 cells from the same Scala list.
      {
        val w5 = RagNdcgWeights.take(5)
        val wVals = w5.zipWithIndex
          .map { case (wt, i) => s"(${i + 1}, ${wt})" }.mkString(", ")
        val idcg = w5.sum
        s"""WITH qids AS (SELECT vec_id AS qid FROM embeddings
           |              WHERE vec_id < 3),
           |qterms AS (SELECT qid, 'rq' || CAST(qid AS VARCHAR) || 't' ||
           |             CAST(i.i AS VARCHAR) AS term
           |           FROM qids CROSS JOIN range(1, 5) i(i)),
           |qtext AS (SELECT qid,
           |            array_to_string(list_sort(list(term)), ' ') AS qtext
           |          FROM qterms GROUP BY 1),
           |plant AS (SELECT did AS doc_id, qtext || ' ' ||
           |            array_to_string(list_transform(generate_series(1, 6),
           |              kk -> 'rx' || CAST(did AS VARCHAR) || 'x' ||
           |                CAST(kk AS VARCHAR)), ' ') AS text
           |          FROM (SELECT qid, qtext, 9700000 + qid * 10 + j.j AS did
           |                FROM qtext CROSS JOIN range(1, 4) j(j))),
           |part AS (SELECT 9750000 + qid * 10 + j.j AS doc_id,
           |           array_to_string(list_transform(generate_series(1, 3),
           |             x -> 'rq' || CAST(qid AS VARCHAR) || 't1'), ' ')
           |           || ' ' ||
           |           array_to_string(list_transform(generate_series(1, 3),
           |             x -> 'rq' || CAST(qid AS VARCHAR) || 't2'), ' ')
           |             AS text
           |         FROM qtext CROSS JOIN range(1, 3) j(j)),
           |decoy AS (SELECT 9800000 + qid * 10 + j.j AS doc_id,
           |            array_to_string(list_transform(generate_series(1, 12),
           |              x -> 'rq' || CAST(qid AS VARCHAR) || 't1'), ' ')
           |              AS text
           |          FROM qtext CROSS JOIN range(1, 3) j(j)),
           |docs AS (SELECT doc_id, text FROM documents
           |  UNION ALL SELECT doc_id, text FROM plant
           |  UNION ALL SELECT doc_id, text FROM part
           |  UNION ALL SELECT doc_id, text FROM decoy),
           |tf AS MATERIALIZED (SELECT doc_id, term,
           |    CAST(count(*) AS BIGINT) AS tf
           |  FROM (SELECT doc_id, unnest(list_filter(
           |          string_split_regex(trim(lower(text)), '\\s+'),
           |          x -> x <> '')) AS term
           |        FROM docs) GROUP BY 1, 2),
           |s1 AS (SELECT q.qid AS query_id, t.doc_id,
           |         CAST(sum(t.tf) AS BIGINT) AS score1
           |       FROM tf t JOIN qterms q ON q.term = t.term GROUP BY 1, 2),
           |cand AS (SELECT query_id, doc_id, score1, rank1 FROM (
           |    SELECT query_id, doc_id, score1, row_number() OVER (
           |      PARTITION BY query_id ORDER BY score1 DESC, doc_id) AS rank1
           |    FROM s1) WHERE rank1 <= 20),
           |cinc AS (SELECT DISTINCT t.doc_id, t.term
           |         FROM tf t JOIN (SELECT DISTINCT doc_id FROM cand) c
           |           USING (doc_id)),
           |vocab AS (SELECT DISTINCT term FROM cinc),
           |tvv AS MATERIALIZED (SELECT term, k.k,
           |    CAST('0x' || substr(md5(term || ':' || CAST(k.k AS VARCHAR)),
           |      1, 15) AS BIGINT) % 201 - 100 AS v
           |  FROM vocab CROSS JOIN range(0, 8) k(k)),
           |qv AS (SELECT qid, term AS qterm, k.k,
           |    CAST('0x' || substr(md5(term || ':' || CAST(k.k AS VARCHAR)),
           |      1, 15) AS BIGINT) % 201 - 100 AS v
           |  FROM qterms CROSS JOIN range(0, 8) k(k)),
           |dots AS (SELECT q.qid, q.qterm, t.term,
           |    CASE WHEN t.term = q.qterm THEN 80000
           |         ELSE CAST(sum(q.v * t.v) AS BIGINT) END AS dot
           |  FROM qv q JOIN tvv t ON t.k = q.k GROUP BY 1, 2, 3),
           |perqt AS (SELECT d.qid, i.doc_id, d.qterm, max(d.dot) AS best
           |  FROM cinc i JOIN dots d ON d.term = i.term GROUP BY 1, 2, 3),
           |rrs AS (SELECT p.qid AS query_id, p.doc_id,
           |          CAST(sum(p.best) AS BIGINT) AS maxsim
           |        FROM perqt p JOIN cand c
           |          ON c.query_id = p.qid AND c.doc_id = p.doc_id
           |        GROUP BY 1, 2),
           |rtop AS (SELECT query_id, doc_id, maxsim, rank FROM (
           |    SELECT query_id, doc_id, maxsim, row_number() OVER (
           |      PARTITION BY query_id ORDER BY maxsim DESC, doc_id) AS rank
           |    FROM rrs) WHERE rank <= 5),
           |w(r, wt) AS (VALUES $wVals),
           |nd1 AS (SELECT query_id, (2 * 1000000 * CAST(sum(
           |          CASE WHEN doc_id >= 9700000 AND doc_id < 9750000
           |               THEN wt ELSE 0 END) AS BIGINT) + $idcg)
           |          // (2 * $idcg) AS stage1_ndcg_x1e6
           |        FROM cand JOIN w ON w.r = cand.rank1
           |        WHERE rank1 <= 5 GROUP BY 1),
           |nd2 AS (SELECT query_id, (2 * 1000000 * CAST(sum(
           |          CASE WHEN doc_id >= 9700000 AND doc_id < 9750000
           |               THEN wt ELSE 0 END) AS BIGINT) + $idcg)
           |          // (2 * $idcg) AS rerank_ndcg_x1e6
           |        FROM rtop JOIN w ON w.r = rtop.rank GROUP BY 1)
           |SELECT r.query_id, CAST(r.rank AS BIGINT) AS rank, r.doc_id,
           |  r.maxsim,
           |  (r.doc_id >= 9700000 AND r.doc_id < 9750000) AS is_rel,
           |  nd1.stage1_ndcg_x1e6, nd2.rerank_ndcg_x1e6,
           |  (nd2.rerank_ndcg_x1e6 >= nd1.stage1_ndcg_x1e6) AS rerank_ok
           |FROM rtop r JOIN nd1 USING (query_id) JOIN nd2 USING (query_id)"""
          .stripMargin
      }),

    // Pseudo-relevance-feedback query expansion (round 12) — RM3
    // (Lavrenko & Croft 2001; Abdul-Jaleel et al. 2004), the classic
    // fix for VOCABULARY MISMATCH: documents relevant to a query may
    // share none of its words. Stage 1 retrieves top-10 by tf
    // overlap; the top-3 feedback docs' highest-mass non-query terms
    // (top-2 by summed tf, term tiebreak) expand the query; stage 2
    // re-retrieves with the expanded term set. The plant construction
    // makes the recall gain computable: per query, 3 BRIDGE docs
    // carry the query terms plus two expansion terms, and 3 HIDDEN
    // relevants carry ONLY the expansion terms — stage 1 cannot reach
    // them (recall 3/6), stage 2 retrieves all six (recall 6/6), and
    // expansion_ok records recall2 > recall1. Synthetic tokens keep
    // the construction corpus-independent (rag_rerank's lesson);
    // corpus docs flow through every frame. 100 TB shape: both
    // retrieval passes are the (doc, term) tf exchange with ≤ 5
    // query terms broadcast + TopKPerKey; the feedback term-mass agg
    // rides 3 docs' terms.
    Query("query_expansion", { (s, d) =>
      val k = 10
      val qids = Tables.embeddings(s, d).filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"))
      val qterms = qids
        .select(col("qid"), explode(sequence(lit(1), lit(3))).as("i"))
        .select(col("qid"),
          concat(lit("pe"), col("qid"), lit("t"), col("i")).as("term"))
        .localCheckpoint(true)
      val qtoks = transform(sequence(lit(1), lit(3)),
        i => concat(lit("pe"), col("qid"), lit("t"), i))
      val etoks2 = flatten(transform(sequence(lit(1), lit(2)),
        e => array_repeat(concat(lit("pe"), col("qid"), lit("e"), e), 2)))
      val bridge = qids
        .select(col("qid"), explode(sequence(lit(1), lit(3))).as("j"))
        .select((lit(9850000L) + col("qid") * 10 + col("j")).as("doc_id"),
          concat_ws(" ", concat(qtoks, etoks2)).as("text"))
      val hidden = qids
        .select(col("qid"), explode(sequence(lit(1), lit(3))).as("j"))
        .select(col("qid"),
          (lit(9860000L) + col("qid") * 10 + col("j")).as("did"))
        .select(col("did").as("doc_id"),
          concat_ws(" ", concat(
            flatten(transform(sequence(lit(1), lit(2)),
              e => array_repeat(concat(lit("pe"),
                expr("(did - 9860000) div 10"), lit("e"), e), 2))),
            transform(sequence(lit(1), lit(4)),
              kk => concat(lit("px"), col("did"), lit("x"), kk))))
            .as("text"))
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        .unionByName(bridge).unionByName(hidden)
      // Round-20 shape: no corpus-scale (doc, term) tf checkpoint. Both
      // retrieval passes and the feedback-mass agg only ever read
      // query-term-matched or feedback-doc-bounded token rows, so the
      // broadcast filters move BEFORE any exchange (guide §2.3) and the
      // token stream re-derives map-side per consumer — Σ tf over
      // matched (doc, term) ≡ counting matched instances, exact.
      val toks = Dedup.rebalance(docs).select(col("doc_id"),
        explode(TextOps.tokens(lower(col("text")))).as("term"))
      val wq = Window.partitionBy(col("query_id"))
      def retrieve(terms: DataFrame): DataFrame =
        graft.plans.TopKPerKey.perKey(
          toks.join(broadcast(terms), "term")
            .groupBy(col("qid").as("query_id"), col("doc_id"))
            .agg(count(lit(1)).as("score")),
          Seq(col("query_id")), Seq(col("score").desc, col("doc_id")), k)
          .withColumn("rank", row_number().over(
            wq.orderBy(col("score").desc, col("doc_id"))))
      val cand1 = retrieve(qterms).localCheckpoint(true)
      // ≤ 3 feedback docs per query by the rank cut — bounded, broadcast
      val fb = cand1.filter(col("rank") <= 3)
        .select(col("query_id").as("qid"), col("doc_id"))
      val eterms = toks.join(broadcast(fb), "doc_id")
        .join(broadcast(qterms.select(col("term")).distinct()),
          Seq("term"), "left_anti")
        .groupBy(col("qid"), col("term")).agg(count(lit(1)).as("mass"))
        .withColumn("rn", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("mass").desc, col("term"))))
        .filter(col("rn") <= 2)
        .select(col("qid"), col("term"))
      val cand2 = retrieve(qterms.unionByName(eterms)).localCheckpoint(true)
      val rel = bridge.unionByName(hidden)
        .select(col("doc_id"),
          expr("""CASE WHEN doc_id >= 9860000 THEN (doc_id - 9860000) div 10
                |     ELSE (doc_id - 9850000) div 10 END""".stripMargin)
            .as("query_id"))
        .localCheckpoint(true)
      val nRel = rel.groupBy(col("query_id")).agg(count(lit(1)).as("n_rel"))
      def recall(cand: DataFrame, nm: String): DataFrame =
        cand.join(rel, Seq("query_id", "doc_id"), "left_semi")
          .groupBy(col("query_id")).agg(count(lit(1)).as("hit"))
          .join(nRel, "query_id")
          .selectExpr("query_id",
            s"(2 * 1000000 * hit + n_rel) div (2 * n_rel) AS $nm")
      recall(cand1, "recall1_x1e6")
        .join(recall(cand2, "recall2_x1e6"), "query_id")
        .join(nRel, "query_id")
        .join(eterms.groupBy(col("qid").as("query_id"))
          .agg(count(lit(1)).as("n_expansion")), "query_id")
        .select(col("query_id"), col("n_rel"), col("n_expansion"),
          col("recall1_x1e6"), col("recall2_x1e6"),
          (col("recall2_x1e6") > col("recall1_x1e6")).as("expansion_ok"))
    },
      // query_expansion: full recompute — bridge/hidden construction,
      // two tf-overlap retrieval passes, feedback term-mass top-2,
      // HALF_UP recall cells.
      """WITH qids AS (SELECT vec_id AS qid FROM embeddings
        |              WHERE vec_id < 3),
        |qterms AS (SELECT qid, 'pe' || CAST(qid AS VARCHAR) || 't' ||
        |             CAST(i.i AS VARCHAR) AS term
        |           FROM qids CROSS JOIN range(1, 4) i(i)),
        |bridge AS (SELECT 9850000 + qid * 10 + j.j AS doc_id,
        |    array_to_string(list_transform(generate_series(1, 3),
        |      i -> 'pe' || CAST(qid AS VARCHAR) || 't' ||
        |        CAST(i AS VARCHAR)), ' ')
        |    || ' ' || concat_ws(' ',
        |      'pe' || CAST(qid AS VARCHAR) || 'e1',
        |      'pe' || CAST(qid AS VARCHAR) || 'e1',
        |      'pe' || CAST(qid AS VARCHAR) || 'e2',
        |      'pe' || CAST(qid AS VARCHAR) || 'e2') AS text
        |  FROM qids CROSS JOIN range(1, 4) j(j)),
        |hidden AS (SELECT did AS doc_id,
        |    concat_ws(' ',
        |      'pe' || CAST(qid AS VARCHAR) || 'e1',
        |      'pe' || CAST(qid AS VARCHAR) || 'e1',
        |      'pe' || CAST(qid AS VARCHAR) || 'e2',
        |      'pe' || CAST(qid AS VARCHAR) || 'e2')
        |    || ' ' ||
        |    array_to_string(list_transform(generate_series(1, 4),
        |      kk -> 'px' || CAST(did AS VARCHAR) || 'x' ||
        |        CAST(kk AS VARCHAR)), ' ') AS text
        |  FROM (SELECT qid, 9860000 + qid * 10 + j.j AS did
        |        FROM qids CROSS JOIN range(1, 4) j(j))),
        |docs AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id, text FROM bridge
        |  UNION ALL SELECT doc_id, text FROM hidden),
        |tf AS MATERIALIZED (SELECT doc_id, term,
        |    CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(list_filter(
        |          string_split_regex(trim(lower(text)), '\s+'),
        |          x -> x <> '')) AS term
        |        FROM docs) GROUP BY 1, 2),
        |s1 AS (SELECT q.qid AS query_id, t.doc_id,
        |         CAST(sum(t.tf) AS BIGINT) AS score
        |       FROM tf t JOIN qterms q USING (term) GROUP BY 1, 2),
        |c1 AS (SELECT query_id, doc_id, rank FROM (
        |    SELECT query_id, doc_id, row_number() OVER (
        |      PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
        |    FROM s1) WHERE rank <= 10),
        |fb AS (SELECT query_id AS qid, doc_id FROM c1 WHERE rank <= 3),
        |et AS (SELECT qid, term FROM (
        |    SELECT qid, term, row_number() OVER (
        |      PARTITION BY qid ORDER BY mass DESC, term) AS rn
        |    FROM (SELECT f.qid, t.term, CAST(sum(t.tf) AS BIGINT) AS mass
        |          FROM tf t JOIN fb f USING (doc_id)
        |          WHERE t.term NOT IN (SELECT term FROM qterms)
        |          GROUP BY 1, 2)) WHERE rn <= 2),
        |q2 AS (SELECT qid, term FROM qterms
        |       UNION ALL SELECT qid, term FROM et),
        |s2 AS (SELECT q.qid AS query_id, t.doc_id,
        |         CAST(sum(t.tf) AS BIGINT) AS score
        |       FROM tf t JOIN q2 q USING (term) GROUP BY 1, 2),
        |c2 AS (SELECT query_id, doc_id FROM (
        |    SELECT query_id, doc_id, row_number() OVER (
        |      PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
        |    FROM s2) WHERE rank <= 10),
        |rel AS (SELECT doc_id,
        |          CASE WHEN doc_id >= 9860000
        |               THEN (doc_id - 9860000) // 10
        |               ELSE (doc_id - 9850000) // 10 END AS query_id
        |        FROM (SELECT doc_id FROM bridge
        |              UNION ALL SELECT doc_id FROM hidden)),
        |nr AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
        |       FROM rel GROUP BY 1),
        |ne AS (SELECT qid AS query_id, CAST(count(*) AS BIGINT)
        |         AS n_expansion
        |       FROM et GROUP BY 1),
        |r1 AS (SELECT c.query_id, CAST(count(*) AS BIGINT) AS hit
        |       FROM c1 c JOIN rel USING (query_id, doc_id) GROUP BY 1),
        |r2 AS (SELECT c.query_id, CAST(count(*) AS BIGINT) AS hit
        |       FROM c2 c JOIN rel USING (query_id, doc_id) GROUP BY 1)
        |SELECT n.query_id, n.n_rel, ne.n_expansion,
        |  (2 * 1000000 * r1.hit + n.n_rel) // (2 * n.n_rel)
        |    AS recall1_x1e6,
        |  (2 * 1000000 * r2.hit + n.n_rel) // (2 * n.n_rel)
        |    AS recall2_x1e6,
        |  ((2 * 1000000 * r2.hit + n.n_rel) // (2 * n.n_rel) >
        |   (2 * 1000000 * r1.hit + n.n_rel) // (2 * n.n_rel))
        |    AS expansion_ok
        |FROM nr n JOIN ne USING (query_id) JOIN r1 USING (query_id)
        |JOIN r2 USING (query_id)""".stripMargin),

    // Percolation / reverse search (round 11) — the alerting
    // primitive (Elastic's percolator): STORED queries match against
    // the document stream instead of documents against a query. Ten
    // stored conjunctive queries derive deterministically from the
    // corpus (query q = the first 3 distinct tokens of doc 37·q); a
    // doc matches iff it contains ALL the query's terms. Shape: the
    // stored-query term table is tiny and BROADCAST into the one
    // (doc, term) distinct frame; the match test is a count-equals
    // rollup — the inverted-index-free form that rides any scan (at
    // alert-rule scale you'd flip to InvertedIndex postings).
    Query("percolate", { (s, d) =>
      // Round-20 shape: the stored-query definitions derive from 10
      // known doc ids (the filter pushes into the scan), and the match
      // test only needs the (doc, term) incidence of the ~30 stored
      // terms — so the broadcast probe moves BEFORE any exchange
      // (guide §2.3) and the old corpus-token-scale distinct + eager
      // cache disappears. The distinct runs on the probe-filtered
      // stream (stored-term rows only), so per-(query, doc) hits count
      // each term once exactly as before.
      val docs = Tables.documents(s, d)
      def toks(df: DataFrame) = df.select(col("doc_id"),
        explode(TextOps.tokens(lower(col("text")))).as("term"))
      val qdefs = toks(docs
          .filter(pmod(col("doc_id"), lit(37L)) === 0 && col("doc_id") < 370L))
        .distinct()
        .withColumn("rn", row_number().over(
          Window.partitionBy("doc_id").orderBy("term")))
        .filter(col("rn") <= 3)
        .select((col("doc_id") / 37L).cast("long").as("query_id"),
          col("term"))
        .localCheckpoint(true)
      val qsizes = qdefs.groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_terms"))
      toks(Dedup.rebalance(docs)).join(broadcast(qdefs), "term")
        .select(col("query_id"), col("doc_id"), col("term")).distinct()
        .groupBy(col("query_id"), col("doc_id"))
        .agg(count(lit(1)).as("hit"))
        .join(broadcast(qsizes), "query_id")
        .filter(col("hit") === col("n_terms"))
        .groupBy(col("query_id"), col("n_terms"))
        .agg(count(lit(1)).as("n_matching_docs"),
          min(col("doc_id")).as("first_match"))
    },
      // percolate: same derived stored queries, ALL-terms conjunctive
      // match via count-equals.
      s"""WITH t AS (SELECT DISTINCT doc_id,
         |             unnest(list_transform($ToksSql, x -> lower(x))) AS term
         |           FROM documents),
         |qd AS (SELECT CAST(doc_id / 37 AS BIGINT) AS query_id, term FROM (
         |         SELECT doc_id, term,
         |                row_number() OVER (PARTITION BY doc_id
         |                                   ORDER BY term) AS rn
         |         FROM t WHERE doc_id % 37 = 0 AND doc_id < 370)
         |       WHERE rn <= 3),
         |qs AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_terms
         |       FROM qd GROUP BY 1),
         |m AS (SELECT qd.query_id, t.doc_id, CAST(count(*) AS BIGINT) AS hit
         |      FROM t JOIN qd USING (term) GROUP BY 1, 2)
         |SELECT m.query_id, n_terms,
         |       CAST(count(*) AS BIGINT) AS n_matching_docs,
         |       min(doc_id) AS first_match
         |FROM m JOIN qs ON qs.query_id = m.query_id
         |WHERE hit = n_terms
         |GROUP BY 1, 2""".stripMargin),

    // Hard-negative mining (round 11) — the contrastive-retriever
    // training primitive (DPR, Karpukhin et al. 2020): for each query,
    // the nearest NON-positive corpus vectors make the hardest
    // negatives. Positives here are the dense top-3 (the
    // self-supervised nearest-neighbor convention); negatives are
    // ranks 4..13 of the exact integer-L2 ranking over milli-quantized
    // vectors — every distance and tie-break integer, so the mined
    // pairs hash-oracle. 100 TB shape: queries broadcast against one
    // map-side scoring pass over the quantized corpus, ending in
    // TopKPerKey bounded heaps (swap the scan for the IVF bucket probe
    // at scale — the mining logic only sees per-query top-k frames).
    Query("hard_negatives", { (s, d) =>
      val nQ = 3; val nPos = 3; val k = 13
      val vecs = Tables.embeddings(s, d)
        .select(col("vec_id"), VectorOps.quantize1000(
          col("embedding").cast("array<double>")).as("q"))
        .localCheckpoint(true)
      val qs = vecs.filter(col("vec_id") < nQ)
        .select(col("vec_id").as("query_id"), col("q").as("qq"))
      val scored = vecs.crossJoin(broadcast(qs))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("doc_id"),
          VectorOps.idist2(col("q"), col("qq")).as("d2"))
      graft.plans.TopKPerKey.perKey(scored, Seq(col("query_id")),
          Seq(col("d2"), col("doc_id")), k)
        .select(col("query_id"),
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy("query_id").orderBy("d2", "doc_id"))
            .cast("long").as("rank"),
          col("doc_id"), col("d2"))
        .filter(col("rank") > nPos)
    },
      // hard_negatives: exact integer-L2 ranking replayed with the
      // 64-term literal distance sum (pq_topk's convention); positives =
      // top-3, negatives = ranks 4..13.
      {
        val ed2 = (1 to 64).map(j =>
          s"(c.q[$j] - qv.qq[$j]) * (c.q[$j] - qv.qq[$j])").mkString(" + ")
        s"""WITH q AS (SELECT vec_id,
           |    list_transform(embedding,
           |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS q
           |  FROM embeddings),
           |qv AS (SELECT vec_id AS query_id, q AS qq FROM q WHERE vec_id < 3),
           |d AS (SELECT qv.query_id, c.vec_id AS doc_id, CAST($ed2 AS BIGINT) AS d2
           |      FROM q c CROSS JOIN qv WHERE c.vec_id <> qv.query_id),
           |r AS (SELECT query_id, doc_id, d2,
           |        row_number() OVER (PARTITION BY query_id
           |                           ORDER BY d2, doc_id) AS rank
           |      FROM d)
           |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, d2 FROM r
           |WHERE rank > 3 AND rank <= 13""".stripMargin
      }),

    // TF-IDF top-3 terms per document (round 5) — keyword extraction /
    // boilerplate detection for training corpora. The score is
    // integer-scaled (floor(tf·ln(N/df)·1e6 + 0.5)) so BOTH engines
    // rank on the same BIGINT — a last-ulp ln() difference cannot flip
    // an ordering the way raw-double ranks could. Shape: explode →
    // (doc,term) count → term-df agg → join back → TopKPerKey bounded
    // heaps (map-side prune; ships ≤3 rows/doc/partition, no Window,
    // no sort). N rides in via a broadcast 1-row frame.
    Query("tfidf_topk", { (s, d) =>
      val docs = Dedup.rebalance(Tables.documents(s, d))
      // tf feeds two plan consumers (df agg + join back); eager
      // localCheckpoint explodes the corpus once — the Dedup.scala
      // signature-table convention (~45% off bm25_topk, same shape).
      val tf = docs
        .select(col("doc_id"), explode(TextOps.tokens(lower(col("text")))).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        .localCheckpoint(true)
      val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(dfreq, "term")
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          floor(col("tf") * log(col("n_docs").cast("double") / col("df")) * 1e6
            + 0.5).cast("long").as("score_x1e6"))
      graft.plans.TopKPerKey.perKey(scored,
        keys = Seq(col("doc_id")),
        order = Seq(col("score_x1e6").desc, col("term")), k = 3)
    },
      s"""WITH toks AS (SELECT doc_id,
         |                     unnest(list_transform($ToksSql, t -> lower(t))) AS term
         |              FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
         |sc AS (SELECT doc_id, tf.term, tf, df,
         |         CAST(floor(tf * ln(n_docs / df) * 1e6 + 0.5) AS BIGINT) AS score_x1e6
         |       FROM tf JOIN dfreq USING (term) CROSS JOIN n),
         |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |                                   ORDER BY score_x1e6 DESC, term) AS rn
         |      FROM sc)
         |SELECT doc_id, term, tf, df, score_x1e6 FROM r WHERE rn <= 3""".stripMargin),

    // BM25 top-3 terms per document (round 6) — tfidf_topk's keyword
    // extraction upgraded with document-length normalization (Robertson
    // k1=1.2, b=0.75; Lucene-style idf = ln(1+(N-df+0.5)/(df+0.5))).
    // Same cross-engine discipline as tfidf_topk: every input to the
    // double formula is an exact integer (tf, df, dl, N, total token
    // count), the op tree is written identically on both engines
    // (IEEE ops are exactly-rounded, so only ln's last ulp differs),
    // and the rank key is the 1e6-scaled BIGINT floor. dl/avgdl is
    // computed as dl*N/total — one division, no intermediate avgdl
    // rounding. Shape: one explode → (doc,term) tf agg reused for BOTH
    // df and dl (no second scan) → broadcast 1-row totals →
    // TopKPerKey bounded heaps.
    Query("bm25_topk", { (s, d) =>
      val docs = Dedup.rebalance(Tables.documents(s, d))
      // tf feeds three consumers (dl, df, scored join) — checkpoint so
      // the corpus explodes once (2.17 → 1.22 s at sf0.1).
      val tf = docs
        .select(col("doc_id"), explode(TextOps.tokens(lower(col("text")))).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        .localCheckpoint(true)
      val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val totals = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot"))
      val nd = col("n_docs").cast("double")
      val idf = log(lit(1.0) +
        (nd - col("df").cast("double") + lit(0.5)) / (col("df").cast("double") + lit(0.5)))
      val den = col("tf").cast("double") + lit(0.3) +
        lit(0.9) * col("dl").cast("double") * nd / col("tot").cast("double")
      val scored = tf.join(dfreq, "term").join(dl, "doc_id")
        .crossJoin(broadcast(totals))
        .select(col("doc_id"), col("term"), col("tf"), col("df"), col("dl"),
          floor(idf * (col("tf").cast("double") * lit(2.2)) / den * 1e6 + 0.5)
            .cast("long").as("score_x1e6"))
      graft.plans.TopKPerKey.perKey(scored,
        keys = Seq(col("doc_id")),
        order = Seq(col("score_x1e6").desc, col("term")), k = 3)
    },
      // bm25_topk: the double formula is written with the SAME op tree as
      // the Spark side (left-assoc products/divisions), so every IEEE op
      // rounds identically; ln is the only libm call (tfidf convention).
      s"""WITH toks AS (SELECT doc_id,
         |                     unnest(list_transform($ToksSql, t -> lower(t))) AS term
         |              FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |tot AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         |               CAST(sum(dl) AS DOUBLE) AS tot FROM dl),
         |sc AS (SELECT doc_id, tf.term, tf, df, dl,
         |         CAST(floor(
         |           ln(1.0 + (n_docs - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
         |           * (CAST(tf AS DOUBLE) * 2.2)
         |           / (CAST(tf AS DOUBLE) + 0.3 + 0.9 * CAST(dl AS DOUBLE) * n_docs / tot)
         |           * 1e6 + 0.5) AS BIGINT) AS score_x1e6
         |       FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN tot),
         |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |                                   ORDER BY score_x1e6 DESC, term) AS rn
         |      FROM sc)
         |SELECT doc_id, term, tf, df, dl, score_x1e6 FROM r WHERE rn <= 3""".stripMargin))
}
