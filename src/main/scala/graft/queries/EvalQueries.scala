package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.{Dedup, FeatureSelect, QualityFilter, TextOps}

/** Evaluation and classifier-metric queries: BLEU, ROUGE, chrF,
  * agreement, the NB quality classifier and its AUC, calibration and
  * feature scores.
  */
object EvalQueries {

  import QueryCommon._

  /** classifier_auc score-axis quantization width: the cumulative
    * midrank window rides at most this many rows regardless of
    * corpus size (the winsorize move — raw NB integer scores have
    * near-doc-cardinality distinct values at scale). */
  val AucBuckets: Int = 4096

  /** One (doc_id, tk, ck) row per document for the eval-metric queries
    * (rouge_n / bleu_corpus / chrf_eval): tk = reference tokens, ck =
    * candidate = the near-dup perturbation as a token slice (last 3
    * tokens dropped, min 1 kept). Reference and candidate live on the
    * SAME row, so the metric queries compute their clipped n-gram
    * overlaps map-side (ClippedOverlap kernel) with no gram exchange
    * and no checkpoint — the round-20 rewrite of the exploded
    * (doc, n, g) count/join form (guide §2.4). rebalance spreads the
    * per-row kernel work when the scan under-partitions. */
  private def refCandTokens(s: SparkSession, d: String): DataFrame =
    Dedup.rebalance(Tables.documents(s, d))
      .select(col("doc_id"), TextOps.tokens(col("text")).as("tk"))
      .withColumn("ck",
        expr("slice(tk, 1, CAST(greatest(size(tk) - 3, 1) AS INT))"))

  /** The supervised-quality corpus: documents ∪ three deterministic
    * degradations (2-token truncation, 50%-dot punctuation padding,
    * whitespace-stripped gluing), each tripping a different
    * QualityFilter rule so both label classes exist at every SF.
    * Shared by quality_classifier and feature_mi; the oracle replica
    * is the `aug` CTE. Id offsets keep the four slices provably
    * disjoint (documents ids are < 1e9 at every SF). */
  def perturbedCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val rtoks = TextOps.tokens(col("text"))
    val short = docs.select((col("doc_id") + 2000000000L).as("doc_id"),
      concat_ws(" ", slice(rtoks, 1, 2)).as("text"))
    val punct = docs.select((col("doc_id") + 3000000000L).as("doc_id"),
      concat(col("text"), lit(" "),
        expr("repeat('.', CAST(length(text) / 2 AS INT))")).as("text"))
    val glued = docs.select((col("doc_id") + 4000000000L).as("doc_id"),
      expr("replace(text, ' ', '')").as("text"))
    docs.unionByName(short).unionByName(punct).unionByName(glued)
  }

  /** The NB quality classifier's full train→score chain (the
    * quality_classifier construction), shared with `classifier_auc`:
    * one row per doc with (is_train, actual_keep, score) where score
    * is the exact-integer 1e6-scaled NB log-odds. */
  private[graft] def nbScores(s: SparkSession, d: String): DataFrame = {
      val K = 300
      // one corpus materialization; labels, split, and token arrays
      // derive map-side and feed every downstream consumer
      val aug = Dedup.rebalance(perturbedCorpus(s, d))
        .select(col("doc_id"),
          QualityFilter.keep(col("text")).as("actual_keep"),
          (pmod(Dedup.md5Hash60(col("doc_id").cast("string")), lit(2L)) === 0L)
            .as("is_train"),
          TextOps.tokens(lower(col("text"))).as("toks"))
        .localCheckpoint(true)
      // Round-20 shape: no per-(doc, term) tf materialization. The old
      // form aggregated token rows into a checkpointed (doc, keep,
      // train, term, tf) frame — nearly token-instance cardinality (a
      // corpus-sized eager cache) and an extra exchange — only to
      // re-aggregate it twice. Both consumers now ride the cached
      // token arrays directly: vocab counts train token instances in
      // ONE term-keyed partial+final agg (Σ tf over docs ≡ counting
      // instances), and the doc score broadcast-joins the 300-term
      // weight table BEFORE its doc-keyed agg, so only matched token
      // rows ever shuffle. Same exact integers; oracle unchanged.
      val words = aug.select(col("doc_id"), col("actual_keep"),
        col("is_train"), explode(col("toks")).as("term"))
      val vocab = words.filter(col("is_train"))
        .groupBy(col("term"))
        .agg(count(lit(1)).as("cc"),
          sum(when(col("actual_keep"), 1L).otherwise(0L)).as("pos_c"))
        .orderBy(col("cc").desc, col("term")).limit(K)
        .withColumn("neg_c", col("cc") - col("pos_c"))
        .localCheckpoint(true)
      val totals = vocab.agg(sum("pos_c").as("pos_tot"),
        sum("neg_c").as("neg_tot"), count(lit(1)).as("v"))
      val classes = aug.agg(
        sum(when(col("is_train") && col("actual_keep"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("is_train") && !col("actual_keep"), 1L).otherwise(0L)).as("n_neg"))
      val w = vocab.crossJoin(broadcast(totals))
        .select(col("term"),
          (floor(log((col("pos_c") + 1).cast("double") /
              (col("pos_tot") + col("v")).cast("double")) * 1e6 + 0.5).cast("long") -
           floor(log((col("neg_c") + 1).cast("double") /
              (col("neg_tot") + col("v")).cast("double")) * 1e6 + 0.5).cast("long"))
            .as("w_x1e6"))
      val docScore = words.select(col("doc_id"), col("term"))
        .join(broadcast(w), Seq("term"))
        .groupBy(col("doc_id"))
        .agg(sum(col("w_x1e6")).as("sum_w"))
      aug.select(col("doc_id"), col("actual_keep"), col("is_train"))
        .join(docScore, Seq("doc_id"), "left")
        .crossJoin(broadcast(classes))
        .select(col("doc_id"), col("is_train"), col("actual_keep"),
          (coalesce(col("sum_w"), lit(0L)) +
            floor(log((col("n_pos") + 1).cast("double") /
                (col("n_neg") + 1).cast("double")) * 1e6 + 0.5).cast("long"))
            .as("score"))
  }

  /** The NB classifier's train→score chain as shared oracle CTEs
    * (through `sc`: one row per doc with is_train/actual_keep/score) —
    * reused by quality_classifier and classifier_auc. */
  private def nbScoreCtes: String =
    s"""aug AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 2000000000,
         |         array_to_string(($ToksSql)[1:2], ' ')
         |  FROM documents
         |  UNION ALL
         |  SELECT doc_id + 3000000000,
         |         text || ' ' || repeat('.', length(text) // 2)
         |  FROM documents
         |  UNION ALL
         |  SELECT doc_id + 4000000000, replace(text, ' ', '') FROM documents),
         |m AS (SELECT doc_id, text, $ToksSql AS rtoks,
         |        CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS BIGINT)
         |          AS n_punct
         |      FROM aug),
         |lab AS (SELECT doc_id,
         |          NOT ((len(rtoks) < 5) OR (len(rtoks) > 50000)
         |            OR (len(rtoks) > 0 AND
         |                (CAST(length(array_to_string(rtoks, '')) AS DOUBLE) / len(rtoks) < 2.0
         |                 OR CAST(length(array_to_string(rtoks, '')) AS DOUBLE) / len(rtoks) > 15.0))
         |            OR (length(text) > 0 AND CAST(n_punct AS DOUBLE) / length(text) > 0.2))
         |            AS actual_keep,
         |          (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
         |             % 2 = 0) AS is_train,
         |          list_transform(rtoks, t -> lower(t)) AS toks
         |        FROM m),
         |tw AS (SELECT doc_id, actual_keep, is_train, unnest(toks) AS term FROM lab),
         |tf AS (SELECT doc_id, actual_keep, is_train, term,
         |              CAST(count(*) AS BIGINT) AS tf
         |       FROM tw GROUP BY 1, 2, 3, 4),
         |vocab AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cc,
         |            CAST(sum(CASE WHEN actual_keep THEN tf ELSE 0 END) AS BIGINT)
         |              AS pos_c
         |          FROM tf WHERE is_train GROUP BY 1
         |          ORDER BY cc DESC, term LIMIT 300),
         |vc AS (SELECT term, cc, pos_c, cc - pos_c AS neg_c FROM vocab),
         |tot AS (SELECT CAST(sum(pos_c) AS BIGINT) AS pos_tot,
         |               CAST(sum(neg_c) AS BIGINT) AS neg_tot,
         |               CAST(count(*) AS BIGINT) AS v
         |        FROM vc),
         |cls AS (SELECT
         |          CAST(sum(CASE WHEN is_train AND actual_keep THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_pos,
         |          CAST(sum(CASE WHEN is_train AND NOT actual_keep THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_neg
         |        FROM lab),
         |w AS (SELECT term,
         |        CAST(floor(ln(CAST(pos_c + 1 AS DOUBLE) /
         |                      CAST(pos_tot + v AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
         |        - CAST(floor(ln(CAST(neg_c + 1 AS DOUBLE) /
         |                        CAST(neg_tot + v AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
         |          AS w_x1e6
         |      FROM vc CROSS JOIN tot),
         |ds AS (SELECT doc_id, CAST(sum(tf * w_x1e6) AS BIGINT) AS sum_w
         |       FROM tf JOIN w USING (term) GROUP BY 1),
         |sc AS (SELECT lab.doc_id, is_train, actual_keep,
         |         coalesce(sum_w, 0)
         |           + CAST(floor(ln(CAST(n_pos + 1 AS DOUBLE) /
         |                           CAST(n_neg + 1 AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
         |           AS score
         |       FROM lab LEFT JOIN ds USING (doc_id) CROSS JOIN cls)""".stripMargin

  val all: Seq[Query] = Seq(
    // Corpus-level BLEU components (round 14) — Papineni et al. 2002
    // beside rouge_n's per-doc recall view: clipped n-gram PRECISION
    // for n = 1..4 summed over the corpus (BLEU's counting rule:
    // Σ_docs Σ_grams min(count_cand, count_ref) over Σ candidate
    // grams), plus the brevity inputs (candidate/reference lengths,
    // their HALF_UP 1e6 ratio, and whether the penalty regime
    // applies). The geometric mean and exp(1−r/c) stay OUT of the
    // contract — transcendentals would gamble on cross-engine libm;
    // the emitted components reconstruct the score in one line
    // downstream. Same tagged-gram plan as rouge_n, four orders in
    // ONE (doc, n, g) exchange per side. */
    Query("bleu_corpus", { (s, d) =>
      // Round-20 kernel form: ref and cand share a row, so all four
      // orders' clipped counts derive map-side (ClippedOverlap) and
      // the whole query is ONE partial+final aggregate — the exploded
      // form paid two (doc, n, g) count exchanges + the clipped join
      // for statistics every row can compute locally. Values are the
      // same exact integers; the unchanged DuckDB oracle re-proves it.
      val ov = refCandTokens(s, d)
        .select(graft.ext.expr.ClippedOverlap.of(col("tk"), col("ck"), 4)
          .as("ov"))
      val aggs = (1 to 4).flatMap(n => Seq(
        sum(element_at(col("ov"), 3 * (n - 1) + 1)).as(s"m_$n"),
        sum(element_at(col("ov"), 3 * (n - 1) + 3)).as(s"tot_$n"))) :+
        sum(element_at(col("ov"), 2)).as("r_len")
      ov.agg(aggs.head, aggs.tail: _*)
        .selectExpr(Seq("r_len", "tot_1 AS c_len",
          "CASE WHEN r_len > 0 THEN " +
            "(2 * 1000000 * tot_1 + r_len) div (2 * r_len) " +
            "ELSE 0L END AS len_ratio_x1e6",
          "tot_1 < r_len AS brevity_applied") ++
          (1 to 4).flatMap(n => Seq(s"m_$n", s"tot_$n",
            s"CASE WHEN tot_$n > 0 THEN " +
              s"(2 * 1000000 * m_$n + tot_$n) div (2 * tot_$n) " +
              s"ELSE 0L END AS p${n}_x1e6")): _*)
    },
      // bleu_corpus: the same tagged-gram clipped counting, four orders
      // via lead windows; the brevity inputs and HALF_UP precision cells
      // replay exactly.
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> x <> '') AS tk
        |  FROM documents),
        |cnd AS (SELECT doc_id,
        |    list_slice(tk, 1, greatest(len(tk) - 3, 1)) AS tk FROM t),
        |rp AS (SELECT doc_id, unnest(tk) AS w,
        |         generate_subscripts(tk, 1) AS pos FROM t),
        |cp AS (SELECT doc_id, unnest(tk) AS w,
        |         generate_subscripts(tk, 1) AS pos FROM cnd),
        |rg AS (
        |  SELECT doc_id, 1 AS n, w AS g FROM rp
        |  UNION ALL SELECT doc_id, 2, concat_ws(' ', w, w1) FROM (
        |    SELECT doc_id, w, lead(w, 1) OVER win AS w1 FROM rp
        |    WINDOW win AS (PARTITION BY doc_id ORDER BY pos))
        |    WHERE w1 IS NOT NULL
        |  UNION ALL SELECT doc_id, 3, concat_ws(' ', w, w1, w2) FROM (
        |    SELECT doc_id, w, lead(w, 1) OVER win AS w1,
        |           lead(w, 2) OVER win AS w2 FROM rp
        |    WINDOW win AS (PARTITION BY doc_id ORDER BY pos))
        |    WHERE w2 IS NOT NULL
        |  UNION ALL SELECT doc_id, 4, concat_ws(' ', w, w1, w2, w3) FROM (
        |    SELECT doc_id, w, lead(w, 1) OVER win AS w1,
        |           lead(w, 2) OVER win AS w2,
        |           lead(w, 3) OVER win AS w3 FROM rp
        |    WINDOW win AS (PARTITION BY doc_id ORDER BY pos))
        |    WHERE w3 IS NOT NULL),
        |cg AS (
        |  SELECT doc_id, 1 AS n, w AS g FROM cp
        |  UNION ALL SELECT doc_id, 2, concat_ws(' ', w, w1) FROM (
        |    SELECT doc_id, w, lead(w, 1) OVER win AS w1 FROM cp
        |    WINDOW win AS (PARTITION BY doc_id ORDER BY pos))
        |    WHERE w1 IS NOT NULL
        |  UNION ALL SELECT doc_id, 3, concat_ws(' ', w, w1, w2) FROM (
        |    SELECT doc_id, w, lead(w, 1) OVER win AS w1,
        |           lead(w, 2) OVER win AS w2 FROM cp
        |    WINDOW win AS (PARTITION BY doc_id ORDER BY pos))
        |    WHERE w2 IS NOT NULL
        |  UNION ALL SELECT doc_id, 4, concat_ws(' ', w, w1, w2, w3) FROM (
        |    SELECT doc_id, w, lead(w, 1) OVER win AS w1,
        |           lead(w, 2) OVER win AS w2,
        |           lead(w, 3) OVER win AS w3 FROM cp
        |    WINDOW win AS (PARTITION BY doc_id ORDER BY pos))
        |    WHERE w3 IS NOT NULL),
        |rcn AS (SELECT doc_id, n, g, count(*) AS cr FROM rg GROUP BY 1, 2, 3),
        |ccn AS (SELECT doc_id, n, g, count(*) AS cc FROM cg GROUP BY 1, 2, 3),
        |mm AS (SELECT n, CAST(sum(least(cr, cc)) AS BIGINT) AS m
        |       FROM rcn JOIN ccn USING (doc_id, n, g) GROUP BY 1),
        |tt AS (SELECT n, CAST(sum(cc) AS BIGINT) AS tot FROM ccn GROUP BY 1),
        |agg AS (SELECT
        |  (SELECT CAST(coalesce(sum(cr), 0) AS BIGINT) FROM rcn WHERE n = 1)
        |    AS r_len,
        |  (SELECT coalesce(tot, 0) FROM tt WHERE n = 1) AS tot_1,
        |  (SELECT coalesce(m, 0) FROM mm WHERE n = 1) AS m_1,
        |  (SELECT coalesce(tot, 0) FROM tt WHERE n = 2) AS tot_2,
        |  (SELECT coalesce(m, 0) FROM mm WHERE n = 2) AS m_2,
        |  (SELECT coalesce(tot, 0) FROM tt WHERE n = 3) AS tot_3,
        |  (SELECT coalesce(m, 0) FROM mm WHERE n = 3) AS m_3,
        |  (SELECT coalesce(tot, 0) FROM tt WHERE n = 4) AS tot_4,
        |  (SELECT coalesce(m, 0) FROM mm WHERE n = 4) AS m_4)
        |SELECT r_len, tot_1 AS c_len,
        |  CAST(CASE WHEN r_len > 0 THEN
        |    (2 * 1000000 * tot_1 + r_len) // (2 * r_len)
        |    ELSE 0 END AS BIGINT) AS len_ratio_x1e6,
        |  tot_1 < r_len AS brevity_applied,
        |  m_1, tot_1, CAST(CASE WHEN tot_1 > 0 THEN
        |    (2 * 1000000 * m_1 + tot_1) // (2 * tot_1) ELSE 0 END
        |    AS BIGINT) AS p1_x1e6,
        |  m_2, tot_2, CAST(CASE WHEN tot_2 > 0 THEN
        |    (2 * 1000000 * m_2 + tot_2) // (2 * tot_2) ELSE 0 END
        |    AS BIGINT) AS p2_x1e6,
        |  m_3, tot_3, CAST(CASE WHEN tot_3 > 0 THEN
        |    (2 * 1000000 * m_3 + tot_3) // (2 * tot_3) ELSE 0 END
        |    AS BIGINT) AS p3_x1e6,
        |  m_4, tot_4, CAST(CASE WHEN tot_4 > 0 THEN
        |    (2 * 1000000 * m_4 + tot_4) // (2 * tot_4) ELSE 0 END
        |    AS BIGINT) AS p4_x1e6
        |FROM agg""".stripMargin),

    // ROUGE-1/2 F1 (round 14) — the summarization-eval metric as a
    // corpus operator (Lin 2004): per document, candidate = the
    // near-dup perturbation (last 3 tokens dropped — the withNearDups
    // construction as a token slice) scored against the original as
    // reference. CLIPPED multiset overlap (Σ min(count_ref,
    // count_cand) per gram — the ROUGE/BLEU counting rule, unlike
    // ngram_jaccard's set semantics), and F1 collapses to the exact
    // rational 2m/(n_ref + n_cand), emitted as a HALF_UP 1e6 cell —
    // no floats anywhere. Bigram arrays guard the size<2 case
    // (sequence(1,0) would DESCEND in Spark). 100 TB shape: two
    // (doc, gram)-keyed count aggs + one equi-join on that key per n
    // — the doc_repetition exchange pattern; per-doc outputs. */
    Query("rouge_n", { (s, d) =>
      // Round-20 kernel form: the candidate is a token slice of the
      // reference ON THE SAME ROW, so both orders' clipped counts
      // derive map-side (ClippedOverlap) and the query plans ZERO
      // exchanges — the exploded form paid two (doc, n, g) count
      // exchanges + a clipped join + a doc-keyed pivot for per-row
      // statistics. The empty-token filter reproduces the exploded
      // form's row set exactly (explode dropped gram-less docs); all
      // counts are the same exact integers under the unchanged oracle.
      refCandTokens(s, d).filter(size(col("tk")) >= 1)
        .select(col("doc_id"),
          graft.ext.expr.ClippedOverlap.of(col("tk"), col("ck"), 2)
            .as("ov"))
        .selectExpr("doc_id",
          "element_at(ov, 2) AS nref_1", "element_at(ov, 3) AS ncand_1",
          "element_at(ov, 1) AS m_1",
          "element_at(ov, 5) AS nref_2", "element_at(ov, 6) AS ncand_2",
          "element_at(ov, 4) AS m_2")
        .selectExpr("doc_id", "nref_1", "ncand_1", "m_1",
          "CASE WHEN nref_1 + ncand_1 > 0 THEN " +
            "(2 * 1000000 * m_1 + (nref_1 + ncand_1)) div " +
            "(2 * (nref_1 + ncand_1)) ELSE 0L END AS rouge1_f_x1e6",
          "nref_2", "ncand_2", "m_2",
          "CASE WHEN nref_2 + ncand_2 > 0 THEN " +
            "(2 * 1000000 * m_2 + (nref_2 + ncand_2)) div " +
            "(2 * (nref_2 + ncand_2)) ELSE 0L END AS rouge2_f_x1e6")
    },
      // rouge_n: the same clipped-multiset counting and HALF_UP F cells,
      // candidate built by the identical token slice.
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> x <> '') AS tk
        |  FROM documents),
        |cnd AS (SELECT doc_id,
        |    list_slice(tk, 1, greatest(len(tk) - 3, 1)) AS tk FROM t),
        |ru AS (SELECT doc_id, unnest(tk) AS g FROM t),
        |cu AS (SELECT doc_id, unnest(tk) AS g FROM cnd),
        |rp AS (SELECT doc_id, unnest(tk) AS w,
        |         generate_subscripts(tk, 1) AS pos FROM t),
        |cp AS (SELECT doc_id, unnest(tk) AS w,
        |         generate_subscripts(tk, 1) AS pos FROM cnd),
        |rb AS (SELECT doc_id, concat_ws(' ', w, nx) AS g FROM (
        |         SELECT doc_id, w, lead(w) OVER (PARTITION BY doc_id
        |           ORDER BY pos) AS nx FROM rp) WHERE nx IS NOT NULL),
        |cb AS (SELECT doc_id, concat_ws(' ', w, nx) AS g FROM (
        |         SELECT doc_id, w, lead(w) OVER (PARTITION BY doc_id
        |           ORDER BY pos) AS nx FROM cp) WHERE nx IS NOT NULL),
        |r1c AS (SELECT doc_id, g, count(*) AS cr FROM ru GROUP BY 1, 2),
        |c1c AS (SELECT doc_id, g, count(*) AS cc FROM cu GROUP BY 1, 2),
        |r2c AS (SELECT doc_id, g, count(*) AS cr FROM rb GROUP BY 1, 2),
        |c2c AS (SELECT doc_id, g, count(*) AS cc FROM cb GROUP BY 1, 2),
        |m1 AS (SELECT doc_id, sum(least(cr, cc)) AS m
        |       FROM r1c JOIN c1c USING (doc_id, g) GROUP BY 1),
        |m2 AS (SELECT doc_id, sum(least(cr, cc)) AS m
        |       FROM r2c JOIN c2c USING (doc_id, g) GROUP BY 1),
        |s1 AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
        |         CAST(coalesce(a.nr, 0) AS BIGINT) AS nref_1,
        |         CAST(coalesce(b.nc, 0) AS BIGINT) AS ncand_1
        |       FROM (SELECT doc_id, sum(cr) AS nr FROM r1c GROUP BY 1) a
        |       FULL JOIN (SELECT doc_id, sum(cc) AS nc FROM c1c
        |                  GROUP BY 1) b USING (doc_id)),
        |s2 AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
        |         CAST(coalesce(a.nr, 0) AS BIGINT) AS nref_2,
        |         CAST(coalesce(b.nc, 0) AS BIGINT) AS ncand_2
        |       FROM (SELECT doc_id, sum(cr) AS nr FROM r2c GROUP BY 1) a
        |       FULL JOIN (SELECT doc_id, sum(cc) AS nc FROM c2c
        |                  GROUP BY 1) b USING (doc_id)),
        |f1 AS (SELECT s1.doc_id, nref_1, ncand_1,
        |         CAST(coalesce(m1.m, 0) AS BIGINT) AS m_1,
        |         CAST(CASE WHEN nref_1 + ncand_1 > 0
        |           THEN (2 * 1000000 * coalesce(m1.m, 0)
        |                 + (nref_1 + ncand_1))
        |                // (2 * (nref_1 + ncand_1)) ELSE 0 END AS BIGINT)
        |           AS rouge1_f_x1e6
        |       FROM s1 LEFT JOIN m1 USING (doc_id)),
        |f2 AS (SELECT s2.doc_id, nref_2, ncand_2,
        |         CAST(coalesce(m2.m, 0) AS BIGINT) AS m_2,
        |         CAST(CASE WHEN nref_2 + ncand_2 > 0
        |           THEN (2 * 1000000 * coalesce(m2.m, 0)
        |                 + (nref_2 + ncand_2))
        |                // (2 * (nref_2 + ncand_2)) ELSE 0 END AS BIGINT)
        |           AS rouge2_f_x1e6
        |       FROM s2 LEFT JOIN m2 USING (doc_id))
        |SELECT coalesce(f1.doc_id, f2.doc_id) AS doc_id,
        |       coalesce(nref_1, 0) AS nref_1,
        |       coalesce(ncand_1, 0) AS ncand_1,
        |       coalesce(m_1, 0) AS m_1,
        |       coalesce(rouge1_f_x1e6, 0) AS rouge1_f_x1e6,
        |       coalesce(nref_2, 0) AS nref_2,
        |       coalesce(ncand_2, 0) AS ncand_2,
        |       coalesce(m_2, 0) AS m_2,
        |       coalesce(rouge2_f_x1e6, 0) AS rouge2_f_x1e6
        |FROM f1 FULL JOIN f2 USING (doc_id)""".stripMargin),

    // chrF (round 16) — the character-n-gram F-score (Popović 2015)
    // beside BLEU (token precision) and ROUGE (token F1), completing
    // the eval-metric family: tokenization-free, so it credits
    // morphological near-matches token metrics miss. Rides the
    // rouge_n candidate frame (reference = the document, candidate =
    // the 3-token-dropped near-dup slice), both sides
    // whitespace-stripped (the chrF convention) via array_join of the
    // shared token arrays. Orders n = 1..3 over the SAME tagged
    // (doc, n, g) count exchange + single clipped join as rouge_n;
    // per order the exact clipped m / cand-total / ref-total, HALF-UP
    // 1e6 precision+recall cells; CHRP/CHRR = HALF-UP means over the
    // 3 order cells (sacrebleu's average-then-F form) and
    // chrF(β=2) = 5·P·R/(4P+R) on those cells — exact integers end
    // to end, no libm. Zero-gram orders score 0 (the Popović
    // convention for short segments). 100 TB shape: the char-gram
    // explode is 3 streamed linear passes over cached token blocks
    // per side (fusing them was measured 2× worse — see grams());
    // everything after rides (doc, gram) keys.
    Query("chrf_eval", { (s, d) =>
      // Round-20 kernel form. History: the exploded (doc, n, g)
      // count/join shape measured 7.6 s at sf0.1, and two relational
      // "optimizations" were tried and REJECTED (fused
      // explode-of-structs 15.1 s; checkpointed char stream 7.4 s).
      // The kernel sidesteps the trade entirely: ref and cand are the
      // SAME ROW's token array (cand a slice of it), so all three
      // orders' clipped char-gram counts derive map-side
      // (ClippedOverlap, code-point windows ≡ substr semantics) and
      // the query plans ZERO gram exchanges — the char corpus never
      // shuffles at any scale. The empty-token filter reproduces the
      // exploded form's row set (explode dropped gram-less docs);
      // every count is the same exact integer under the unchanged
      // DuckDB oracle.
      refCandTokens(s, d).filter(size(col("tk")) >= 1)
        .select(col("doc_id"),
          graft.ext.expr.ClippedOverlap.of(
            array_join(col("tk"), ""), array_join(col("ck"), ""), 3)
            .as("ov"))
        .selectExpr(Seq("doc_id") ++
          (1 to 3).flatMap(n => Seq(
            s"element_at(ov, ${3 * (n - 1) + 1}) AS m_$n",
            s"element_at(ov, ${3 * (n - 1) + 3}) AS c_$n",
            s"element_at(ov, ${3 * (n - 1) + 2}) AS r_$n")): _*)
        .selectExpr(Seq("doc_id") ++
          (1 to 3).flatMap(n => Seq(s"m_$n", s"c_$n", s"r_$n",
            s"CASE WHEN c_$n > 0 THEN (2 * 1000000 * m_$n + c_$n) " +
              s"div (2 * c_$n) ELSE 0L END AS p${n}_x1e6",
            s"CASE WHEN r_$n > 0 THEN (2 * 1000000 * m_$n + r_$n) " +
              s"div (2 * r_$n) ELSE 0L END AS rc${n}_x1e6")): _*)
        .selectExpr("*",
          "(2 * (p1_x1e6 + p2_x1e6 + p3_x1e6) + 3) div 6 AS chrp_x1e6",
          "(2 * (rc1_x1e6 + rc2_x1e6 + rc3_x1e6) + 3) div 6 AS chrr_x1e6")
        .selectExpr("*",
          "CASE WHEN 4 * chrp_x1e6 + chrr_x1e6 > 0 THEN " +
            "(2 * 5 * chrp_x1e6 * chrr_x1e6 + (4 * chrp_x1e6 + chrr_x1e6))" +
            " div (2 * (4 * chrp_x1e6 + chrr_x1e6)) " +
            "ELSE 0L END AS chrf_x1e6")
    },
      // chrf_eval: same whitespace-stripped char-gram derivation (orders
      // 1..3), clipped counts, HALF_UP P/R cells, mean-then-F(β=2).
      {
        val ns = 1 to 3
        val cells = ns.flatMap(n => Seq(s"m_$n", s"c_$n", s"r_$n",
          s"""CAST(CASE WHEN c_$n > 0 THEN (2 * 1000000 * m_$n + c_$n)
             |  // (2 * c_$n) ELSE 0 END AS BIGINT) AS p${n}_x1e6""".stripMargin,
          s"""CAST(CASE WHEN r_$n > 0 THEN (2 * 1000000 * m_$n + r_$n)
             |  // (2 * r_$n) ELSE 0 END AS BIGINT) AS rc${n}_x1e6""".stripMargin))
          .mkString(",\n")
        val sums = ns.flatMap(n => Seq(
          s"CAST(coalesce(sum(CASE WHEN n = $n THEN m END), 0) AS BIGINT) AS m_$n",
          s"CAST(coalesce(sum(CASE WHEN n = $n THEN c END), 0) AS BIGINT) AS c_$n",
          s"CAST(coalesce(sum(CASE WHEN n = $n THEN r END), 0) AS BIGINT) AS r_$n"))
          .mkString(",\n")
        s"""WITH t AS (SELECT doc_id,
           |    list_filter(string_split_regex(trim(text), '\\s+'),
           |      x -> x <> '') AS tk
           |  FROM documents),
           |rt AS (SELECT doc_id, array_to_string(tk, '') AS t FROM t),
           |ct AS (SELECT doc_id, array_to_string(
           |         list_slice(tk, 1, greatest(len(tk) - 3, 1)), '') AS t
           |       FROM t),
           |rg AS (SELECT doc_id, n, unnest(CASE WHEN length(t) >= n
           |         THEN list_transform(generate_series(1, length(t) - n + 1),
           |                             i -> substr(t, i, n))
           |         ELSE [] END) AS g
           |       FROM (SELECT doc_id, t, unnest([1, 2, 3]) AS n FROM rt)),
           |cg AS (SELECT doc_id, n, unnest(CASE WHEN length(t) >= n
           |         THEN list_transform(generate_series(1, length(t) - n + 1),
           |                             i -> substr(t, i, n))
           |         ELSE [] END) AS g
           |       FROM (SELECT doc_id, t, unnest([1, 2, 3]) AS n FROM ct)),
           |rcn AS (SELECT doc_id, n, g, count(*) AS cr FROM rg GROUP BY 1, 2, 3),
           |ccn AS (SELECT doc_id, n, g, count(*) AS cc FROM cg GROUP BY 1, 2, 3),
           |mm AS (SELECT doc_id, n, sum(least(cr, cc)) AS m
           |       FROM rcn JOIN ccn USING (doc_id, n, g) GROUP BY 1, 2),
           |rs AS (SELECT doc_id, n, sum(cr) AS r FROM rcn GROUP BY 1, 2),
           |cs AS (SELECT doc_id, n, sum(cc) AS c FROM ccn GROUP BY 1, 2),
           |pn AS (SELECT coalesce(rs.doc_id, cs.doc_id) AS doc_id,
           |         coalesce(rs.n, cs.n) AS n,
           |         coalesce(rs.r, 0) AS r, coalesce(cs.c, 0) AS c,
           |         coalesce(mm.m, 0) AS m
           |       FROM rs FULL JOIN cs USING (doc_id, n)
           |       LEFT JOIN mm USING (doc_id, n)),
           |agg AS (SELECT doc_id,
           |$sums
           |        FROM pn GROUP BY 1),
           |cell AS (SELECT doc_id,
           |$cells
           |         FROM agg),
           |pr AS (SELECT *,
           |         (2 * (p1_x1e6 + p2_x1e6 + p3_x1e6) + 3) // 6 AS chrp_x1e6,
           |         (2 * (rc1_x1e6 + rc2_x1e6 + rc3_x1e6) + 3) // 6 AS chrr_x1e6
           |       FROM cell)
           |SELECT *,
           |  CAST(CASE WHEN 4 * chrp_x1e6 + chrr_x1e6 > 0 THEN
           |    (2 * 5 * chrp_x1e6 * chrr_x1e6 + (4 * chrp_x1e6 + chrr_x1e6))
           |    // (2 * (4 * chrp_x1e6 + chrr_x1e6))
           |  ELSE 0 END AS BIGINT) AS chrf_x1e6
           |FROM pr""".stripMargin
      }),

    // Cohen's kappa (round 14) — chance-corrected agreement between
    // two deterministic quality raters (Cohen 1960; the label-quality
    // audit a multi-heuristic curation pipeline needs): rater A = the
    // C4-style QualityFilter rule chain, rater B = an independent
    // crisp integer rule (≥ 10 tokens AND punctuation ≤ 20% of
    // chars), both over the perturbed corpus so both label classes
    // and genuine disagreement exist. κ = (n·agree − Σ marginal
    // products) / (n² − Σ marginal products) — exact integers end to
    // end, sign-split HALF_UP 1e6 cell (κ < 0 = worse than chance).
    // One map-side labeling pass + a 4-cell aggregate.
    Query("cohens_kappa", { (s, d) =>
      val docs = perturbedCorpus(s, d)
      val toks = size(TextOps.tokens(col("text"))).cast("long")
      val labeled = docs.select(
        QualityFilter.keep(col("text")).as("a"),
        (toks >= 10L &&
          TextOps.punctCount(col("text")) * 5L <= length(col("text")))
          .as("b"))
      labeled.agg(count(lit(1)).as("n"),
          sum(when(col("a"), 1L).otherwise(0L)).as("a1"),
          sum(when(col("b"), 1L).otherwise(0L)).as("b1"),
          sum(when(col("a") === col("b"), 1L).otherwise(0L)).as("agree"))
        .selectExpr("n", "a1", "b1", "agree",
          "CAST(a1 AS DECIMAL(38,0)) * b1 + " +
            "CAST(n - a1 AS DECIMAL(38,0)) * (n - b1) AS pe2")
        .selectExpr("n", "a1", "b1", "agree",
          "CAST(CASE WHEN CAST(n AS DECIMAL(38,0)) * n - pe2 = 0 THEN 0" +
            " WHEN CAST(n AS DECIMAL(38,0)) * agree - pe2 >= 0 THEN" +
            " (2 * 1000000 * (CAST(n AS DECIMAL(38,0)) * agree - pe2)" +
            " + (CAST(n AS DECIMAL(38,0)) * n - pe2)) div" +
            " (2 * (CAST(n AS DECIMAL(38,0)) * n - pe2))" +
            " ELSE -((2 * 1000000 * (pe2 - CAST(n AS DECIMAL(38,0)) * agree)" +
            " + (CAST(n AS DECIMAL(38,0)) * n - pe2)) div" +
            " (2 * (CAST(n AS DECIMAL(38,0)) * n - pe2)))" +
            " END AS BIGINT) AS kappa_x1e6")
    },
      // cohens_kappa: rater A replays the quality_filter rule replica;
      // rater B is the same crisp integer rule; the chance-corrected
      // cell is exact HUGEINT algebra.
      """WITH aug AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000000,
        |         array_to_string(
        |           (list_filter(string_split_regex(trim(text), '\s+'),
        |             x -> x <> ''))[1:2], ' ')
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 3000000000,
        |         text || ' ' || repeat('.', length(text) // 2)
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 4000000000, replace(text, ' ', '')
        |  FROM documents),
        |m AS (SELECT text,
        |        list_filter(string_split_regex(trim(text), '\s+'),
        |          x -> x <> '') AS toks,
        |        CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g'))
        |          AS BIGINT) AS n_punct
        |      FROM aug),
        |r AS (SELECT CAST(len(toks) AS BIGINT) AS n_words,
        |        CAST(length(array_to_string(toks, '')) AS BIGINT)
        |          AS char_sum,
        |        n_punct,
        |        CAST(length(text) AS BIGINT) AS text_len
        |      FROM m),
        |f AS (SELECT
        |        NOT ((n_words < 5) OR (n_words > 50000) OR
        |             (n_words > 0 AND
        |              (CAST(char_sum AS DOUBLE) / n_words < 2.0 OR
        |               CAST(char_sum AS DOUBLE) / n_words > 15.0)) OR
        |             (text_len > 0 AND
        |              CAST(n_punct AS DOUBLE) / text_len > 0.2)) AS a,
        |        (n_words >= 10 AND n_punct * 5 <= text_len) AS b
        |      FROM r),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS a1,
        |        CAST(sum(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS b1,
        |        CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT)
        |          AS agree
        |      FROM f),
        |x AS (SELECT n, a1, b1, agree,
        |        CAST(a1 AS HUGEINT) * b1
        |          + CAST(n - a1 AS HUGEINT) * (n - b1) AS pe2
        |      FROM s)
        |SELECT n, a1, b1, agree,
        |  CAST(CASE WHEN CAST(n AS HUGEINT) * n - pe2 = 0 THEN 0
        |    WHEN CAST(n AS HUGEINT) * agree - pe2 >= 0 THEN
        |      (2 * 1000000 * (CAST(n AS HUGEINT) * agree - pe2)
        |       + (CAST(n AS HUGEINT) * n - pe2))
        |      // (2 * (CAST(n AS HUGEINT) * n - pe2))
        |    ELSE -((2 * 1000000 * (pe2 - CAST(n AS HUGEINT) * agree)
        |       + (CAST(n AS HUGEINT) * n - pe2))
        |      // (2 * (CAST(n AS HUGEINT) * n - pe2)))
        |    END AS BIGINT) AS kappa_x1e6
        |FROM x""".stripMargin),

    // Supervised quality classifier (round 10) — the fastText-style
    // distillation step real curation pipelines run (Joulin et al.
    // 2016; CCNet, GPT-3 appendix A): take cheap rule labels
    // (QualityFilter.keep over the same perturbed corpus quality_filter
    // gates), hash-split docs into train/serve halves, train a
    // multinomial naive-Bayes token model on the train half, then
    // score EVERY doc and report the (is_train, actual, predicted)
    // confusion cells with exact BIGINT score sums. Unlike
    // dsir_weights (class = lang metadata, output = per-doc weights),
    // this is a full supervised loop: labels are COMPUTED, the model
    // is trained on a capped vocabulary (top-K=300 train terms by
    // count — the fastText bucket-cap analog, deterministic
    // (count desc, term) cut; OOV terms contribute 0), and the served
    // artifact is a decision. Exact-integer discipline throughout:
    // per-term log-odds and the class prior are floored to 1e6-scaled
    // BIGINTs BEFORE any aggregation (unigram_logprob convention), so
    // doc scores are exact integer sums and the confusion cells can't
    // drift. 100 TB shape: one corpus explode feeds label counts and
    // scoring; the model (vocab weights + totals + prior) is
    // model-sized and broadcast; everything between the (doc,term)
    // exchange and the 8-row output rides the capped vocab.
    Query("quality_classifier", { (s, d) =>
      nbScores(s, d)
        .groupBy(col("is_train"), col("actual_keep"),
          (col("score") > 0L).as("predicted_keep"))
        .agg(count(lit(1)).as("n_docs"), sum(col("score")).as("sum_score_x1e6"))
    },
      // quality_classifier: the full supervised loop replayed — same
      // perturbed corpus as quality_filter, md5 train split, top-300
      // train-term vocab, 1e6-floored NB log-odds + prior, confusion
      // cells with exact score sums.
      s"""WITH $nbScoreCtes
         |SELECT is_train, actual_keep, (score > 0) AS predicted_keep,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(score) AS BIGINT) AS sum_score_x1e6
         |FROM sc GROUP BY 1, 2, 3""".stripMargin),

    // Held-out AUC on a QUANTIZED score axis (round 11, quantization
    // round 12) — the threshold-free quality metric
    // quality_classifier's confusion cells can't express (accuracy
    // moves with the 0-threshold; AUC ranks the whole score axis).
    // The cumulative midrank window must ride a BOUNDED frame: raw NB
    // scores are exact integer sums, so their distinct cardinality
    // approaches held-out-doc cardinality at corpus scale — a
    // single-partition window over that is the winsorize failure
    // mode. So the score axis is first quantized into AucBuckets
    // equal-width integer buckets over [lo, hi] (the winsorize move;
    // exact integers: bucket = (score−lo)·B div (hi−lo+1), the
    // (score−lo) term cast DECIMAL(38,0) so the product can't
    // overflow at any corpus score range), and the Mann–Whitney
    // midrank identity runs per DISTINCT BUCKET: midrank×2 =
    // 2·cumBelow + cnt + 1, Σ_pos rank2 BIGINT-exact, AUC =
    // (Σ rank2 − P(P+1)) / (2PN) as one HALF_UP 1e6 cell — no floats
    // anywhere. Ties within a bucket coarsen AUC toward 1/2 by at
    // most the bucket mass (standard binned-AUC bias); the axis
    // bound is what buys the 100 TB shape: one (lo, hi) agg
    // broadcasts back, one partial+final agg onto ≤ B rows, and the
    // explicit single-group window runs over ≤ B = 4096 rows by
    // construction (PlanSpec holds the window input to the
    // bucket-keyed aggregate).
    Query("classifier_auc", { (s, d) =>
      val held = nbScores(s, d).filter(!col("is_train"))
      val bounds = held.agg(min(col("score")).as("lo"),
        max(col("score")).as("hi"))
      val bucketed = held.crossJoin(broadcast(bounds))
        .selectExpr(
          s"CAST((CAST(score - lo AS DECIMAL(38,0)) * $AucBuckets) " +
            "div (hi - lo + 1) AS BIGINT) AS bucket",
          "actual_keep")
      val byBucket = bucketed.groupBy(col("bucket"))
        .agg(count(lit(1)).as("cnt"),
          sum(when(col("actual_keep"), 1L).otherwise(0L)).as("pos"))
      val cum = Window.partitionBy(lit(0)).orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, -1)
      byBucket
        .withColumn("below", coalesce(sum(col("cnt")).over(cum), lit(0L)))
        .agg(count(lit(1)).as("n_buckets"),
          sum(col("pos")).as("n_pos"),
          sum(col("cnt") - col("pos")).as("n_neg"),
          sum(col("pos") * (lit(2L) * col("below") + col("cnt") + 1))
            .as("sum_rank2_pos"))
        .selectExpr("n_buckets", "n_pos", "n_neg", "sum_rank2_pos",
          """(2 * 1000000 * CAST(sum_rank2_pos - n_pos * (n_pos + 1) AS DECIMAL(38,0))
            |   + 2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg)
            | div (2 * 2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg) AS auc_x1e6"""
            .stripMargin)
    },
      // classifier_auc: same chain, held-out split, score axis
      // quantized into AucBuckets equal-width integer buckets (HUGEINT
      // product ≡ Spark's DECIMAL(38,0)), midrank×2 cumulative over the
      // ≤-4096-row bucket frame, Mann–Whitney HALF_UP cell.
      s"""WITH $nbScoreCtes,
         |held AS (SELECT score, actual_keep FROM sc WHERE NOT is_train),
         |bounds AS (SELECT min(score) AS lo, max(score) AS hi FROM held),
         |bysc AS (SELECT CAST(CAST(score - lo AS HUGEINT) * $AucBuckets
         |                     // (hi - lo + 1) AS BIGINT) AS bucket,
         |           CAST(count(*) AS BIGINT) AS cnt,
         |           CAST(sum(CASE WHEN actual_keep THEN 1 ELSE 0 END) AS BIGINT)
         |             AS pos
         |         FROM held CROSS JOIN bounds GROUP BY 1),
         |cw AS (SELECT bucket, cnt, pos,
         |         coalesce(sum(cnt) OVER (ORDER BY bucket
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
         |       FROM bysc),
         |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_buckets,
         |               CAST(sum(pos) AS BIGINT) AS n_pos,
         |               CAST(sum(cnt - pos) AS BIGINT) AS n_neg,
         |               CAST(sum(pos * (2 * below + cnt + 1)) AS BIGINT)
         |                 AS sum_rank2_pos
         |        FROM cw)
         |SELECT n_buckets, n_pos, n_neg, sum_rank2_pos,
         |       CAST((2 * 1000000 * CAST(sum_rank2_pos - n_pos * (n_pos + 1)
         |                                AS HUGEINT)
         |             + 2 * CAST(n_pos AS HUGEINT) * n_neg)
         |            // (2 * 2 * CAST(n_pos AS HUGEINT) * n_neg) AS BIGINT)
         |         AS auc_x1e6
         |FROM agg""".stripMargin),

    // Average precision / PR-AUC (round 15) — the class-imbalance
    // ranking metric beside classifier_auc's ROC (Davis & Goadrich,
    // ICML 2006: under heavy imbalance ROC flatters, PR doesn't): on
    // the SAME quantized AucBuckets axis, walk buckets from best
    // score down and sum each positive-carrying bucket's
    // precision-at-cut weighted by its recall mass — term_x1e6 =
    // HALF_UP(1e6·pos_i·cumPos_i / (n_pos·cumCnt_i)), every factor an
    // exact integer and the products DECIMAL(38,0)-routed, so
    // ap_x1e6 = Σ terms is exact (benford's rounded-term contract).
    // The lift verdict compares AP against prevalence (a random
    // ranker's AP) by pure-integer cross-multiplication. 100 TB
    // shape: identical to classifier_auc — one (lo, hi) agg
    // broadcasts back, one partial+final agg onto ≤ 4096 bucket rows,
    // the cumulative window rides that bounded frame.
    Query("auc_pr", { (s, d) =>
      val held = nbScores(s, d).filter(!col("is_train"))
      val bounds = held.agg(min(col("score")).as("lo"),
        max(col("score")).as("hi"))
      val byBucket = held.crossJoin(broadcast(bounds))
        .selectExpr(
          s"CAST((CAST(score - lo AS DECIMAL(38,0)) * $AucBuckets) " +
            "div (hi - lo + 1) AS BIGINT) AS bucket",
          "actual_keep")
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("cnt"),
          sum(when(col("actual_keep"), 1L).otherwise(0L)).as("pos"))
        .localCheckpoint(true)
      val tot = byBucket.agg(sum(col("pos")).as("tot_pos"))
      val cum = Window.partitionBy(lit(0)).orderBy(col("bucket").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      byBucket
        .withColumn("cum_pos", sum(col("pos")).over(cum))
        .withColumn("cum_cnt", sum(col("cnt")).over(cum))
        .crossJoin(broadcast(tot))
        .withColumn("term_x1e6", expr(
          "CASE WHEN pos > 0 THEN " +
            "CAST((2 * 1000000 * CAST(pos AS DECIMAL(38,0)) * cum_pos" +
            " + CAST(tot_pos AS DECIMAL(38,0)) * cum_cnt)" +
            " div (2 * CAST(tot_pos AS DECIMAL(38,0)) * cum_cnt)" +
            " AS BIGINT) ELSE CAST(0 AS BIGINT) END"))
        .agg(count(lit(1)).as("n_buckets"),
          sum(col("pos")).as("n_pos"),
          sum(col("cnt") - col("pos")).as("n_neg"),
          sum(col("term_x1e6")).as("ap_x1e6"))
        .selectExpr("n_buckets", "n_pos", "n_neg", "ap_x1e6",
          "(2 * 1000000 * n_pos + (n_pos + n_neg))" +
            " div (2 * (n_pos + n_neg)) AS prevalence_x1e6")
        .withColumn("lifts", col("ap_x1e6") > col("prevalence_x1e6"))
    },
      // auc_pr: the same bucketed held-out axis walked from the best
      // score down; per-bucket HALF_UP precision terms replay in
      // HUGEINT, prevalence compare is pure-integer.
      s"""WITH $nbScoreCtes,
         |held AS (SELECT score, actual_keep FROM sc WHERE NOT is_train),
         |bounds AS (SELECT min(score) AS lo, max(score) AS hi FROM held),
         |bysc AS (SELECT CAST(CAST(score - lo AS HUGEINT) * ${AucBuckets}
         |                     // (hi - lo + 1) AS BIGINT) AS bucket,
         |           CAST(count(*) AS BIGINT) AS cnt,
         |           CAST(sum(CASE WHEN actual_keep THEN 1 ELSE 0 END)
         |                AS BIGINT) AS pos
         |         FROM held CROSS JOIN bounds GROUP BY 1),
         |ptot AS (SELECT CAST(sum(pos) AS BIGINT) AS tot_pos FROM bysc),
         |cw AS (SELECT bucket, cnt, pos,
         |         sum(pos) OVER (ORDER BY bucket DESC
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS cum_pos,
         |         sum(cnt) OVER (ORDER BY bucket DESC
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS cum_cnt
         |       FROM bysc),
         |terms AS (SELECT cnt, pos,
         |            CASE WHEN pos > 0 THEN
         |              CAST((2 * 1000000 * CAST(pos AS HUGEINT) * cum_pos
         |                    + CAST(tot_pos AS HUGEINT) * cum_cnt)
         |                   // (2 * CAST(tot_pos AS HUGEINT) * cum_cnt)
         |                AS BIGINT) ELSE 0 END AS term_x1e6
         |          FROM cw CROSS JOIN ptot),
         |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_buckets,
         |          CAST(sum(pos) AS BIGINT) AS n_pos,
         |          CAST(sum(cnt - pos) AS BIGINT) AS n_neg,
         |          CAST(sum(term_x1e6) AS BIGINT) AS ap_x1e6
         |        FROM terms)
         |SELECT n_buckets, n_pos, n_neg, ap_x1e6,
         |       CAST((2 * 1000000 * n_pos + (n_pos + n_neg))
         |            // (2 * (n_pos + n_neg)) AS BIGINT) AS prevalence_x1e6,
         |       ap_x1e6 > (2 * 1000000 * n_pos + (n_pos + n_neg))
         |            // (2 * (n_pos + n_neg)) AS lifts
         |FROM agg""".stripMargin),

    // Classifier calibration curve (round 12) — the reliability
    // diagram next to classifier_auc's ranking metric (DeGroot &
    // Fienberg 1983; Niculescu-Mizil & Caruana 2005): held-out NB
    // scores bucket into 10 equal-width bins (the same exact-integer
    // DECIMAL(38,0) bin formula as the AUC quantizer, so no corpus
    // score range can overflow it) and each bin reports its doc
    // count, positive count, and HALF_UP empirical positive rate —
    // plus a running-max monotonicity certificate (a well-calibrated
    // score's positive rate is non-decreasing in the bin; the flag
    // pins WHERE it first inverts instead of averaging it away). The
    // certificate window is explicitly single-group but rides ≤ 10
    // post-aggregate rows by construction — the classifier_auc
    // bounded-axis discipline. 100 TB shape: one (lo, hi) agg
    // broadcasts back; one partial+final agg onto ≤ 10 rows.
    Query("classifier_calibration", { (s, d) =>
      val B = 10
      val held = nbScores(s, d).filter(!col("is_train"))
      val bounds = held.agg(min(col("score")).as("lo"),
        max(col("score")).as("hi"))
      val binned = held.crossJoin(broadcast(bounds))
        .selectExpr(
          s"CAST((CAST(score - lo AS DECIMAL(38,0)) * $B) " +
            "div (hi - lo + 1) AS BIGINT) AS bin",
          "actual_keep")
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("actual_keep"), 1L).otherwise(0L)).as("n_pos"))
        .withColumn("pos_rate_x1e6",
          expr("(2 * 1000000 * n_pos + n_docs) div (2 * n_docs)"))
      val prev = Window.partitionBy(lit(0)).orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, -1)
      binned
        .withColumn("prev_max", max(col("pos_rate_x1e6")).over(prev))
        .select(col("bin"), col("n_docs"), col("n_pos"),
          col("pos_rate_x1e6"),
          (col("prev_max").isNull ||
            col("pos_rate_x1e6") >= col("prev_max")).as("monotone_so_far"))
    },
      // classifier_calibration: same held-out frame, 10 equal-width
      // bins, running-max monotonicity over the ≤ 10 bin rows.
      s"""WITH $nbScoreCtes,
         |held AS (SELECT score, actual_keep FROM sc WHERE NOT is_train),
         |bounds AS (SELECT min(score) AS lo, max(score) AS hi FROM held),
         |bins AS (SELECT CAST(CAST(score - lo AS HUGEINT) * 10
         |                     // (hi - lo + 1) AS BIGINT) AS bin,
         |           CAST(count(*) AS BIGINT) AS n_docs,
         |           CAST(sum(CASE WHEN actual_keep THEN 1 ELSE 0 END)
         |                AS BIGINT) AS n_pos
         |         FROM held CROSS JOIN bounds GROUP BY 1),
         |rt AS (SELECT bin, n_docs, n_pos,
         |         CAST((2 * 1000000 * n_pos + n_docs) // (2 * n_docs)
         |              AS BIGINT) AS pos_rate_x1e6
         |       FROM bins)
         |SELECT bin, n_docs, n_pos, pos_rate_x1e6,
         |       coalesce(pos_rate_x1e6 >= max(pos_rate_x1e6) OVER (
         |         ORDER BY bin
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), TRUE)
         |         AS monotone_so_far
         |FROM rt""".stripMargin),

    // Brier score of the histogram-calibrated forecaster (round 15) —
    // the PROPER scoring rule beside classifier_auc's ranking metric
    // and classifier_calibration's reliability diagram (Brier 1950;
    // Murphy 1973): raw NB log-odds can't feed Brier exactly (sigmoid
    // is a libm transcendental — cross-engine drift), so the forecast
    // IS the calibration table: the TRAIN half's 10-bin empirical
    // positive rate (exact HALF_UP 1e6 cells), applied to HELD-OUT
    // docs binned on the train bounds (clamped into [0, B−1]; a held
    // bin the train half never populated falls back to the train base
    // rate). brier_x1e12 = HALF_UP mean of (rate − 1e6·y)² — integer
    // end-to-end — and the skill verdict compares it against the
    // constant held-base-rate forecaster, whose error sum collapses
    // algebraically to n_pos·(1e6−p̄)² + n_neg·p̄² (no per-doc pass).
    // 100 TB shape: the NB chain's envelope + two (lo, hi)-style aggs;
    // the rate table is ≤ 10 rows broadcast, the error sum one
    // partial+final agg.
    Query("brier_score", { (s, d) =>
      val B = 10
      val sc = nbScores(s, d).localCheckpoint(true)
      val train = sc.filter(col("is_train"))
      val bounds = train.agg(min(col("score")).as("lo"),
        max(col("score")).as("hi"))
      val binOf = s"least(CAST(${B - 1} AS BIGINT), greatest(CAST(0 AS BIGINT), " +
        s"CAST((CAST(score - lo AS DECIMAL(38,0)) * $B) " +
        "div (hi - lo + 1) AS BIGINT))) AS bin"
      val rates = train.crossJoin(broadcast(bounds))
        .selectExpr(binOf, "actual_keep")
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("actual_keep"), 1L).otherwise(0L)).as("n_pos"))
        .selectExpr("bin",
          "(2 * 1000000 * n_pos + n_docs) div (2 * n_docs) AS rate_x1e6")
      val trainBase = train.agg(count(lit(1)).as("tn"),
        sum(when(col("actual_keep"), 1L).otherwise(0L)).as("tpos"))
        .selectExpr("(2 * 1000000 * tpos + tn) div (2 * tn) AS base_rate_x1e6")
      sc.filter(!col("is_train")).crossJoin(broadcast(bounds))
        .selectExpr(binOf, "actual_keep")
        .join(broadcast(rates), Seq("bin"), "left")
        .crossJoin(broadcast(trainBase))
        .selectExpr("coalesce(rate_x1e6, base_rate_x1e6) AS p", "actual_keep")
        .agg(count(lit(1)).as("n_held"),
          sum(when(col("actual_keep"), 1L).otherwise(0L)).as("n_pos"),
          sum((col("p") - when(col("actual_keep"), 1000000L).otherwise(0L))
            .cast("decimal(38,0)") *
            (col("p") - when(col("actual_keep"), 1000000L).otherwise(0L)))
            .as("sq_sum"))
        .selectExpr("n_held", "n_pos",
          "CAST((2 * sq_sum + n_held) div (2 * CAST(n_held AS DECIMAL(38,0)))" +
            " AS BIGINT) AS brier_x1e12",
          "(2 * 1000000 * n_pos + n_held) div (2 * n_held) AS pbar_x1e6")
        .selectExpr("n_held", "n_pos", "brier_x1e12",
          "CAST((2 * (CAST(n_pos AS DECIMAL(38,0))" +
            " * (1000000 - pbar_x1e6) * (1000000 - pbar_x1e6)" +
            " + CAST(n_held - n_pos AS DECIMAL(38,0))" +
            " * pbar_x1e6 * pbar_x1e6) + n_held)" +
            " div (2 * CAST(n_held AS DECIMAL(38,0))) AS BIGINT)" +
            " AS base_brier_x1e12")
        .withColumn("skillful", col("brier_x1e12") < col("base_brier_x1e12"))
    },
      // brier_score: the train-half calibration table applied to the
      // held half, clamped bins, base-rate fallback; every cell replays
      // in HUGEINT (// ≡ div on the non-negative operands).
      s"""WITH $nbScoreCtes,
         |tr AS (SELECT score, actual_keep FROM sc WHERE is_train),
         |bounds AS (SELECT min(score) AS lo, max(score) AS hi FROM tr),
         |rates AS (SELECT least(9, greatest(0,
         |            CAST(CAST(score - lo AS HUGEINT) * 10
         |                 // (hi - lo + 1) AS BIGINT))) AS bin,
         |            CAST(count(*) AS BIGINT) AS n_docs,
         |            CAST(sum(CASE WHEN actual_keep THEN 1 ELSE 0 END)
         |                 AS BIGINT) AS n_pos
         |          FROM tr CROSS JOIN bounds GROUP BY 1),
         |rt AS (SELECT bin,
         |         CAST((2 * 1000000 * n_pos + n_docs) // (2 * n_docs)
         |              AS BIGINT) AS rate_x1e6
         |       FROM rates),
         |tb AS (SELECT CAST((2 * 1000000
         |           * sum(CASE WHEN actual_keep THEN 1 ELSE 0 END)
         |           + count(*)) // (2 * count(*)) AS BIGINT)
         |           AS base_rate_x1e6
         |       FROM tr),
         |hd AS (SELECT least(9, greatest(0,
         |            CAST(CAST(score - lo AS HUGEINT) * 10
         |                 // (hi - lo + 1) AS BIGINT))) AS bin,
         |            actual_keep
         |        FROM sc CROSS JOIN bounds WHERE NOT is_train),
         |err AS (SELECT coalesce(rate_x1e6, base_rate_x1e6) AS p,
         |          actual_keep
         |        FROM hd LEFT JOIN rt USING (bin) CROSS JOIN tb),
         |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_held,
         |          CAST(sum(CASE WHEN actual_keep THEN 1 ELSE 0 END)
         |               AS BIGINT) AS n_pos,
         |          sum(CAST(p - CASE WHEN actual_keep THEN 1000000
         |                        ELSE 0 END AS HUGEINT)
         |              * (p - CASE WHEN actual_keep THEN 1000000
         |                      ELSE 0 END)) AS sq_sum
         |        FROM err),
         |c1 AS (SELECT n_held, n_pos,
         |         CAST((2 * sq_sum + n_held)
         |              // (2 * CAST(n_held AS HUGEINT)) AS BIGINT)
         |           AS brier_x1e12,
         |         CAST((2 * 1000000 * n_pos + n_held) // (2 * n_held)
         |              AS BIGINT) AS pbar_x1e6
         |       FROM agg)
         |SELECT n_held, n_pos, brier_x1e12,
         |       CAST((2 * (CAST(n_pos AS HUGEINT)
         |              * (1000000 - pbar_x1e6) * (1000000 - pbar_x1e6)
         |              + CAST(n_held - n_pos AS HUGEINT)
         |              * pbar_x1e6 * pbar_x1e6) + n_held)
         |            // (2 * CAST(n_held AS HUGEINT)) AS BIGINT)
         |         AS base_brier_x1e12,
         |       brier_x1e12 < CAST((2 * (CAST(n_pos AS HUGEINT)
         |              * (1000000 - pbar_x1e6) * (1000000 - pbar_x1e6)
         |              + CAST(n_held - n_pos AS HUGEINT)
         |              * pbar_x1e6 * pbar_x1e6) + n_held)
         |            // (2 * CAST(n_held AS HUGEINT)) AS BIGINT)
         |         AS skillful
         |FROM c1""".stripMargin),

    // Uncertainty sampling for active learning (round 12) — Lewis &
    // Gale (SIGIR 1994): the labeling budget goes to the docs the
    // classifier is LEAST SURE about — smallest |score| (the NB
    // log-odds margin; 0 is the decision boundary), not random docs.
    // The annotation-queue builder every label-then-distill loop
    // (quality_classifier's deployment shape) runs between training
    // rounds. Held-out docs only (querying the model about its own
    // training set is wasted budget). Exact integers end-to-end;
    // deterministic (margin, doc_id) total order. 100 TB shape: the
    // NB chain's envelope + one bounded TakeOrdered cut — no global
    // sort materializes.
    Query("active_learning", { (s, d) =>
      nbScores(s, d).filter(!col("is_train"))
        .select(col("doc_id"), col("score"),
          abs(col("score")).as("margin"), col("actual_keep"))
        .orderBy(col("margin"), col("doc_id")).limit(20)
    },
      // active_learning: same held-out frame, smallest-|score| top-20.
      s"""WITH $nbScoreCtes
         |SELECT doc_id, score, abs(score) AS margin, actual_keep
         |FROM sc WHERE NOT is_train
         |ORDER BY margin, doc_id LIMIT 20""".stripMargin),

    // Mutual-information feature selection (round 10) — the
    // feature-audit step between rule labels and a trained filter
    // (Manning/Raghavan/Schütze IR ch. 13.5): over the SAME perturbed
    // corpus and QualityFilter labels quality_classifier trains on,
    // rank the top-300-df vocabulary by I(term-presence; label) and
    // report the 50 most label-informative terms with their full
    // 2×2 presence/label contingency cells. Exact-integer discipline:
    // cells come from one distinct-presence explode + exact counts;
    // each cell's ln(N·N_ij/(N_i·N_j)) is 1e6-floored from
    // exact-integer-valued ratios (arguments ≤ 4e8 — double-exact),
    // weighted by the exact N_ij and summed as BIGINTs; zero cells
    // contribute 0 (the 0·ln 0 limit). mi_num can sit a few 1e-6
    // below 0 on near-independent terms (floor jitter), so the
    // per-doc-scale mi_x1e6 clamps at 0 to keep HALF_UP on
    // non-negative operands — the signed mi_num ships alongside.
    // 100 TB shape: corpus explode → (term) agg; the vocab cut is a
    // TakeOrdered; cells and MI ride the 300-term frame with 1-row
    // totals broadcast.
    Query("feature_mi", { (s, d) =>
      val aug = Dedup.rebalance(perturbedCorpus(s, d))
        .select(col("doc_id"), QualityFilter.keep(col("text")).as("keep"),
          array_distinct(TextOps.tokens(lower(col("text")))).as("toks"))
        .localCheckpoint(true)
      FeatureSelect.mutualInfo(
        aug.select(col("doc_id"), col("keep")),
        aug.select(col("doc_id"), col("keep"), explode(col("toks")).as("term")),
        vocabK = 300, topK = 50)
    },
      // feature_mi: quality_classifier's aug corpus + labels, distinct
      // term presence, top-300-df vocab, 1e6-floored pointwise lns over
      // the exact 2×2 cells, clamped HALF_UP per-doc scale.
      s"""WITH aug AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 2000000000,
         |         array_to_string(($ToksSql)[1:2], ' ')
         |  FROM documents
         |  UNION ALL
         |  SELECT doc_id + 3000000000,
         |         text || ' ' || repeat('.', length(text) // 2)
         |  FROM documents
         |  UNION ALL
         |  SELECT doc_id + 4000000000, replace(text, ' ', '') FROM documents),
         |m AS (SELECT doc_id, text, $ToksSql AS rtoks,
         |        CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS BIGINT)
         |          AS n_punct
         |      FROM aug),
         |lab AS (SELECT doc_id,
         |          NOT ((len(rtoks) < 5) OR (len(rtoks) > 50000)
         |            OR (len(rtoks) > 0 AND
         |                (CAST(length(array_to_string(rtoks, '')) AS DOUBLE) / len(rtoks) < 2.0
         |                 OR CAST(length(array_to_string(rtoks, '')) AS DOUBLE) / len(rtoks) > 15.0))
         |            OR (length(text) > 0 AND CAST(n_punct AS DOUBLE) / length(text) > 0.2))
         |            AS keep,
         |          list_transform(rtoks, t -> lower(t)) AS toks
         |        FROM m),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |               CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS npos
         |        FROM lab),
         |pres AS (SELECT DISTINCT doc_id, keep, term
         |         FROM (SELECT doc_id, keep, unnest(toks) AS term FROM lab)),
         |tc AS (SELECT term, CAST(count(*) AS BIGINT) AS df,
         |              CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n11
         |       FROM pres GROUP BY 1 ORDER BY df DESC, term LIMIT 300),
         |cells AS (SELECT term, n11, df - n11 AS n10, npos - n11 AS n01,
         |                 n - npos - (df - n11) AS n00, n, npos, df
         |          FROM tc CROSS JOIN tot),
         |mi AS (SELECT term, n11, n10, n01, n00, n,
         |         CAST(CASE WHEN n11 > 0 THEN n11 * CAST(floor(ln(
         |                CAST(n * n11 AS DOUBLE) / CAST(df * npos AS DOUBLE))
         |                * 1e6 + 0.5) AS BIGINT) ELSE 0 END
         |           + CASE WHEN n10 > 0 THEN n10 * CAST(floor(ln(
         |                CAST(n * n10 AS DOUBLE) / CAST(df * (n - npos) AS DOUBLE))
         |                * 1e6 + 0.5) AS BIGINT) ELSE 0 END
         |           + CASE WHEN n01 > 0 THEN n01 * CAST(floor(ln(
         |                CAST(n * n01 AS DOUBLE) / CAST((n - df) * npos AS DOUBLE))
         |                * 1e6 + 0.5) AS BIGINT) ELSE 0 END
         |           + CASE WHEN n00 > 0 THEN n00 * CAST(floor(ln(
         |                CAST(n * n00 AS DOUBLE) / CAST((n - df) * (n - npos) AS DOUBLE))
         |                * 1e6 + 0.5) AS BIGINT) ELSE 0 END AS BIGINT) AS mi_num
         |       FROM cells)
         |SELECT term, n11, n10, n01, n00, mi_num,
         |       (2 * greatest(mi_num, 0) + n) // (2 * n) AS mi_x1e6
         |FROM mi ORDER BY mi_num DESC, term LIMIT 50""".stripMargin))
}
