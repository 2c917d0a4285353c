package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.{Dedup, InvertedIndex, QualityFilter, TextOps}

/** Privacy and data-governance queries: quality filters, checksums and
  * audits, k-anonymity, l-diversity, t-closeness, winsorizing and
  * differentially private counts.
  */
object GovernanceQueries {

  import QueryCommon._

  /** Benford expected first-digit probabilities floor(1e9·log10(1+1/d)
    * + 0.5) — computed ONCE here and injected as literals into both
    * the `benford_audit` Spark plan and its DuckDB oracle (runtime
    * log10 on each side would gamble on cross-engine libm rounding;
    * nine constants don't — the RagNdcgWeights convention). */
  private[queries] val BenfordP9: Seq[(Long, Long)] = (1L to 9L)
    .map(d => d -> math.floor(1e9 * math.log10(1.0 + 1.0 / d) + 0.5).toLong)

  /** dp_geometric_counts' noise thresholds: the truncated geometric
    * (discrete Laplace) mechanism at ε = 1, noise k ∈ [−5, 5] with
    * P(k) ∝ e^−|k|, as cumulative 2^60-scaled integer cut points over
    * the md5 uniform — computed ONCE here and injected as literals
    * into both engines (the BenfordP9 convention: runtime exp on each
    * side would gamble on libm rounding; eleven constants don't). */
  private[queries] val DpNoiseCuts: Seq[(Int, Long)] = {
    val ks = -5 to 5
    val ws = ks.map(k => math.exp(-math.abs(k).toDouble))
    val z = ws.sum
    val cum = ws.scanLeft(0.0)(_ + _).tail.map(_ / z)
    ks.zip(cum).map { case (k, c) =>
      k -> math.floor(c * math.pow(2.0, 60)).toLong
    }
  }

  val all: Seq[Query] = Seq(
    // Inverted index (ext.InvertedIndex): term → exact document
    // frequency + bounded posting sample. TopKPerKey heaps cap the
    // hottest term at k rows per partition — the stopword posting list
    // that swallows an aggregation buffer at corpus scale never forms.
    Query("inverted_index", { (s, d) =>
      InvertedIndex.build(Tables.documents(s, d), col("doc_id"), col("text"),
        k = 100, minDf = 2L)
    },
      """WITH td AS (
        |  SELECT DISTINCT doc_id, term FROM (
        |    SELECT doc_id,
        |           unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |                  x -> x <> '')) AS term
        |    FROM documents) u),
        |c AS (SELECT term, count(*) AS n_docs FROM td
        |      GROUP BY 1 HAVING count(*) >= 2),
        |p AS (SELECT term,
        |             array_to_string((list(doc_id ORDER BY doc_id))[1:100], ',') AS postings_csv
        |      FROM td GROUP BY 1)
        |SELECT c.term, c.n_docs, p.postings_csv
        |FROM c JOIN p USING (term)""".stripMargin),

    // C4-style quality filter (ext.QualityFilter): keep/drop verdict +
    // auditable reasons CSV. The corpus is clean word salad, so the
    // query unions three doc_id-offset perturbations that each trip a
    // rule (2-token truncation → too_short; punctuation-run append →
    // high_punct; whitespace-stripped gluing → word_len+too_short) —
    // the oracle replicates the synthesis, so the gate verifies real
    // verdicts, not an all-keep pass-through.
    Query("quality_filter", { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val toks = TextOps.tokens(col("text"))
      val short = docs.select((col("doc_id") + 2000000000L).as("doc_id"),
        concat_ws(" ", slice(toks, 1, 2)).as("text"))
      val punct = docs.select((col("doc_id") + 3000000000L).as("doc_id"),
        concat(col("text"), lit(" "),
          expr("repeat('.', CAST(length(text) / 2 AS INT))")).as("text"))
      val glued = docs.select((col("doc_id") + 4000000000L).as("doc_id"),
        expr("replace(text, ' ', '')").as("text"))
      docs.unionByName(short).unionByName(punct).unionByName(glued)
        .select(col("doc_id"),
          QualityFilter.keep(col("text")).as("keep"),
          QualityFilter.reasons(col("text")).as("reasons"))
    },
      """WITH aug AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000000,
        |         array_to_string(
        |           (list_filter(string_split_regex(trim(text), '\s+'), x -> x <> ''))[1:2], ' ')
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 3000000000,
        |         text || ' ' || repeat('.', length(text) // 2)
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 4000000000, replace(text, ' ', '') FROM documents),
        |m AS (SELECT doc_id, text,
        |        list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks,
        |        CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS BIGINT) AS n_punct
        |      FROM aug),
        |r AS (SELECT doc_id,
        |        CAST(len(toks) AS BIGINT) AS n_words,
        |        CAST(length(array_to_string(toks, '')) AS BIGINT) AS char_sum,
        |        n_punct,
        |        CAST(length(text) AS BIGINT) AS text_len
        |      FROM m),
        |f AS (SELECT doc_id,
        |        (n_words < 5) AS too_short,
        |        (n_words > 50000) AS too_long,
        |        (n_words > 0 AND (CAST(char_sum AS DOUBLE) / n_words < 2.0
        |                          OR CAST(char_sum AS DOUBLE) / n_words > 15.0)) AS word_len,
        |        (text_len > 0 AND CAST(n_punct AS DOUBLE) / text_len > 0.2) AS high_punct
        |      FROM r)
        |SELECT doc_id,
        |       NOT (too_short OR too_long OR word_len OR high_punct) AS keep,
        |       concat_ws(',',
        |         CASE WHEN too_short THEN 'too_short' END,
        |         CASE WHEN too_long THEN 'too_long' END,
        |         CASE WHEN word_len THEN 'word_len' END,
        |         CASE WHEN high_punct THEN 'high_punct' END) AS reasons
        |FROM f""".stripMargin),

    // Text normalization — the canonical pre-dedup/pre-tokenize stage:
    // lowercase, strip non-alphanumerics to spaces, collapse whitespace
    // runs, trim; emits the normalized text + its md5 (the join key a
    // normalized-exact dedup would group on). Pure map-side codegen'd
    // string work.
    Query("text_normalize", { (s, d) =>
      val norm = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
      Tables.documents(s, d).select(
        col("doc_id"),
        norm.as("norm_text"),
        length(norm).cast("long").as("n_chars_norm"),
        md5(norm.cast("binary")).as("norm_md5"))
    },
      """WITH t AS (SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |       ' +', ' ', 'g')) AS norm_text
        |  FROM documents)
        |SELECT doc_id, norm_text,
        |       CAST(length(norm_text) AS BIGINT) AS n_chars_norm,
        |       md5(norm_text) AS norm_md5
        |FROM t""".stripMargin),

    // Skew diagnostics — the operational first step before choosing a
    // salting/AQE strategy: per-key cardinality rollup, then the 20
    // heaviest keys with their share of all rows. The per-key count is
    // one partial+final aggregate; the global top-k is
    // TakeOrderedAndProject over the collapsed key frame (heap of 20
    // per partition — never a full sort); the 1-row total broadcasts.
    // Order-insensitive table reconciliation checksum — "is this copy
    // of a 100 TB table identical?" answered with ONE map-side pass and
    // a 1-row aggregate: per-row md5Hash60 over a canonical projection
    // (integers + strings render identically in any engine; the double
    // is cents-quantized first), summed modulo 2⁶¹−1. Addition is
    // commutative/associative, so the checksum is independent of row
    // order, partition layout, and engine — and MERGEABLE: per-shard
    // checksums from different clusters combine by modular addition.
    // No sort, no shuffle beyond the 1-row rollup; compare against
    // sort-then-hash (a full-table sort to one writer) at scale.
    Query("table_checksum", { (s, d) =>
      val cents = floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")
      val rowStr = concat_ws("|", col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_orderpriority"), cents)
      Tables.orders(s, d)
        .select(graft.ext.Dedup.md5Hash60(rowStr).as("h"))
        .agg(count(lit(1)).as("n_rows"),
          pmod(sum(col("h").cast("decimal(38,0)")), lit(2305843009213693951L))
            .cast("long").as("checksum"))
    },
      """WITH h AS (SELECT CAST('0x' || substr(md5(concat_ws('|',
        |    o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))), 1, 15)
        |  AS BIGINT) AS h FROM orders)
        |SELECT count(*) AS n_rows,
        |       CAST(sum(h) % 2305843009213693951 AS BIGINT) AS checksum
        |FROM h""".stripMargin),

    // Data-quality audit — referential integrity (orphan facts),
    // duplicate primary keys, null keys: one row per check with its
    // violation count. Orphans/dups are synthesized from read-only
    // inputs (≡0 mod 13 lineitem orderkeys offset out of the orders
    // domain; ≡0 mod 11 orders re-unioned) so every check exercises a
    // non-zero path. Scale shapes: orphan check is a shuffle anti-join
    // on the fact key (count-only — no row payload survives the join);
    // dup check is a count>1 aggregate over the key frame.
    // Benford first-digit audit (round 14) — the classic DQ/fraud
    // screen beside dq_audit's structural checks (Benford 1938; Hill
    // 1995: naturally-occurring multiplicative magnitudes put digit d
    // first with probability log10(1+1/d) — fabricated or truncated
    // data doesn't): per leading digit of the extended-price cents,
    // the observed count, the expected count at 1e9 scale, and the
    // per-digit chi-square term as a HALF_UP 1e4 cell — all exact
    // integers over DECIMAL(38,0) (expected probabilities are
    // driver-computed literals injected into BOTH engines, the
    // RagNdcgWeights convention — runtime log10 on each side would
    // gamble on libm rounding). 100 TB shape: one map-side digit
    // projection + a 9-key partial+final agg; the digit table joins
    // broadcast.
    Query("benford_audit", { (s, d) =>
      import s.implicits._
      val digits = Tables.lineitem(s, d)
        .select(floor(col("l_extendedprice") * 100 + lit(0.5))
          .cast("long").as("cents"))
        .selectExpr("CAST(substr(CAST(cents AS STRING), 1, 1) AS BIGINT)" +
          " AS digit")
        .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
      val tot = digits.agg(sum(col("n_obs")).as("n"))
      val pFrame = broadcast(BenfordP9.map { case (dg, p) => (dg, p) }
        .toDF("digit", "p9"))
      def longExact(c: Column): Column =
        when(c > lit(Long.MaxValue) || c < lit(Long.MinValue),
          raise_error(concat(
            lit("graft benford_audit: statistic exceeds int64: "),
            c.cast("string"))))
          .otherwise(c.cast("long"))
      digits.join(pFrame, "digit")
        .crossJoin(broadcast(tot))
        .withColumn("ed", expr("CAST(n AS DECIMAL(38,0)) * p9"))
        .withColumn("dev",
          expr("CAST(n_obs AS DECIMAL(38,0)) * 1000000000 - ed"))
        .select(col("digit"), col("n_obs"),
          longExact(col("ed")).as("expected_x1e9"),
          longExact(expr(
            "(2 * 10000 * dev * dev + " +
              "CAST(1000000000 AS DECIMAL(38,0)) * ed) div " +
              "(2 * CAST(1000000000 AS DECIMAL(38,0)) * ed)"))
            .as("chi_term_x1e4"))
        .orderBy("digit")
    },
      // benford_audit: the same injected 1e9-scale digit probabilities;
      // HUGEINT mirrors the DECIMAL(38,0) chi-term algebra.
      {
        val vals = BenfordP9.map { case (dg, p) => s"($dg, $p)" }
          .mkString(", ")
        s"""WITH c AS (SELECT CAST(floor(l_extendedprice * 100 + 0.5)
           |             AS BIGINT) AS cents FROM lineitem),
           |d AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1)
           |        AS BIGINT) AS digit FROM c),
           |g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs
           |      FROM d GROUP BY 1),
           |t AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM g),
           |p AS (SELECT * FROM (VALUES $vals) AS v(digit, p9)),
           |x AS (SELECT g.digit, g.n_obs,
           |        CAST(t.n AS HUGEINT) * p.p9 AS ed,
           |        CAST(g.n_obs AS HUGEINT) * 1000000000
           |          - CAST(t.n AS HUGEINT) * p.p9 AS dev
           |      FROM g JOIN p ON g.digit = p.digit CROSS JOIN t)
           |SELECT digit, n_obs, CAST(ed AS BIGINT) AS expected_x1e9,
           |       CAST((2 * 10000 * dev * dev + 1000000000 * ed)
           |         // (2 * 1000000000 * ed) AS BIGINT) AS chi_term_x1e4
           |FROM x ORDER BY digit""".stripMargin
      }),

    Query("dq_audit", { (s, d) =>
      val o = Tables.orders(s, d)
      val li = Tables.lineitem(s, d).select(
        when(pmod(col("l_orderkey"), lit(13)) === 0, col("l_orderkey") + 1000000000L)
          .otherwise(col("l_orderkey")).as("lok"))
      val orphans = li
        .join(o.select(col("o_orderkey")), col("lok") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n_violations"))
        .withColumn("check_name", lit("orphan_lineitem"))
      val dupPk = o.select(col("o_orderkey"))
        .unionByName(o.filter(pmod(col("o_orderkey"), lit(11)) === 0)
          .select(col("o_orderkey")))
        .groupBy(col("o_orderkey")).agg(count(lit(1)).as("c"))
        .filter(col("c") > 1)
        .agg(count(lit(1)).as("n_violations"))
        .withColumn("check_name", lit("duplicate_order_pk"))
      val nullKey = o.filter(col("o_custkey").isNull)
        .agg(count(lit(1)).as("n_violations"))
        .withColumn("check_name", lit("null_custkey"))
      orphans.unionByName(dupPk).unionByName(nullKey)
        .select(col("check_name"), col("n_violations"))
    },
      """WITH li AS (SELECT CASE WHEN l_orderkey % 13 = 0
        |                        THEN l_orderkey + 1000000000
        |                        ELSE l_orderkey END AS lok FROM lineitem)
        |SELECT 'orphan_lineitem' AS check_name, count(*) AS n_violations
        |FROM li WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = lok)
        |UNION ALL
        |SELECT 'duplicate_order_pk', count(*) FROM (
        |  SELECT o_orderkey FROM (
        |    SELECT o_orderkey FROM orders
        |    UNION ALL
        |    SELECT o_orderkey FROM orders WHERE o_orderkey % 11 = 0) u
        |  GROUP BY 1 HAVING count(*) > 1) d
        |UNION ALL
        |SELECT 'null_custkey', count(*) FROM orders WHERE o_custkey IS NULL""".stripMargin),

    // Weighted mixture sampling (ext.Sampling.mixtureSample): each
    // source keeps its own deterministic fraction — the training-mix
    // primitive (sample src A at 20%, B at 40%, ...). Per-stratum
    // permille rates derive from the source name itself so the gate
    // runs on read-only inputs; the keep test is an exact integer
    // threshold on the row's own md5 hash (membership never migrates,
    // task retries idempotent, both engines agree on every boundary).
    // Broadcast weights + scan-riding filter: no shuffle at any scale.
    Query("mixture_sample", { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val weights = docs.select(col("source")).distinct()
        .select(col("source").as("stratum"),
          ((substring(col("source"), 4, 10).cast("int") % 4 + 1) * 200).as("permille"))
      graft.ext.Sampling.mixtureSample(docs, col("doc_id"), col("source"), weights)
    },
      // 2^60 = 1152921504606846976; div/mod 1000 → 1152921504606846 / 976.
      """WITH w AS (SELECT source AS stratum,
        |                  (CAST(substr(source, 4) AS INTEGER) % 4 + 1) * 200 AS permille
        |           FROM (SELECT DISTINCT source FROM documents) s),
        |d AS (SELECT doc_id, source,
        |             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
        |      FROM documents)
        |SELECT doc_id, source, permille
        |FROM d JOIN w ON d.source = w.stratum
        |WHERE h < permille * 1152921504606846 + (permille * 976) // 1000""".stripMargin),

    // Boilerplate-span detection: shingles appearing in ≥100 documents
    // are corpus boilerplate (headers, licenses, navigation chrome);
    // each doc reports how much of it is boilerplate — the span-level
    // complement of whole-doc dedup (Lee et al., "Deduplicating
    // Training Data Makes Language Models Better", ACL 2022 motivates
    // span-level repetition removal). distinct (doc, shingle) is one
    // exchange; the frequent-shingle set (tiny by definition at any
    // scale — df ≥ threshold caps its size at |corpus|/threshold)
    // joins back against the per-doc shingles.
    // Single pass over the shingle frame: df via a count window on the
    // shingle partitioning, then one per-doc aggregate — the
    // three-consumer formulation (freq set + per-doc counts + join
    // back) recomputed the explode+distinct subtree per consumer and
    // benched 7.7 s at sf0.1; this shape runs in well under a second.
    // rebalance: the corpus is one small file — without it the explode
    // and shingle hashing run on a single partition (vocab_topk's
    // lesson).
    Query("boilerplate_spans", { (s, d) =>
      val sh = graft.ext.Dedup.rebalance(Tables.documents(s, d))
        .select(col("doc_id"),
          explode(TextOps.shingles(TextOps.tokens(col("text")), 3)).as("s"))
        .distinct()
      sh.withColumn("df", count(lit(1)).over(Window.partitionBy(col("s"))))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("df") >= 100, 1L).otherwise(0L)).as("n_boiler"))
        .select(col("doc_id"), col("n_shingles"), col("n_boiler"),
          round(col("n_boiler").cast("double") / col("n_shingles"), 4)
            .as("boiler_frac"))
    },
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |u AS (SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS pos FROM t),
        |sh0 AS (SELECT doc_id, w, lead(w, 1) OVER win AS w1, lead(w, 2) OVER win AS w2
        |        FROM u WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
        |sh AS (SELECT DISTINCT doc_id, concat_ws(' ', w, w1, w2) AS s
        |       FROM sh0 WHERE w2 IS NOT NULL),
        |f AS (SELECT s FROM sh GROUP BY s HAVING count(*) >= 100),
        |per AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY 1),
        |hit AS (SELECT doc_id, count(*) AS nb FROM sh JOIN f USING (s) GROUP BY 1)
        |SELECT per.doc_id, n_shingles,
        |       CAST(coalesce(nb, 0) AS BIGINT) AS n_boiler,
        |       round(CAST(coalesce(nb, 0) AS DOUBLE) / n_shingles, 4) AS boiler_frac
        |FROM per LEFT JOIN hit ON per.doc_id = hit.doc_id""".stripMargin),

    // k-anonymity generalization ladder (round 11) — the release-
    // governance operator beside pii_scrub/gdpr Forget (Samarati &
    // Sweeney 1998): quasi-identifier (geography, segment) classes
    // must hold ≥ k = 10 individuals before release. Groups below k
    // climb the generalization hierarchy nation → region; still-small
    // region groups suppress to '*' entirely — every customer lands
    // in exactly ONE released class (conservation spec-gated). Shape:
    // dimension joins broadcast; each ladder level is one count agg +
    // one left-semi against the previous level's SMALL-group list
    // (class-cardinality-sized, broadcastable) — the base never
    // shuffles twice.
    Query("k_anonymity", { (s, d) =>
      val K = 10
      val base = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"),
          col("c_mktsegment").as("segment"))
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)
          .select(col("r_regionkey"), col("r_name"))),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"), col("n_name").as("nation"),
          col("r_name").as("region"), col("segment"))
        .localCheckpoint(true)
      val g0 = base.groupBy(col("nation"), col("region"), col("segment"))
        .agg(count(lit(1)).as("n"))
      val keep0 = g0.filter(col("n") >= K)
        .select(lit(0L).as("level"), col("nation").as("geo"),
          col("segment"), col("n"))
      val rest0 = base.join(broadcast(g0.filter(col("n") < K)
          .select(col("nation"), col("segment"))),
        Seq("nation", "segment"), "left_semi")
      val g1 = rest0.groupBy(col("region"), col("segment"))
        .agg(count(lit(1)).as("n"))
      val keep1 = g1.filter(col("n") >= K)
        .select(lit(1L).as("level"), col("region").as("geo"),
          col("segment"), col("n"))
      val rest1 = rest0.join(broadcast(g1.filter(col("n") < K)
          .select(col("region"), col("segment"))),
        Seq("region", "segment"), "left_semi")
      val keep2 = rest1.agg(count(lit(1)).as("n"))
        .select(lit(2L).as("level"), lit("*").as("geo"),
          lit("*").as("segment"), col("n"))
        .filter(col("n") > 0)
      keep0.unionByName(keep1).unionByName(keep2)
    },
      // k_anonymity: the same two-level ladder — small (nation, segment)
      // classes re-count at (region, segment), stragglers suppress.
      """WITH base AS (SELECT c_custkey, n_name AS nation, r_name AS region,
        |                     c_mktsegment AS segment
        |              FROM customer
        |              JOIN nation ON n_nationkey = c_nationkey
        |              JOIN region ON r_regionkey = n_regionkey),
        |g0 AS (SELECT nation, region, segment, CAST(count(*) AS BIGINT) AS n
        |       FROM base GROUP BY 1, 2, 3),
        |k0 AS (SELECT CAST(0 AS BIGINT) AS level, nation AS geo, segment, n
        |       FROM g0 WHERE n >= 10),
        |r0 AS (SELECT base.* FROM base
        |       JOIN g0 ON g0.nation = base.nation AND g0.segment = base.segment
        |                AND g0.region = base.region
        |       WHERE g0.n < 10),
        |g1 AS (SELECT region, segment, CAST(count(*) AS BIGINT) AS n
        |       FROM r0 GROUP BY 1, 2),
        |k1 AS (SELECT CAST(1 AS BIGINT) AS level, region AS geo, segment, n
        |       FROM g1 WHERE n >= 10),
        |r1 AS (SELECT r0.* FROM r0
        |       JOIN g1 ON g1.region = r0.region AND g1.segment = r0.segment
        |       WHERE g1.n < 10),
        |k2 AS (SELECT CAST(2 AS BIGINT) AS level, '*' AS geo, '*' AS segment,
        |              CAST(count(*) AS BIGINT) AS n
        |       FROM r1 HAVING count(*) > 0)
        |SELECT level, geo, segment, n FROM k0
        |UNION ALL SELECT level, geo, segment, n FROM k1
        |UNION ALL SELECT level, geo, segment, n FROM k2""".stripMargin),

    // Distinct l-diversity (round 12) — Machanavajjhala et al. (ICDE
    // 2006): k-anonymity bounds CLASS SIZE but a class whose members
    // all share one sensitive value still leaks it (the homogeneity
    // attack); distinct l-diversity additionally requires ≥ L distinct
    // sensitive values per published equivalence class. Classes are
    // k_anonymity's level-0 QI pairs (nation, segment) at K=10; the
    // sensitive attribute is the 3-band account standing (negative /
    // 0–5000 / 5000+, exact-cents thresholds) — the skewed small
    // band (negative, ~9% of customers) is what makes the audit
    // ENGAGE: small classes genuinely miss it and flag diverse=false.
    // 100 TB shape: one (QI, band) partial+final agg; the class list
    // is QI-cardinality-sized and broadcasts.
    Query("l_diversity", { (s, d) =>
      val K = 10; val L = 3
      val base = Tables.customer(s, d)
        .select(col("c_nationkey"), col("c_mktsegment").as("segment"),
          expr("""CASE WHEN CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100
                |            AS BIGINT) < 0 THEN 0
                |       WHEN CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100
                |            AS BIGINT) < 500000 THEN 1
                |       ELSE 2 END""".stripMargin).as("band"))
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("nation"), col("segment"), col("band"))
        .localCheckpoint(true)
      val classes = base.groupBy(col("nation"), col("segment"))
        .agg(count(lit(1)).as("n")).filter(col("n") >= K)
      val divr = base.join(broadcast(classes.select("nation", "segment")),
          Seq("nation", "segment"), "left_semi")
        .groupBy(col("nation"), col("segment"))
        .agg(countDistinct(col("band")).as("n_bands"))
      classes.join(divr, Seq("nation", "segment"))
        .select(col("nation"), col("segment"), col("n"), col("n_bands"),
          (col("n_bands") >= L).as("diverse"))
    },
      // l_diversity: same K=10 classes, 3-band exact-cents sensitive
      // attribute, count-distinct per class.
      """WITH base AS (
        |  SELECT n_name AS nation, c_mktsegment AS segment,
        |         CASE WHEN CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100
        |                   AS BIGINT) < 0 THEN 0
        |              WHEN CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100
        |                   AS BIGINT) < 500000 THEN 1
        |              ELSE 2 END AS band
        |  FROM customer JOIN nation ON n_nationkey = c_nationkey),
        |cls AS (SELECT nation, segment, CAST(count(*) AS BIGINT) AS n
        |        FROM base GROUP BY 1, 2 HAVING count(*) >= 10),
        |dv AS (SELECT b.nation, b.segment,
        |              CAST(count(DISTINCT b.band) AS BIGINT) AS n_bands
        |       FROM base b JOIN cls USING (nation, segment)
        |       GROUP BY 1, 2)
        |SELECT cls.nation, cls.segment, cls.n, dv.n_bands,
        |       (dv.n_bands >= 3) AS diverse
        |FROM cls JOIN dv USING (nation, segment)""".stripMargin),

    // t-closeness (round 12) — Li, Li & Venkatasubramanian (ICDE
    // 2007): l-diversity counts values but ignores their
    // DISTRIBUTION (a class can be 3-diverse yet 90% negative-balance
    // — the skewness attack); t-closeness bounds the earth-mover's
    // distance between each class's sensitive distribution and the
    // global one. For an ORDERED attribute EMD reduces to the mean
    // |cumulative difference| (the paper's ordered-distance formula),
    // which is EXACT in integers after clearing denominators: cum_i =
    // Σ_{j≤i} (c_j·N − g_j·n), emd = Σ|cum_i| / ((B−1)·n·N), emitted
    // as one HALF_UP 1e6 cell with the Σ routed through
    // DECIMAL(38,0)/HUGEINT (the ks_drift overflow envelope — n·N
    // crosses 2⁶³ at corpus scale). Same K=10 classes and 3-band
    // sensitive attribute as l_diversity; gate t ≤ 0.2. 100 TB
    // shape: the grid is classes × bands (QI-cardinality-bounded);
    // the cumulative window partitions BY CLASS over ≤ B rows.
    Query("t_closeness", { (s, d) =>
      val K = 10
      val base = Tables.customer(s, d)
        .select(col("c_nationkey"), col("c_mktsegment").as("segment"),
          expr("""CASE WHEN CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100
                |            AS BIGINT) < 0 THEN 0
                |       WHEN CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100
                |            AS BIGINT) < 500000 THEN 1
                |       ELSE 2 END""".stripMargin).as("band"))
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("nation"), col("segment"), col("band"))
        .localCheckpoint(true)
      val classes = base.groupBy(col("nation"), col("segment"))
        .agg(count(lit(1)).as("n")).filter(col("n") >= K)
      val gb = base.groupBy(col("band")).agg(count(lit(1)).as("g"))
        .localCheckpoint(true)
      val tot = gb.agg(sum(col("g")).as("nn"),
        count(lit(1)).cast("long").as("nb"))
      val cb = base.join(broadcast(classes.select("nation", "segment")),
          Seq("nation", "segment"), "left_semi")
        .groupBy(col("nation"), col("segment"), col("band"))
        .agg(count(lit(1)).as("c"))
      val grid = classes.crossJoin(broadcast(gb))
        .join(cb, Seq("nation", "segment", "band"), "left")
        .withColumn("c", coalesce(col("c"), lit(0L)))
      val w = Window.partitionBy(col("nation"), col("segment"))
        .orderBy(col("band"))
        .rowsBetween(Window.unboundedPreceding, 0)
      grid.crossJoin(broadcast(tot))
        .withColumn("cum",
          sum(col("c") * col("nn") - col("g") * col("n")).over(w))
        .groupBy(col("nation"), col("segment"), col("n"), col("nn"),
          col("nb"))
        .agg(sum(abs(col("cum"))).as("dsum"))
        .selectExpr("nation", "segment", "n",
          "CAST((2 * 1000000 * CAST(dsum AS DECIMAL(38,0)) + " +
            "(nb - 1) * CAST(n AS DECIMAL(38,0)) * nn) div " +
            "(2 * (nb - 1) * CAST(n AS DECIMAL(38,0)) * nn) AS BIGINT) " +
            "AS emd_x1e6")
        .withColumn("t_close", col("emd_x1e6") <= 200000L)
    },
      // t_closeness: same classes/bands; ordered-attribute EMD as mean
      // |cumulative difference| with cleared denominators, HUGEINT-routed.
      """WITH base AS (
        |  SELECT n_name AS nation, c_mktsegment AS segment,
        |         CASE WHEN CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100
        |                   AS BIGINT) < 0 THEN 0
        |              WHEN CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100
        |                   AS BIGINT) < 500000 THEN 1
        |              ELSE 2 END AS band
        |  FROM customer JOIN nation ON n_nationkey = c_nationkey),
        |cls AS (SELECT nation, segment, CAST(count(*) AS BIGINT) AS n
        |        FROM base GROUP BY 1, 2 HAVING count(*) >= 10),
        |gb AS (SELECT band, CAST(count(*) AS BIGINT) AS g
        |       FROM base GROUP BY 1),
        |tot AS (SELECT CAST(sum(g) AS BIGINT) AS nn,
        |               CAST(count(*) AS BIGINT) AS nb FROM gb),
        |cb AS (SELECT b.nation, b.segment, b.band,
        |              CAST(count(*) AS BIGINT) AS c
        |       FROM base b JOIN cls USING (nation, segment)
        |       GROUP BY 1, 2, 3),
        |grid AS (SELECT cls.nation, cls.segment, cls.n, gb.band, gb.g,
        |                coalesce(cb.c, 0) AS c
        |         FROM cls CROSS JOIN gb
        |         LEFT JOIN cb ON cb.nation = cls.nation
        |           AND cb.segment = cls.segment AND cb.band = gb.band),
        |cum AS (SELECT nation, segment, n,
        |          sum(c * nn - g * n) OVER (PARTITION BY nation, segment
        |            ORDER BY band
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS cumv
        |        FROM grid CROSS JOIN tot),
        |ag AS (SELECT nation, segment, n,
        |              CAST(sum(abs(cumv)) AS HUGEINT) AS dsum
        |       FROM cum GROUP BY 1, 2, 3),
        |e AS (SELECT a.nation, a.segment, a.n,
        |        CAST((2 * 1000000 * a.dsum +
        |              (t.nb - 1) * CAST(a.n AS HUGEINT) * t.nn) //
        |             (2 * (t.nb - 1) * CAST(a.n AS HUGEINT) * t.nn)
        |             AS BIGINT) AS emd_x1e6
        |      FROM ag a CROSS JOIN tot t)
        |SELECT nation, segment, n, emd_x1e6,
        |       (emd_x1e6 <= 200000) AS t_close
        |FROM e""".stripMargin),

    // Winsorization (round 11) — the outlier-clipping REWRITE the
    // histogram family only describes (equidepth_hist/approx_quantiles
    // locate the tails; production feature pipelines then CLIP to
    // them): per event_type, exact nearest-rank p5/p95 bounds over the
    // centi-quantized value domain, rows outside clamp to the bounds,
    // and the output reports the bounds, clip counts, and the
    // winsorized mean — all exact integers (nearest-rank r =
    // ceil(p·n) as (p·n + 99) div 100; signed HALF_UP mean). 100 TB
    // shape: the equidepth_hist_scale two-level layout — raw rows
    // collapse to the (type, quantum) histogram FIRST; the cumulative
    // window and every bound/clip statistic ride distinct quanta.
    Query("winsorize", { (s, d) =>
      val hist = Tables.events(s, d)
        .select(col("event_type"),
          floor(col("value") * 100 + lit(0.5)).cast("long").as("q"))
        .groupBy(col("event_type"), col("q")).agg(count(lit(1)).as("c"))
        .localCheckpoint(true)
      val byQ = Window.partitionBy("event_type").orderBy("q")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val byT = Window.partitionBy("event_type")
      val bounds = hist
        .withColumn("cum", sum(col("c")).over(byQ))
        .withColumn("n", sum(col("c")).over(byT))
        .groupBy(col("event_type"), col("n"))
        .agg(
          min(when(col("cum") >= expr("(5 * n + 99) div 100"), col("q")))
            .as("lo_c"),
          min(when(col("cum") >= expr("(95 * n + 99) div 100"), col("q")))
            .as("hi_c"))
      hist.join(bounds, "event_type")
        .groupBy(col("event_type"), col("n"), col("lo_c"), col("hi_c"))
        .agg(
          sum(when(col("q") < col("lo_c"), col("c")).otherwise(0L))
            .as("n_clip_lo"),
          sum(when(col("q") > col("hi_c"), col("c")).otherwise(0L))
            .as("n_clip_hi"),
          sum(greatest(least(col("q"), col("hi_c")), col("lo_c")) * col("c"))
            .as("sw"))
        .selectExpr("event_type", "n", "lo_c", "hi_c", "n_clip_lo",
          "n_clip_hi",
          """CASE WHEN sw >= 0 THEN (2 * sw + n) div (2 * n)
            |     ELSE -((2 * -sw + n) div (2 * n)) END AS wmean_c"""
            .stripMargin)
    },
      // winsorize: same compressed-histogram layout, nearest-rank
      // bounds, clamp + clip counts + signed HALF_UP winsorized mean.
      """WITH h AS (SELECT event_type,
        |             CAST(floor(value * 100 + 0.5) AS BIGINT) AS q,
        |             CAST(count(*) AS BIGINT) AS c
        |           FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, q, c,
        |        sum(c) OVER (PARTITION BY event_type ORDER BY q
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |        sum(c) OVER (PARTITION BY event_type) AS n
        |      FROM h),
        |b AS (SELECT event_type, CAST(n AS BIGINT) AS n,
        |        min(CASE WHEN cum >= (5 * n + 99) // 100 THEN q END) AS lo_c,
        |        min(CASE WHEN cum >= (95 * n + 99) // 100 THEN q END) AS hi_c
        |      FROM w GROUP BY 1, 2),
        |a AS (SELECT h.event_type, n, lo_c, hi_c,
        |        CAST(sum(CASE WHEN q < lo_c THEN c ELSE 0 END) AS BIGINT)
        |          AS n_clip_lo,
        |        CAST(sum(CASE WHEN q > hi_c THEN c ELSE 0 END) AS BIGINT)
        |          AS n_clip_hi,
        |        CAST(sum(greatest(least(q, hi_c), lo_c) * c) AS BIGINT) AS sw
        |      FROM h JOIN b ON b.event_type = h.event_type
        |      GROUP BY 1, 2, 3, 4)
        |SELECT event_type, n, lo_c, hi_c, n_clip_lo, n_clip_hi,
        |       CASE WHEN sw >= 0 THEN (2 * sw + n) // (2 * n)
        |            ELSE -((2 * -sw + n) // (2 * n)) END AS wmean_c
        |FROM a""".stripMargin),

    // Differentially-private counts (round 15) — the DISCLOSURE-
    // CONTROL release the governance family lacked (k_anonymity/
    // l_diversity/t_closeness SUPPRESS, THIS perturbs-and-publishes;
    // Ghosh, Roughgarden & Sundararajan 2012's geometric mechanism,
    // the discrete Laplace, at ε = 1 truncated to |k| ≤ 5 — truncation
    // costs a δ≈2e-3 tail, documented, and buys integer-exact replay):
    // per event_type, noise k drawn by inverse-CDF over the 2^60 md5
    // uniform against the [[DpNoiseCuts]] literal thresholds — fully
    // deterministic, so the oracle replays the released value. The
    // true count rides along as the calibration read (a production
    // release publishes only n_noisy). 100 TB shape: ONE partial+final
    // hash agg to |types| rows; the noise is map-side literal algebra.
    Query("dp_geometric_counts", { (s, d) =>
      val cuts = DpNoiseCuts
      val noiseSql = cuts.init.foldRight(s"${cuts.last._1}L") {
        case ((k, cut), rest) => s"CASE WHEN u < ${cut}L THEN ${k}L " +
          s"ELSE $rest END"
      }
      Tables.events(s, d).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_true"))
        .withColumn("u",
          Dedup.md5Hash60(concat(lit("dp:"), col("event_type"))))
        .selectExpr("event_type", "n_true", s"$noiseSql AS noise")
        .selectExpr("event_type", "n_true", "noise",
          "n_true + noise AS n_noisy",
          "CAST(1000000 AS BIGINT) AS epsilon_x1e6")
    },
      // dp_geometric_counts: the identical literal threshold chain (one
      // Scala constant feeds both engines), same md5 uniform.
      {
        val cuts = DpNoiseCuts
        val noiseSql = cuts.init.foldRight(s"${cuts.last._1}") {
          case ((k, cut), rest) =>
            s"CASE WHEN u < $cut THEN $k ELSE $rest END"
        }
        s"""WITH t AS (SELECT event_type,
           |    CAST(count(*) AS BIGINT) AS n_true,
           |    CAST('0x' || substr(md5('dp:' || event_type), 1, 15)
           |      AS BIGINT) AS u
           |  FROM events GROUP BY event_type)
           |SELECT event_type, n_true,
           |  CAST($noiseSql AS BIGINT) AS noise,
           |  n_true + CAST($noiseSql AS BIGINT) AS n_noisy,
           |  CAST(1000000 AS BIGINT) AS epsilon_x1e6
           |FROM t""".stripMargin
      }))
}
