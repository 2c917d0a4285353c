package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.{CountMin, Dedup, Packing, Repetition, Sampling, TextOps, ZOrder}

/** Text-analysis and corpus-curation queries over `documents`: token and
  * quality statistics, language id, sampling, PII scrubbing, packing,
  * chunking and corpus mixture (SURVEY §7.5).
  */
object TextQueries {

  import QueryCommon._

  val all: Seq[Query] = Seq(
    Query("token_count", { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"),
        size(TextOps.bpeishTokens(col("text"))).cast("long").as("n_bpe_tokens"),
        col("n_chars"),
        round(col("n_chars").cast("double") /
          size(TextOps.tokens(col("text"))), 4).as("chars_per_token"))
    },
      """SELECT doc_id,
        |  len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS n_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_tokens,
        |  n_chars,
        |  round(CAST(n_chars AS DOUBLE) /
        |    len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')), 4) AS chars_per_token
        |FROM documents""".stripMargin),

    Query("text_quality", { (s, d) =>
      val toks = size(TextOps.tokens(col("text"))).cast("long")
      val len = length(col("text")).cast("long")
      val punct = TextOps.punctCount(col("text"))
      val stop = TextOps.langScore(col("text"), "en")
      Tables.documents(s, d).select(
        col("doc_id"),
        len.as("text_len"),
        toks.as("n_words"),
        punct.as("n_punct"),
        stop.as("n_stopwords"),
        round(punct.cast("double") / len, 4).as("punct_ratio"),
        round(stop.cast("double") / toks, 4).as("stopword_ratio"),
        round(least(toks.cast("double") / 100.0, lit(1.0)) *
          (lit(1.0) - punct.cast("double") / len), 4).as("quality"))
    },
      """WITH t AS (SELECT doc_id, text,
        |  CAST(length(text) AS BIGINT) AS text_len,
        |  CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS BIGINT) AS n_words,
        |  CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS BIGINT) AS n_punct,
        |  CAST((length(text) - length(regexp_replace(text, ' the ', '', 'g'))) // 5
        |     + (length(text) - length(regexp_replace(text, ' and ', '', 'g'))) // 5
        |     + (length(text) - length(regexp_replace(text, ' is ', '', 'g'))) // 4 AS BIGINT) AS n_stopwords
        |  FROM documents)
        |SELECT doc_id, text_len, n_words, n_punct, n_stopwords,
        |  round(CAST(n_punct AS DOUBLE) / text_len, 4) AS punct_ratio,
        |  round(CAST(n_stopwords AS DOUBLE) / n_words, 4) AS stopword_ratio,
        |  round(least(CAST(n_words AS DOUBLE) / 100.0, 1.0) *
        |        (1.0 - CAST(n_punct AS DOUBLE) / text_len), 4) AS quality
        |FROM t""".stripMargin),

    Query("lang_id", { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"), col("lang"),
        TextOps.langId(col("text")).as("lang_pred"))
    },
      """WITH s AS (SELECT doc_id, lang,
        |  CAST(length(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g')) AS BIGINT) AS cjk,
        |  CAST((length(text) - length(regexp_replace(text, ' the ', '', 'g'))) // 5
        |     + (length(text) - length(regexp_replace(text, ' and ', '', 'g'))) // 5
        |     + (length(text) - length(regexp_replace(text, ' is ', '', 'g'))) // 4 AS BIGINT) AS s_en,
        |  CAST((length(text) - length(regexp_replace(text, ' der ', '', 'g'))) // 5
        |     + (length(text) - length(regexp_replace(text, ' und ', '', 'g'))) // 5
        |     + (length(text) - length(regexp_replace(text, ' die ', '', 'g'))) // 5 AS BIGINT) AS s_de,
        |  CAST((length(text) - length(regexp_replace(text, ' el ', '', 'g'))) // 4
        |     + (length(text) - length(regexp_replace(text, ' que ', '', 'g'))) // 5
        |     + (length(text) - length(regexp_replace(text, ' los ', '', 'g'))) // 5 AS BIGINT) AS s_es,
        |  CAST((length(text) - length(regexp_replace(text, ' le ', '', 'g'))) // 4
        |     + (length(text) - length(regexp_replace(text, ' et ', '', 'g'))) // 4
        |     + (length(text) - length(regexp_replace(text, ' les ', '', 'g'))) // 5 AS BIGINT) AS s_fr
        |  FROM documents)
        |SELECT doc_id, lang,
        |  CASE WHEN cjk > 0 THEN 'zh'
        |       WHEN s_en >= greatest(s_de, s_es, s_fr) THEN 'en'
        |       WHEN s_de >= greatest(s_es, s_fr) THEN 'de'
        |       WHEN s_es >= s_fr THEN 'es'
        |       ELSE 'fr' END AS lang_pred
        |FROM s""".stripMargin),

    // Readability scoring (round 12) — Flesch–Kincaid grade level
    // (Kincaid et al. 1975), the document-difficulty signal curation
    // recipes bin on next to text_quality's ratio features. The three
    // counts are regex-exact in both engines (words = whitespace
    // tokens; sentences = [.!?]+ runs, floored at 1; syllables =
    // vowel-group runs, +1 for each vowel-less word — the standard
    // heuristic), and the grade is the FK formula with exact-integer
    // coefficients (0.39 = 390000/1e6, 11.8 = 11800000/1e6) and
    // truncating divs on non-negative operands, so the per-doc score
    // and the band cut are bit-identical cross-engine. Output is the
    // per-band rollup (count + exact score sum). 100 TB shape:
    // entirely map-side per doc; one 3-row partial+final agg.
    Query("readability_score", { (s, d) =>
      val toks = TextOps.tokens(col("text"))
      Dedup.rebalance(Tables.documents(s, d))
        .select(
          size(toks).cast("long").as("w"),
          greatest(lit(1L),
            regexp_count(col("text"), lit("[.!?]+")).cast("long")).as("sct"),
          (regexp_count(col("text"), lit("[aeiouyAEIOUY]+")).cast("long") +
            (size(toks) - size(filter(toks,
              t => t.rlike("[aeiouyAEIOUY]")))).cast("long")).as("sy"))
        .filter(col("w") >= 1L)
        .withColumn("fk_x1e6", expr(
          "(390000 * w) div sct + (11800000 * sy) div w - 15590000"))
        .withColumn("band",
          when(col("fk_x1e6") <= 6000000L, "easy")
            .when(col("fk_x1e6") <= 10000000L, "standard")
            .otherwise("difficult"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("fk_x1e6")).as("sum_fk_x1e6"))
    },
      // readability_score: the same three regex-exact counts, the same
      // integer FK formula, 3-row band rollup.
      s"""WITH t AS (SELECT $ToksSql AS toks, text FROM documents),
         |c AS (SELECT CAST(len(toks) AS BIGINT) AS w,
         |        greatest(1, CAST(len(regexp_extract_all(text, '[.!?]+'))
         |                         AS BIGINT)) AS sct,
         |        CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+'))
         |             AS BIGINT)
         |          + CAST(len(toks) - len(list_filter(toks,
         |              x -> regexp_matches(x, '[aeiouyAEIOUY]')))
         |              AS BIGINT) AS sy
         |      FROM t WHERE len(toks) >= 1),
         |f AS (SELECT (390000 * w) // sct + (11800000 * sy) // w
         |             - 15590000 AS fk
         |      FROM c)
         |SELECT CASE WHEN fk <= 6000000 THEN 'easy'
         |            WHEN fk <= 10000000 THEN 'standard'
         |            ELSE 'difficult' END AS band,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(fk) AS BIGINT) AS sum_fk_x1e6
         |FROM f GROUP BY 1""".stripMargin),

    Query("doc_fingerprint", { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        TextOps.contentFingerprint(col("text")).as("content_md5"),
        TextOps.minShingleFingerprint(col("text")).as("min_shingle_md5"))
    },
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks,
        |    md5(lower(trim(text))) AS content_md5
        |  FROM documents),
        |u AS (SELECT doc_id, content_md5, unnest(toks) AS w,
        |             generate_subscripts(toks, 1) AS pos FROM t),
        |sh AS (SELECT doc_id, content_md5, pos, w,
        |              lead(w, 1) OVER win AS w1, lead(w, 2) OVER win AS w2
        |       FROM u WINDOW win AS (PARTITION BY doc_id ORDER BY pos))
        |SELECT doc_id, any_value(content_md5) AS content_md5,
        |       min(md5(concat_ws(' ', w, w1, w2))) AS min_shingle_md5
        |FROM sh WHERE w2 IS NOT NULL GROUP BY doc_id""".stripMargin),

    // Corpus vocabulary: top-100 tokens by frequency (the first thing a
    // training-data pipeline inspects — tokenizer coverage, boilerplate
    // detection). explode → partial+final count agg → TakeOrdered; ties
    // at the cutoff break on the token itself, so the LIMIT is
    // deterministic cross-engine.
    Query("vocab_topk", { (s, d) =>
      Dedup.rebalance(Tables.documents(s, d))
        .select(explode(TextOps.tokens(lower(col("text")))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(100)
    },
      """SELECT token, count(*) AS n FROM (
        |  SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |                x -> x <> '')) AS token
        |  FROM documents)
        |GROUP BY token ORDER BY n DESC, token LIMIT 100""".stripMargin),

    // Zipf's-law fit (round 15) — the rank-frequency diagnostic beside
    // vocab_topk's raw list (Zipf 1949; a natural corpus's top-vocab
    // log-log slope sits near −1, and a synthetic/boilerplate corpus
    // shows up as a flagrantly non-Zipfian slope): OLS of ln f on ln r
    // over the SAME deterministic top-100 cut. Exactness: both lns are
    // floored 1e6-scaled cells of exact integers (the unigram_logprob
    // convention), the five OLS sums are DECIMAL(38,0)-routed integer
    // algebra, slope_x1e6 a sign-split HALF_UP cell, and r² uses
    // div-1000-scaled factors — a DELIBERATE precision trade that
    // keeps 2e6·num² inside DECIMAL(38,0)/HUGEINT at any corpus size
    // while both engines replay the identical formula. 100 TB shape:
    // one explode → partial+final count agg → TakeOrdered(100);
    // the rank window and OLS ride the 100-row frame.
    Query("zipf_fit", { (s, d) =>
      val top = Dedup.rebalance(Tables.documents(s, d))
        .select(explode(TextOps.tokens(lower(col("text")))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token")).limit(100)
      val xy = top
        .withColumn("r", row_number()
          .over(Window.orderBy(col("n").desc, col("token"))).cast("long"))
        .selectExpr(
          "CAST(floor(log(CAST(r AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS x",
          "CAST(floor(log(CAST(n AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS y")
      xy.agg(count(lit(1)).as("k"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
          sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
        .selectExpr("k",
          "CAST(k AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS num",
          "CAST(k AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS den",
          "CAST(k AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy AS deny")
        .selectExpr("k",
          "CASE WHEN num >= 0 THEN " +
            "CAST((2 * 1000000 * num + den) div (2 * den) AS BIGINT) " +
            "ELSE -CAST((2 * 1000000 * (-num) + den) div (2 * den)" +
            " AS BIGINT) END AS slope_x1e6",
          // Spark's `div` yields BIGINT — every scaled factor goes back
          // through DECIMAL(38,0) before multiplying or the r² products
          // overflow int64.
          "CAST((2 * 1000000 * CAST((CASE WHEN num >= 0 THEN num" +
            " ELSE -num END) div 1000 AS DECIMAL(38,0))" +
            " * CAST((CASE WHEN num >= 0 THEN num ELSE -num END)" +
            " div 1000 AS DECIMAL(38,0))" +
            " + CAST(den div 1000 AS DECIMAL(38,0))" +
            " * CAST(deny div 1000 AS DECIMAL(38,0)))" +
            " div (2 * CAST(den div 1000 AS DECIMAL(38,0))" +
            " * CAST(deny div 1000 AS DECIMAL(38,0))) AS BIGINT)" +
            " AS r2_x1e6")
        .withColumn("zipfian",
          col("slope_x1e6") < -500000L && col("slope_x1e6") > -2000000L)
    },
      // zipf_fit: the same top-100 cut, floored-ln cells and the
      // DECIMAL-routed OLS algebra replay in HUGEINT (identical div-1000
      // r² scaling; sign splits keep // ≡ div).
      """WITH top AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM (
        |    SELECT unnest(list_filter(
        |      string_split_regex(trim(lower(text)), '\s+'),
        |      x -> x <> '')) AS token
        |    FROM documents)
        |  GROUP BY token ORDER BY n DESC, token LIMIT 100),
        |xy AS (SELECT
        |    CAST(floor(ln(CAST(row_number() OVER (ORDER BY n DESC, token)
        |      AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS x,
        |    CAST(floor(ln(CAST(n AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
        |      AS y
        |  FROM top),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |        sum(CAST(x AS HUGEINT) * y) AS sxy,
        |        sum(CAST(x AS HUGEINT) * x) AS sxx,
        |        sum(CAST(y AS HUGEINT) * y) AS syy
        |      FROM xy),
        |t AS (SELECT k,
        |        CAST(k AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
        |        CAST(k AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS den,
        |        CAST(k AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS deny
        |      FROM s),
        |f AS (SELECT k,
        |        CASE WHEN num >= 0 THEN
        |          CAST((2 * 1000000 * num + den) // (2 * den) AS BIGINT)
        |        ELSE -CAST((2 * 1000000 * (-num) + den) // (2 * den)
        |          AS BIGINT) END AS slope_x1e6,
        |        CAST((2 * 1000000 * (abs(num) // 1000) * (abs(num) // 1000)
        |              + (den // 1000) * (deny // 1000))
        |             // (2 * (den // 1000) * (deny // 1000)) AS BIGINT)
        |          AS r2_x1e6
        |      FROM t)
        |SELECT k, slope_x1e6, r2_x1e6,
        |       slope_x1e6 < -500000 AND slope_x1e6 > -2000000 AS zipfian
        |FROM f""".stripMargin),

    // Deterministic train/eval sharding: every row keyed to a shard of
    // [0,100) by the md5 hash of its own id (Sampling.shard) and the
    // 10% split kept — reproducible in any engine, idempotent under
    // task retries, membership independent of corpus growth. Map-side
    // only; the filter sits on the scan.
    Query("sample_shard", { (s, d) =>
      Sampling.sampleShards(
        Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
        col("doc_id"), nShards = 100, keep = 10)
    },
      """SELECT doc_id, n_chars,
        |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS shard
        |FROM documents
        |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 10""".stripMargin),

    // Stratified deterministic sample (round 5) — k docs per stratum
    // (language), selected by md5-hash rank inside each stratum: the
    // balanced-subset primitive for training mixes. Same portability
    // contract as sample_shard (membership depends only on the row's
    // own key), plus per-stratum exactness. TopKPerKey bounded heaps:
    // ≤ k rows per stratum per partition reach the exchange — no
    // Window, no per-stratum sort of the full corpus.
    Query("stratified_sample", { (s, d) =>
      val h = Dedup.md5Hash60(col("doc_id").cast("string"))
      graft.plans.TopKPerKey.perKey(
        Tables.documents(s, d).select(col("doc_id"), col("lang"), h.as("h")),
        keys = Seq(col("lang")),
        order = Seq(col("h"), col("doc_id")), k = 20)
    },
      """SELECT doc_id, lang, h FROM (
        |  SELECT doc_id, lang,
        |         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT),
        |                    doc_id) AS rn
        |  FROM documents) t
        |WHERE rn <= 20""".stripMargin),

    // PII scrub. The corpus itself is PII-free word salad, so the query
    // APPENDS an email + phone derived from doc_id before scrubbing —
    // the oracle replicates both the synthesis and the scrub, so the
    // gate verifies genuine rewrites, not a no-op pass-through.
    Query("pii_scrub", { (s, d) =>
      // Mixed-case email + two phone shapes ((555) NNN-NNNN and bare
      // 555-NNNN). Phone digits come from doc_id % 1000/10000 so the
      // spans stay inside PhoneRe's bounded repetitions at EVERY scale
      // factor — a raw doc_id (offset 1e9) would overflow the pattern
      // and silently stop exercising the phone branch.
      val last3 = lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0")
      val last4 = lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")
      val synth = concat(col("text"), lit(" Contact User"),
        col("doc_id").cast("string"), lit("@Example.COM or call +1 (555) "),
        last3, lit("-"), last4, lit(" or 555-"), last4)
      val scrubbed = TextOps.scrubPii(synth)
      Tables.documents(s, d).select(
        col("doc_id"),
        scrubbed.as("scrubbed"),
        (length(synth) - length(scrubbed)).cast("long").as("chars_removed"))
    },
      """WITH s AS (SELECT doc_id,
        |  text || ' Contact User' || CAST(doc_id AS VARCHAR) ||
        |  '@Example.COM or call +1 (555) ' ||
        |  lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
        |  lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' or 555-' ||
        |  lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS synth
        |  FROM documents),
        |r AS (SELECT doc_id, synth,
        |  regexp_replace(regexp_replace(synth,
        |    '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |    '(?:\+?1[-. ]?)?(?:\([0-9]{3}\) ?|[0-9]{3}[-. ])[0-9]{3}[-. ][0-9]{4}\b|\b[0-9]{3}-[0-9]{3,8}\b',
        |    '<PHONE>', 'g') AS scrubbed
        |  FROM s)
        |SELECT doc_id, scrubbed,
        |  CAST(length(synth) - length(scrubbed) AS BIGINT) AS chars_removed
        |FROM r""".stripMargin),

    // Per-source corpus report (round 11) — the dataset-card rollup
    // (Gebru et al. datasheets; every serious corpus release ships
    // one): per source, volume (docs/tokens/mean chars), language
    // spread, exact-duplicate exposure (docs whose normalized text
    // recurs CORPUS-wide — cross-source copies count for both
    // sides), and the sub-5-token junk fraction, with HALF_UP
    // basis-point rates. One corpus scan into a checkpointed frame;
    // the only other exchange is the text-key dup count it shares
    // with the dedup family's shape.
    Query("corpus_report", { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
          lower(trim(col("text"))).as("key"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_toks"))
        .localCheckpoint(true)
      val keyCounts = docs.groupBy(col("key")).agg(count(lit(1)).as("kc"))
      docs.join(keyCounts, "key")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("n_tokens"),
          sum(col("n_chars")).as("sum_chars"),
          countDistinct(col("lang")).as("n_langs"),
          sum(when(col("kc") > 1, 1L).otherwise(0L)).as("n_exact_dups"),
          sum(when(col("n_toks") < 5, 1L).otherwise(0L)).as("n_short"))
        .selectExpr("source", "n_docs", "n_tokens", "n_langs",
          "(2 * sum_chars + n_docs) div (2 * n_docs) AS avg_chars",
          "n_exact_dups", "n_short",
          "(2 * 10000 * n_exact_dups + n_docs) div (2 * n_docs) AS dup_x1e4",
          "(2 * 10000 * n_short + n_docs) div (2 * n_docs) AS short_x1e4")
    },
      // corpus_report: same one-scan rollup + corpus-wide text-key dup
      // counts.
      s"""WITH d AS (SELECT doc_id, source, lang, n_chars,
         |             lower(trim(text)) AS key,
         |             CAST(len($ToksSql) AS BIGINT) AS n_toks
         |           FROM documents),
         |kc AS (SELECT key, CAST(count(*) AS BIGINT) AS kc FROM d GROUP BY 1),
         |a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |        CAST(sum(n_toks) AS BIGINT) AS n_tokens,
         |        CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |        CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |        CAST(sum(CASE WHEN kc > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |          AS n_exact_dups,
         |        CAST(sum(CASE WHEN n_toks < 5 THEN 1 ELSE 0 END) AS BIGINT)
         |          AS n_short
         |      FROM d JOIN kc USING (key) GROUP BY 1)
         |SELECT source, n_docs, n_tokens, n_langs,
         |       (2 * sum_chars + n_docs) // (2 * n_docs) AS avg_chars,
         |       n_exact_dups, n_short,
         |       (2 * 10000 * n_exact_dups + n_docs) // (2 * n_docs) AS dup_x1e4,
         |       (2 * 10000 * n_short + n_docs) // (2 * n_docs) AS short_x1e4
         |FROM a""".stripMargin),

    // License-compliance filter (round 11) — the legal-curation stage
    // real corpus pipelines run before training (The Stack / StarCoder
    // keep permissive-licensed files only): classify each doc by
    // license markers in its text, report the per-source license mix,
    // and count the training-eligible survivors (permissive or
    // unmarked; restrictive drops). The corpus carries no license
    // text, so the plants synthesize the real-world mix from the
    // read-only corpus (the withNearDups convention): every 5th doc
    // gains a CC-BY marker, every 7th an all-rights-reserved marker
    // (doc_id % 35 docs get BOTH — restrictive wins, the standard
    // conservative rule). Pure map-side classification + one rollup.
    Query("license_filter", { (s, d) =>
      val marked = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          concat(col("text"),
            when(col("doc_id") % 5 === 0,
              lit(" licensed under creative commons attribution 4.0"))
              .otherwise(lit("")),
            when(col("doc_id") % 7 === 0,
              lit(" all rights reserved unauthorized copying prohibited"))
              .otherwise(lit(""))).as("text"))
      val lic = when(lower(col("text")).contains("all rights reserved"),
          lit("restrictive"))
        .when(lower(col("text")).contains("creative commons"),
          lit("permissive"))
        .otherwise(lit("unmarked"))
      marked.withColumn("license", lic)
        .groupBy(col("source"), col("license"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("license") =!= "restrictive", 1L).otherwise(0L))
            .as("n_trainable"))
    },
      // license_filter: same plants, same conservative restrictive-wins
      // classification.
      """WITH m AS (SELECT doc_id, source,
        |             text ||
        |             CASE WHEN doc_id % 5 = 0
        |               THEN ' licensed under creative commons attribution 4.0'
        |               ELSE '' END ||
        |             CASE WHEN doc_id % 7 = 0
        |               THEN ' all rights reserved unauthorized copying prohibited'
        |               ELSE '' END AS text
        |           FROM documents),
        |c AS (SELECT source,
        |        CASE WHEN lower(text) LIKE '%all rights reserved%'
        |               THEN 'restrictive'
        |             WHEN lower(text) LIKE '%creative commons%'
        |               THEN 'permissive'
        |             ELSE 'unmarked' END AS license
        |      FROM m)
        |SELECT source, license, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(CASE WHEN license <> 'restrictive' THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_trainable
        |FROM c GROUP BY 1, 2""".stripMargin),

    // Sequence packing (round 5) — every doc's shard / token offset /
    // fixed-length-sequence index in the deterministic concatenation
    // order a training loader consumes (ext.Packing: per-shard running
    // sums — one exchange + one sort per shard, never a global sort).
    Query("pack_sequences", { (s, d) =>
      Packing.packOffsets(Tables.documents(s, d), col("doc_id"),
        size(TextOps.tokens(col("text"))), nShards = 8, seqLen = 256)
    },
      s"""WITH t AS (SELECT doc_id,
         |    CAST(len($ToksSql) AS BIGINT) AS n_tokens,
         |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
         |  FROM documents),
         |w AS (SELECT doc_id, n_tokens, h % 8 AS shard,
         |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY h % 8 ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS offset_toks
         |  FROM t)
         |SELECT doc_id, n_tokens, shard, offset_toks,
         |       offset_toks // 256 AS pack_seq
         |FROM w""".stripMargin),

    // Sliding-window chunking (round 6) — overlapping 64-token windows
    // every 48 tokens (16-token overlap): the context-bounded
    // preparation stage for embedding/RAG corpora. Map-side row
    // explosion riding the scan (ext.Packing.chunkTokens) — no
    // shuffle; the oracle reproduces the windows with generate_series
    // + list_slice.
    Query("chunk_docs", { (s, d) =>
      Packing.chunkTokens(Tables.documents(s, d), col("doc_id"),
        TextOps.tokens(col("text")), chunkLen = 64, stride = 48)
    },
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |s AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n,
         |        CASE WHEN len(toks) <= 64 THEN 1
         |             ELSE 1 + (len(toks) - 64 + 47) // 48 END AS n_chunks
         |      FROM t),
         |c AS (SELECT doc_id, toks,
         |        unnest(generate_series(0, n_chunks - 1)) AS chunk_idx
         |      FROM s)
         |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
         |       CAST(chunk_idx * 48 AS BIGINT) AS start_tok,
         |       CAST(len(list_slice(toks, chunk_idx * 48 + 1,
         |                           chunk_idx * 48 + 64)) AS BIGINT)
         |         AS n_chunk_tokens,
         |       array_to_string(list_slice(toks, chunk_idx * 48 + 1,
         |                                  chunk_idx * 48 + 64), ' ')
         |         AS chunk_text
         |FROM c""".stripMargin),

    // Within-doc repetition quality signals (round 5) — Gopher-style
    // token-diversity / top-token-mass / duplicate-bigram filters
    // (ext.Repetition: array stats ride the scan; one explode-agg tree
    // for the top-token count — text scanned once).
    Query("doc_repetition", { (s, d) =>
      Repetition.stats(Tables.documents(s, d), col("doc_id"), col("text"))
    },
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |u AS (SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS pos FROM t),
        |bi AS (SELECT doc_id, w || ' ' || lead(w, 1) OVER win AS b,
        |              lead(w, 1) OVER win AS w1
        |       FROM u WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
        |bs AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |              CAST(count(DISTINCT b) AS BIGINT) AS n_db
        |       FROM bi WHERE w1 IS NOT NULL GROUP BY 1),
        |tc AS (SELECT doc_id, w, count(*) AS c FROM u GROUP BY 1, 2),
        |ts AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |              CAST(count(*) AS BIGINT) AS n_distinct,
        |              CAST(max(c) AS BIGINT) AS top_cnt
        |       FROM tc GROUP BY 1)
        |SELECT ts.doc_id, ts.n_tokens, ts.n_distinct,
        |  round(CAST(ts.n_distinct AS DOUBLE) / ts.n_tokens, 4) AS distinct_ratio,
        |  ts.top_cnt,
        |  round(CAST(ts.top_cnt AS DOUBLE) / ts.n_tokens, 4) AS top_token_frac,
        |  coalesce(bs.n_bigrams, 0) AS n_bigrams,
        |  CASE WHEN coalesce(bs.n_bigrams, 0) = 0 THEN 0.0
        |       ELSE round(CAST(bs.n_bigrams - bs.n_db AS DOUBLE) / bs.n_bigrams, 4)
        |  END AS dup_bigram_frac
        |FROM ts LEFT JOIN bs ON bs.doc_id = ts.doc_id""".stripMargin),

    // Temperature-scaled mixture rebalancing (round 8) — the
    // multilingual data-mixing move (α = 0.5; mBERT/XLM-R/PaLM
    // rebalance language shares toward p^α): head languages
    // downsample at √(n_min/n_l), the smallest keeps everything.
    // Rates are CORPUS-DERIVED (the tiny per-lang count frame
    // broadcasts back), not config. w_l = ⌊10⁶·√n_l⌋ is the only
    // float op — sqrt is correctly-rounded IEEE in both engines,
    // floored at fixed scale — and the keep test is the exact-integer
    // cross-multiply h·w_l < w_min·2⁶⁰ on the row's own md5 hash
    // (mixture_sample's discipline): deterministic membership,
    // idempotent retries, every boundary bit-identical.
    Query("temp_mixture", { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
      val c = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      val w = c.withColumn("wl",
        floor(lit(1000000.0) * sqrt(col("n_docs").cast("double"))).cast("long"))
      val wmin = w.agg(min(col("wl")).as("wmin"))
      docs.join(broadcast(w), Seq("lang")).crossJoin(broadcast(wmin))
        .withColumn("h", Dedup.md5Hash60(col("doc_id").cast("string")))
        .groupBy(col("lang"))
        .agg(max(col("n_docs")).as("n_docs"),
          sum(when(col("h").cast("decimal(38,0)") * col("wl") <
              col("wmin").cast("decimal(38,0)") * lit(1152921504606846976L), 1L)
            .otherwise(0L)).as("kept"))
    },
      // temp_mixture: 2^60 = 1152921504606846976; HUGEINT cross-multiply
      // mirrors Spark's decimal(38,0) compare bit-for-bit.
      """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
        |           FROM documents GROUP BY 1),
        |w AS (SELECT lang, n_docs,
        |        CAST(floor(1000000 * sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT) AS wl
        |      FROM c),
        |mn AS (SELECT min(wl) AS wmin FROM w),
        |k AS (SELECT d.lang, w.n_docs, w.wl, mn.wmin,
        |        CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
        |      FROM documents d JOIN w USING (lang) CROSS JOIN mn)
        |SELECT lang, max(n_docs) AS n_docs,
        |       CAST(sum(CASE WHEN CAST(h AS HUGEINT) * wl <
        |                          CAST(wmin AS HUGEINT) * 1152921504606846976
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS kept
        |FROM k GROUP BY 1""".stripMargin),

    // N-gram novelty scoring (round 10) — per doc, the fraction of its
    // distinct 3-gram shingles whose FIRST corpus occurrence (min
    // doc_id — the crawl-order stand-in) is this doc. The incremental-
    // curation diagnostic behind "is this batch adding content or
    // re-crawling?": near-dups and boilerplate-heavy docs score near 0,
    // genuinely new text near 100. Shingles are ShingleMd5 60-bit
    // hashes (the codegen kernel), so rows crossing the exchanges are
    // (long, long) — never text. Docs with < 3 tokens carry no
    // shingles and are absent (no 0/0 cell). 100 TB shape: one explode
    // → per-doc distinct → min-agg on the hash → hash-join back on the
    // same key → doc agg; everything is (doc,hash)-sized, the verify
    // math is exact-integer HALF_UP.
    Query("ngram_novelty", { (s, d) =>
      val sh = Dedup.rebalance(Tables.documents(s, d))
        .select(col("doc_id"), explode(graft.ext.expr.ShingleMd5.shingleMd5(
          TextOps.tokens(lower(col("text"))), 3)).as("h"))
        .distinct()
        .localCheckpoint(true)
      val first = sh.groupBy(col("h")).agg(min(col("doc_id")).as("first_doc"))
      sh.join(first, "h")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .selectExpr("doc_id", "n_shingles", "n_novel",
          "(200 * n_novel + n_shingles) div (2 * n_shingles) AS novelty_x100")
    },
      // ngram_novelty: same 60-bit shingle hash as cms_freq, first
      // occurrence by min(doc_id), exact-integer HALF_UP percentage.
      s"""WITH ct AS (SELECT doc_id, list_transform($ToksSql, t -> lower(t)) AS toks
         |            FROM documents),
         |pos AS (SELECT doc_id, toks,
         |          unnest(generate_series(1, len(toks) - 2)) AS s
         |        FROM ct),
         |sh AS (SELECT DISTINCT doc_id, CAST('0x' || substr(md5(
         |         array_to_string(list_slice(toks, s, s + 2), ' ')), 1, 15)
         |         AS BIGINT) AS h
         |       FROM pos),
         |first AS (SELECT h, min(doc_id) AS first_doc FROM sh GROUP BY 1),
         |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |          CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_novel
         |        FROM sh JOIN first USING (h) GROUP BY 1)
         |SELECT doc_id, n_shingles, n_novel,
         |       (200 * n_novel + n_shingles) // (2 * n_shingles) AS novelty_x100
         |FROM agg""".stripMargin),

    // Character-entropy scoring (round 10) — Shannon entropy of each
    // doc's character distribution, the Gopher-family gibberish
    // detector (random keyboard mash ≈ uniform → high; "aaaa…" /
    // single-char padding → near 0; natural text sits in a stable
    // band). H = Σ c·(ln n − ln c)/n in nats, computed under the
    // unigram_logprob discipline: both ln's are floored to 1e6-scaled
    // BIGINTs per (doc,char) AFTER exact-integer counts, the numerator
    // is an exact BIGINT sum, and the mean is HALF_UP integer division
    // (ent_num ≥ 0 always since n ≥ c). Char explode is the explicit
    // substr sequence — identical semantics both engines (split-by-
    // empty-regex differs). Empty docs carry no rows. 100 TB shape:
    // one linear char explode (the same class as the token explodes)
    // → (doc,char) agg → doc agg; nothing wider than the corpus.
    Query("char_entropy", { (s, d) =>
      val cc = Dedup.rebalance(Tables.documents(s, d))
        .select(col("doc_id"),
          explode(when(length(col("text")) >= 1,
            transform(sequence(lit(1), length(col("text"))),
              i => col("text").substr(i, lit(1))))
            .otherwise(array().cast("array<string>"))).as("c"))
        .groupBy(col("doc_id"), col("c")).agg(count(lit(1)).as("cc"))
      val n = cc.groupBy(col("doc_id")).agg(sum(col("cc")).as("n_chars"),
        count(lit(1)).as("n_distinct"))
      cc.join(n, "doc_id")
        .groupBy(col("doc_id"), col("n_chars"), col("n_distinct"))
        .agg(sum(col("cc") *
          (floor(log(col("n_chars").cast("double")) * 1e6 + 0.5).cast("long") -
           floor(log(col("cc").cast("double")) * 1e6 + 0.5).cast("long")))
          .as("ent_num"))
        .selectExpr("doc_id", "n_chars", "n_distinct",
          "(2 * ent_num + n_chars) div (2 * n_chars) AS entropy_x1e6")
    },
      // char_entropy: same explicit substr char explode, 1e6-floored
      // ln's over exact counts, HALF_UP mean.
      """WITH ch AS (SELECT doc_id,
        |              unnest(list_transform(generate_series(1, length(text)),
        |                                    i -> substr(text, i, 1))) AS c
        |            FROM documents),
        |cc AS (SELECT doc_id, c, CAST(count(*) AS BIGINT) AS cc FROM ch GROUP BY 1, 2),
        |n AS (SELECT doc_id, CAST(sum(cc) AS BIGINT) AS n_chars,
        |             CAST(count(*) AS BIGINT) AS n_distinct
        |      FROM cc GROUP BY 1),
        |e AS (SELECT cc.doc_id, n_chars, n_distinct,
        |        CAST(sum(cc * (CAST(floor(ln(CAST(n_chars AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
        |                       - CAST(floor(ln(CAST(cc AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)))
        |          AS BIGINT) AS ent_num
        |      FROM cc JOIN n USING (doc_id) GROUP BY 1, 2, 3)
        |SELECT doc_id, n_chars, n_distinct,
        |       (2 * ent_num + n_chars) // (2 * n_chars) AS entropy_x1e6
        |FROM e""".stripMargin),

    // PPS Poisson sampling + Horvitz–Thompson estimation (round 10) —
    // probability-proportional-to-size sampling per lang stratum
    // (Ohlsson 1998's Poisson πps family): doc i is kept with
    // p_i = min(1, k·w_i/W) where w_i = n_chars, so a size-k expected
    // sample over-represents the big docs that dominate token budgets
    // — the right way to draw eval/inspection subsets when docs vary
    // 1000× in length (uniform sampling would be dominated by tiny
    // docs by count and miss the mass). The keep test is EXACT
    // integer: md5Hash60("pps:"+id)·W < k·w_i·2^60 in DECIMAL(38,0)
    // (HUGEINT in the oracle) — no float probability ever exists —
    // and certainty items (k·w_i ≥ W) are kept outright. The HT
    // estimator is where PPS shines: every probabilistic keep
    // contributes w_i/p_i = W/k to the stratum-total estimate, so
    // est = certain_sum + HALF_UP(n_prob·W/k), again exact-integer.
    // 100 TB shape: the keep test is map-side (stratum totals
    // broadcast); output is strata-sized.
    Query("pps_sample", { (s, d) =>
      Sampling.ppsSummary(
        Tables.documents(s, d).select(col("lang"), col("doc_id"), col("n_chars")),
        "lang", "doc_id", "n_chars", k = 100L)
    },
      // pps_sample: identical HUGEINT keep test and exact-integer HT
      // estimator; k = 100, 2^60 = 1152921504606846976.
      """WITH s AS (SELECT lang, CAST(sum(n_chars) AS BIGINT) AS w_tot,
        |                  CAST(count(*) AS BIGINT) AS n_docs
        |           FROM documents GROUP BY 1),
        |t AS (SELECT d.lang, d.n_chars, s.w_tot, s.n_docs,
        |        (100 * d.n_chars >= s.w_tot) AS certain,
        |        ((100 * d.n_chars >= s.w_tot) OR
        |         CAST(CAST('0x' || substr(md5('pps:' || CAST(d.doc_id AS VARCHAR)),
        |                                  1, 15) AS BIGINT) AS HUGEINT) * s.w_tot
        |         < CAST(100 * d.n_chars AS HUGEINT) * 1152921504606846976) AS keep
        |      FROM documents d JOIN s USING (lang))
        |SELECT lang, n_docs,
        |       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       CAST(sum(CASE WHEN certain THEN 1 ELSE 0 END) AS BIGINT) AS n_certain,
        |       w_tot AS true_chars,
        |       CAST(sum(CASE WHEN certain THEN n_chars ELSE 0 END)
        |            + (2 * (sum(CASE WHEN keep THEN 1 ELSE 0 END)
        |                    - sum(CASE WHEN certain THEN 1 ELSE 0 END)) * w_tot + 100)
        |              // 200
        |            AS BIGINT) AS est_chars
        |FROM t GROUP BY lang, n_docs, w_tot""".stripMargin),

    // Count-Min frequency estimates (round 8) — the first EXACTLY
    // oracled sketch: CMS cells are pure sums (partition-invariant,
    // unlike MG/HLL), so the 4×2048 sketch built over every 3-gram
    // occurrence replays relationally in DuckDB. Output: the 50 most
    // frequent shingles with exact count, sketch estimate, and the
    // overcount (≥ 0 always — CMS never undercounts). At 100 TB only
    // the sketch survives; the exact side here is the demonstration
    // harness the oracle checks the estimate arithmetic against.
    Query("cms_freq", { (s, d) =>
      val occ = Dedup.rebalance(Tables.documents(s, d))
        .select(explode(graft.ext.expr.ShingleMd5.shingleMd5(
          TextOps.tokens(lower(col("text"))), 3)).as("h"))
        .localCheckpoint(true)
      val sketch = occ.agg(CountMin.agg()(col("h")).as("cms"))
      val exact = occ.groupBy(col("h")).agg(count(lit(1)).as("exact_count"))
      exact.orderBy(col("exact_count").desc, col("h")).limit(50)
        .crossJoin(broadcast(sketch))
        .select(col("h").as("shingle_hash"), col("exact_count"),
          CountMin.estimate(col("cms"), col("h")).as("cms_est"))
        .withColumn("overcount", col("cms_est") - col("exact_count"))
    },
      // cms_freq: the 4×2048 Count-Min sketch replayed relationally —
      // cell (i, p) is the occurrence count mapping there under the same
      // Kirsch–Mitzenmacher positions, estimate = min over the 4 cells.
      s"""WITH ct AS (SELECT doc_id, list_transform($ToksSql, t -> lower(t)) AS toks
         |           FROM documents),
         |pos AS (SELECT doc_id, toks,
         |          unnest(generate_series(1, len(toks) - 2)) AS s
         |        FROM ct),
         |occ AS (SELECT CAST('0x' || substr(md5(
         |          array_to_string(list_slice(toks, s, s + 2), ' ')), 1, 15)
         |          AS BIGINT) AS h
         |        FROM pos),
         |hp AS (SELECT h, i,
         |         ((h % 2048) + i * (2 * ((h >> 20) % 524288) + 1)) % 2048 AS p
         |       FROM (SELECT DISTINCT h FROM occ)
         |       CROSS JOIN (VALUES (0), (1), (2), (3)) AS ii(i)),
         |cells AS (SELECT i, p, CAST(count(*) AS BIGINT) AS c
         |          FROM occ JOIN hp USING (h) GROUP BY i, p),
         |est AS (SELECT hp.h, min(c) AS cms_est
         |        FROM hp JOIN cells USING (i, p) GROUP BY hp.h),
         |exact AS (SELECT h, CAST(count(*) AS BIGINT) AS exact_count
         |          FROM occ GROUP BY h),
         |top AS (SELECT h, exact_count FROM exact
         |        ORDER BY exact_count DESC, h LIMIT 50)
         |SELECT top.h AS shingle_hash, exact_count, cms_est,
         |       cms_est - exact_count AS overcount
         |FROM top JOIN est ON est.h = top.h""".stripMargin),

    // Z-order (Morton) clustering key (round 5) — multi-dimensional
    // data-skipping layout (see ext.ZOrder). The key itself is oracled
    // here (the SQL is machine-generated from the same bit loop); the
    // write path + file-statistics pruning effect is spec-gated
    // (ZOrderSpec) since filesystems aren't SQL-expressible.
    Query("zorder_cluster", { (s, d) =>
      val x = pmod(col("l_partkey"), lit(65536L))
      val y = pmod(col("l_suppkey"), lit(65536L))
      Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        x.as("zx"), y.as("zy"),
        ZOrder.interleave16(x, y).as("zkey"))
    },
      {
        val z = ZOrder.interleave16Sql("(l_partkey % 65536)", "(l_suppkey % 65536)")
        s"""SELECT l_orderkey, l_linenumber,
           |  l_partkey % 65536 AS zx, l_suppkey % 65536 AS zy,
           |  $z AS zkey
           |FROM lineitem""".stripMargin
      }),

    // PMI phrase mining (round 10) — pointwise mutual information over
    // adjacent token pairs (Church & Hanks 1990; the word2phrase merge
    // score in Mikolov et al. 2013 is its discounted variant): the
    // top-50 bigrams whose co-occurrence beats independence, the
    // phrase/collocation detector a tokenizer- or embedding-pipeline
    // runs to promote "new york"-style units before training.
    // PMI = ln(c12·Tu²/(Tb·c1·c2)), every input an exact integer, the
    // double op tree written IDENTICALLY in both engines (bm25/tfidf
    // convention: IEEE mult/div are exactly rounded, ln is the one
    // libm call), floored at 1e6 scale for the rank key; min-support
    // c12 ≥ 5 keeps the noise floor out (a 1-occurrence pair of two
    // hapaxes would otherwise top the list). 100 TB shape: one token
    // explode for unigram counts, one map-side zip_with bigram
    // derivation (no positional self-join), totals broadcast, the
    // c1/c2 joins ride the DISTINCT-bigram frame, top cut is a
    // bounded TakeOrdered.
    Query("phrase_detect", { (s, d) =>
      val toks = Dedup.rebalance(Tables.documents(s, d))
        .select(col("doc_id"), TextOps.tokens(lower(col("text"))).as("toks"))
        .localCheckpoint(true)
      val uni = toks.select(explode(col("toks")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
        .localCheckpoint(true)
      val tu = uni.agg(sum(col("c")).as("tu"))
      val tb = toks
        .select((size(col("toks")) - 1).cast("long").as("nb"))
        .agg(sum(when(col("nb") > 0L, col("nb")).otherwise(0L)).as("tb"))
      val bi = toks.select(explode(zip_with(
          slice(col("toks"), lit(1), greatest(size(col("toks")) - 1, lit(0))),
          slice(col("toks"), lit(2), greatest(size(col("toks")) - 1, lit(0))),
          (a, b) => concat(a, lit(" "), b))).as("bigram"))
        .groupBy(col("bigram")).agg(count(lit(1)).as("c12"))
        .filter(col("c12") >= 5L)
      bi.withColumn("w1", substring_index(col("bigram"), " ", 1))
        .withColumn("w2", substring_index(col("bigram"), " ", -1))
        .join(uni.select(col("w").as("w1"), col("c").as("c1")), "w1")
        .join(uni.select(col("w").as("w2"), col("c").as("c2")), "w2")
        .crossJoin(broadcast(tu)).crossJoin(broadcast(tb))
        .select(col("bigram"), col("c12"), col("c1"), col("c2"),
          floor(log((col("c12").cast("double") * col("tu") * col("tu")) /
              (col("tb").cast("double") * col("c1") * col("c2"))) * 1e6 + 0.5)
            .cast("long").as("pmi_x1e6"))
        .orderBy(col("pmi_x1e6").desc, col("bigram")).limit(50)
    },
      // phrase_detect: identical PMI op tree (left-assoc mults, one
      // div, one ln), min-support 5, (pmi DESC, bigram) top-50.
      s"""WITH tk AS (SELECT doc_id, list_transform($ToksSql, t -> lower(t)) AS toks
         |            FROM documents),
         |u AS (SELECT unnest(toks) AS w FROM tk),
         |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM u GROUP BY 1),
         |tu AS (SELECT CAST(sum(c) AS BIGINT) AS tu FROM uni),
         |tb AS (SELECT CAST(sum(CASE WHEN len(toks) > 1 THEN len(toks) - 1
         |                            ELSE 0 END) AS BIGINT) AS tb
         |       FROM tk),
         |bg AS (SELECT toks[k] || ' ' || toks[k + 1] AS bigram
         |       FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS k
         |             FROM tk)),
         |bi AS (SELECT bigram, CAST(count(*) AS BIGINT) AS c12
         |       FROM bg GROUP BY 1 HAVING count(*) >= 5),
         |sc AS (SELECT bigram, c12, u1.c AS c1, u2.c AS c2,
         |         CAST(floor(ln((CAST(c12 AS DOUBLE) * tu * tu) /
         |                       (CAST(tb AS DOUBLE) * u1.c * u2.c)) * 1e6 + 0.5)
         |           AS BIGINT) AS pmi_x1e6
         |       FROM bi JOIN uni u1 ON u1.w = string_split(bigram, ' ')[1]
         |               JOIN uni u2 ON u2.w = string_split(bigram, ' ')[2]
         |       CROSS JOIN tu CROSS JOIN tb)
         |SELECT bigram, c12, c1, c2, pmi_x1e6 FROM sc
         |ORDER BY pmi_x1e6 DESC, bigram LIMIT 50""".stripMargin))
}
