package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.{Bloom, Contamination, Dedup, Fuzzy, SubstringScrub, TextOps, Winnow}

/** Dedup and contamination queries over `documents`: exact, MinHash,
  * SimHash, n-gram and substring near-duplicate detection, dedup groups,
  * the corpus pipeline and benchmark-contamination checks (SURVEY §7.5).
  * The dedup hashes are md5-derived (see Dedup.md5Hash60) so every
  * pipeline replicates bit-for-bit in the DuckDB oracle.
  */
object DedupQueries {

  import QueryCommon._

  /** Offset for the perturbed-copy doc ids. 1e9 is provably disjoint
    * from any corpus this engine targets (doc_id is a dense int64; even
    * sf100's corpus is ~5e7 docs) — round 1's 10,000 offset silently
    * collided once the corpus exceeded 10 k docs (sf1). A spec guards
    * the disjointness (ExtQueriesSpec). */
  val NearDupOffset: Long = 1000000000L

  /** documents ∪ a perturbed copy (last 3 tokens dropped,
    * doc_id + [[NearDupOffset]]) — gives the near-dup detectors true
    * positives to find while still deriving every byte from the
    * read-only corpus. */
  def withNearDups(docs: DataFrame): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val perturbed = docs.select(
      (col("doc_id") + NearDupOffset).as("doc_id"),
      concat_ws(" ", slice(toks, lit(1), greatest(size(toks) - 3, lit(1)))).as("text"))
    docs.select(col("doc_id"), col("text")).unionByName(perturbed)
  }

  /** Three messy spellings of a logical page per document (the corpus
    * has no URL column, so the URL-curation queries synthesize
    * adversarial input): `page = doc_id div 3` picks the page, the
    * host derives from the page (7 sites × {.com, .co.uk}), and
    * `doc_id % 3` picks the spelling — canonical, SHOUTED www+:80, or
    * query+fragment (with a `sub.` host on .co.uk pages, exercising
    * registered-domain grouping). Spellings 0/1 of a page normalize
    * identically; 2 does too on .com pages but keeps its `sub.` host
    * distinct on .co.uk ones. The SQL template is dialect-shared with
    * the oracle — only the integer-division token differs. */
  private[queries] def messyUrlSql(div: String): String = {
    val page = s"(doc_id $div 3)"
    val h = s"CAST($page % 7 AS STRING)"
    val pg = s"CAST($page AS STRING)"
    val tld = s"(CASE WHEN $page % 2 = 0 THEN '.com' ELSE '.co.uk' END)"
    val tldUp = s"(CASE WHEN $page % 2 = 0 THEN '.COM' ELSE '.CO.UK' END)"
    val sub = s"(CASE WHEN $page % 2 = 0 THEN '' ELSE 'sub.' END)"
    s"""CASE CAST(doc_id % 3 AS INT)
       |  WHEN 0 THEN concat('https://site', $h, $tld, '/p/', $pg)
       |  WHEN 1 THEN concat('HTTP://WWW.Site', $h, $tldUp, ':80/p/', $pg, '/')
       |  ELSE concat('https://', $sub, 'site', $h, $tld, '/p/', $pg,
       |              '?utm_source=feed#sec')
       |END""".stripMargin
  }

  def messyUrls(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), expr(messyUrlSql("div")).as("url"))

  // ---- generated oracle SQL (md5-derived hash family) -----------------
  // The dedup/ANN hashes are all conv(substr(md5(x),1,15),16,10)-style
  // 60-bit values, which DuckDB computes as
  // CAST('0x'||substr(md5(x),1,15) AS BIGINT) — so the full MinHash /
  // SimHash / sign-LSH pipelines replicate exactly. The SQL is long but
  // machine-generated from the same constants the Spark side uses.

  /** [[withNearDups]] in SQL: documents ∪ perturbed copy. */
  private val CorpusCte: String =
    s"""corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + $NearDupOffset AS doc_id,
       |         array_to_string(list_slice(toks, 1, greatest(len(toks) - 3, 1)), ' ') AS text
       |  FROM (SELECT doc_id, $ToksSql AS toks FROM documents))""".stripMargin

  /** CTE chain ending in `pairs(doc_a, doc_b, est_jaccard)` — the
    * DuckDB replica of Dedup.minhashPairs over the near-dup corpus. */
  private def minhashCtes: String = s"$CorpusCte,\n$minhashChainCtes"

  /** The minhash machinery AFTER the corpus definition: reads a CTE
    * named `corpus(doc_id, text)` and ends in `pairs`. Shared by the
    * dedup oracles (over [[CorpusCte]]) and corpus_pipeline (over its
    * stage-3 survivors). */
  private def minhashChainCtes: String = {
    val sigmCols = (0 until Dedup.NumHashes / 4)
      .map(i => s"md5('$i:' || s) AS m$i").mkString(", ")
    val sigCols = (0 until Dedup.NumHashes).map { k =>
      val off = 1 + (k % 4) * 8
      s"CAST('0x' || min(substr(m${k / 4}, $off, 8)) AS BIGINT) AS h$k"
    }.mkString(", ")
    val bandedSelects = (0 until Dedup.NumBands).map { b =>
      val cols = (0 until Dedup.RowsPerBand)
        .map(r => s"h${b * Dedup.RowsPerBand + r}").mkString(", ")
      s"  SELECT doc_id, $b AS band, md5(concat_ws(',', $cols)) AS bh FROM sig"
    }.mkString("\n  UNION ALL\n")
    val nEq = (0 until Dedup.NumHashes)
      .map(k => s"(CASE WHEN sa.h$k = sb.h$k THEN 1 ELSE 0 END)").mkString(" + ")
    s"""ct AS (SELECT doc_id, $ToksSql AS toks FROM corpus),
       |cu AS (SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS pos FROM ct),
       |csh AS (SELECT doc_id, concat_ws(' ', w, lead(w,1) OVER win, lead(w,2) OVER win) AS s,
       |               lead(w,2) OVER win AS w2
       |        FROM cu WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
       |shv AS (SELECT doc_id, s FROM csh WHERE w2 IS NOT NULL),
       |sigm AS (SELECT doc_id, $sigmCols FROM shv),
       |sig AS (SELECT doc_id, $sigCols FROM sigm GROUP BY doc_id),
       |banded AS (
       |$bandedSelects),
       |okb AS (SELECT band, bh FROM banded GROUP BY band, bh
       |        HAVING count(*) <= ${Dedup.MaxBandBucket}),
       |bandedok AS (SELECT b.* FROM banded b JOIN okb
       |             ON okb.band = b.band AND okb.bh = b.bh),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |         FROM bandedok x JOIN bandedok y
       |           ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
       |scored AS (SELECT c.doc_a, c.doc_b, ($nEq) / 32.0 AS est_jaccard
       |           FROM cand c JOIN sig sa ON sa.doc_id = c.doc_a
       |                       JOIN sig sb ON sb.doc_id = c.doc_b),
       |pairs AS (SELECT doc_a, doc_b, est_jaccard FROM scored WHERE est_jaccard >= 0.5)""".stripMargin
  }

  /** The corpus_pipeline full-recompute CTE cascade — planted corpus,
    * quality rules, URL canonicalization (url_dedup's regex chain),
    * exact-text QUALIFY, the shared minhash machinery over the
    * stage-3 survivors (minhashChainCtes + recursive CC),
    * contamination split/threshold, mixture keep test, pack window.
    * With `cross = true` the planted corpus also carries the four
    * cross-boundary re-fetch families over the base slice (doc_id %
    * 10 = 0, id ≤ ⌊4·max/5⌋) — making the SAME cascade the
    * full-recompute EQUIVALENCE oracle for buildIncremental (the
    * mv_refresh convention: the incremental Spark plan must equal the
    * recompute bit-for-bit). The 12e9 messy-URL CASE branch is inert
    * when cross = false (no such ids exist). */
  private def corpusPipelineOracle(cross: Boolean): String = {
    val cutSub = "(SELECT 4 * max(doc_id) // 5 FROM documents)"
    val crossAug =
      if (!cross) ""
      else s"""
         |  UNION ALL
         |  SELECT doc_id + 8000000000, text, source FROM documents
         |  WHERE doc_id % 10 = 0 AND doc_id <= $cutSub
         |  UNION ALL
         |  SELECT doc_id + 9000000000,
         |         array_to_string(list_slice(toks, 1, greatest(len(toks) - 4, 1)), ' '),
         |         source
         |  FROM (SELECT doc_id, $ToksSql AS toks, source FROM documents)
         |  WHERE doc_id % 10 = 0 AND doc_id <= $cutSub
         |  UNION ALL
         |  SELECT doc_id + 12000000000, text, source FROM documents
         |  WHERE doc_id % 10 = 0 AND doc_id <= $cutSub
         |  UNION ALL
         |  SELECT doc_id + 13000000000,
         |         array_to_string(toks[1:20], ' ') || ' ' ||
         |         array_to_string(list_transform(generate_series(1, 20),
         |           k -> 'zr' || CAST(doc_id AS VARCHAR) || 'x' || CAST(k AS VARCHAR)), ' '),
         |         source
         |  FROM (SELECT doc_id, $ToksSql AS toks, source FROM documents)
         |  WHERE doc_id % 10 = 0 AND doc_id <= $cutSub""".stripMargin
    // MATERIALIZED: DuckDB inlines plain CTEs into every reference, so
    // the downstream cascade (minhash chain + recursive CC + shingle
    // stages all reading `aug`-derived frames) would otherwise expand
    // into hundreds of parallel `documents` parquet scans — with the
    // cross plants that exhausted the checker process's fd limit
    // (observed: "Too many open files" at 14 textual refs × inlining ×
    // 32 threads). Materializing the planted corpus once is also what
    // the Spark side does (localCheckpoint on base).
    s"""WITH RECURSIVE
         |aug AS MATERIALIZED (
         |  SELECT doc_id, text, source FROM documents
         |  UNION ALL
         |  SELECT doc_id + 2000000000, array_to_string(toks[1:2], ' '), source
         |  FROM (SELECT doc_id, $ToksSql AS toks, source FROM documents)
         |  UNION ALL
         |  SELECT doc_id + 5000000000, text, source FROM documents
         |  UNION ALL
         |  SELECT doc_id + 6000000000, text, source FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000000,
         |         array_to_string(list_slice(toks, 1, greatest(len(toks) - 3, 1)), ' '),
         |         source
         |  FROM (SELECT doc_id, $ToksSql AS toks, source FROM documents)
         |  UNION ALL
         |  SELECT doc_id + 7000000000,
         |         array_to_string(toks[1:20], ' ') || ' ' ||
         |         array_to_string(list_transform(generate_series(1, 20),
         |           k -> 'zq' || CAST(doc_id AS VARCHAR) || 'x' || CAST(k AS VARCHAR)), ' '),
         |         source
         |  FROM (SELECT doc_id, $ToksSql AS toks, source FROM documents)$crossAug),
         |qr AS (SELECT doc_id, text, source,
         |         CAST(len(toks) AS BIGINT) AS n_words,
         |         CAST(length(array_to_string(toks, '')) AS BIGINT) AS char_sum,
         |         CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS BIGINT) AS n_punct,
         |         CAST(length(text) AS BIGINT) AS text_len
         |       FROM (SELECT doc_id, text, source, $ToksSql AS toks FROM aug)),
         |s1 AS (SELECT doc_id, text, source FROM qr
         |       WHERE NOT ((n_words < 5) OR (n_words > 50000)
         |         OR (n_words > 0 AND (CAST(char_sum AS DOUBLE) / n_words < 2.0
         |                              OR CAST(char_sum AS DOUBLE) / n_words > 15.0))
         |         OR (text_len > 0 AND CAST(n_punct AS DOUBLE) / text_len > 0.2))),
         |s2u AS (SELECT doc_id, text, source,
         |          CASE WHEN doc_id >= 5000000000 AND doc_id < 6000000000
         |            THEN 'HTTPS://WWW.Site' || CAST((doc_id - 5000000000) % 7 AS VARCHAR)
         |                 || '.COM:80/p/' || CAST(doc_id - 5000000000 AS VARCHAR)
         |          WHEN doc_id >= 12000000000 AND doc_id < 13000000000
         |            THEN 'HTTPS://WWW.Site' || CAST((doc_id - 12000000000) % 7 AS VARCHAR)
         |                 || '.COM:80/p/' || CAST(doc_id - 12000000000 AS VARCHAR)
         |            ELSE 'https://site' || CAST(doc_id % 7 AS VARCHAR)
         |                 || '.com/p/' || CAST(doc_id AS VARCHAR) END AS url
         |        FROM s1),
         |s2n AS (SELECT doc_id, text, source,
         |          regexp_replace(regexp_replace(
         |            lower(regexp_extract(t, '^([^/]*)', 1)),
         |            ':(80|443)$$', ''), '^www\\.', '') ||
         |          regexp_replace(regexp_replace(t, '^[^/]*', ''), '/$$', '') AS canon
         |        FROM (SELECT doc_id, text, source,
         |                regexp_replace(regexp_replace(regexp_replace(url,
         |                  '#.*$$', ''), '\\?.*$$', ''), '(?i)^https?://', '') AS t
         |              FROM s2u)),
         |s2 AS (SELECT doc_id, text, source FROM s2n
         |       QUALIFY doc_id = min(doc_id) OVER (PARTITION BY canon)),
         |s3c AS MATERIALIZED (SELECT doc_id, text, source FROM s2
         |        QUALIFY doc_id = min(doc_id) OVER (PARTITION BY lower(trim(text)))),
         |corpus AS MATERIALIZED (SELECT doc_id, text FROM s3c),
         |$minhashChainCtes,
         |und AS (SELECT doc_a AS s, doc_b AS d FROM pairs
         |        UNION SELECT doc_b, doc_a FROM pairs),
         |reach(node, r) AS (
         |  SELECT s, d FROM und
         |  UNION
         |  SELECT u.s, re.r FROM und u JOIN reach re ON re.node = u.d),
         |lbl AS (SELECT node, least(node, min(r)) AS group_id FROM reach GROUP BY node),
         |losers AS (SELECT node FROM lbl WHERE node <> group_id),
         |s4 AS (SELECT doc_id, text, source FROM s3c
         |       WHERE doc_id NOT IN (SELECT node FROM losers)),
         |u5 AS (SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS pos
         |       FROM (SELECT doc_id, $ToksSql AS toks FROM s4)),
         |sh5 AS (SELECT doc_id, concat_ws(' ', w, lead(w,1) OVER win5, lead(w,2) OVER win5) AS s,
         |               lead(w,2) OVER win5 AS w2
         |        FROM u5 WINDOW win5 AS (PARTITION BY doc_id ORDER BY pos)),
         |hv5 AS (SELECT doc_id,
         |          CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 20 AS shard,
         |          CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS h
         |        FROM sh5 WHERE w2 IS NOT NULL),
         |ev5 AS (SELECT DISTINCT h FROM hv5 WHERE shard < 2),
         |tr5 AS (SELECT DISTINCT doc_id, h FROM hv5 WHERE shard >= 2),
         |bad5 AS (SELECT tr5.doc_id FROM tr5 LEFT JOIN ev5 ON ev5.h = tr5.h
         |         GROUP BY tr5.doc_id
         |         HAVING 5 * sum(CASE WHEN ev5.h IS NOT NULL THEN 1 ELSE 0 END) >= count(*)),
         |s5 AS (SELECT doc_id, text, source FROM s4
         |       WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 20 >= 2
         |         AND doc_id NOT IN (SELECT doc_id FROM bad5)),
         |w6 AS (SELECT source AS stratum,
         |              (CAST(substr(source, 4) AS INTEGER) % 4 + 1) * 200 AS permille
         |       FROM (SELECT DISTINCT source FROM s5)),
         |s6 AS (SELECT doc_id, text FROM s5 JOIN w6 ON s5.source = w6.stratum
         |       WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
         |             < permille * 1152921504606846 + (permille * 976) // 1000),
         |t7 AS (SELECT doc_id, CAST(len($ToksSql) AS BIGINT) AS n_tokens,
         |         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
         |       FROM s6),
         |w7 AS (SELECT doc_id, n_tokens, h % 8 AS shard,
         |         CAST(coalesce(sum(n_tokens) OVER (PARTITION BY h % 8 ORDER BY h, doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS offset_toks
         |       FROM t7)
         |SELECT doc_id, n_tokens, shard, offset_toks,
         |       offset_toks // 256 AS pack_seq
         |FROM w7""".stripMargin
  }

  private def minhashOracle: String =
    s"WITH $minhashCtes\nSELECT doc_a, doc_b, est_jaccard FROM pairs"

  /** dedup_incremental's oracle: the sig chain over corpus ∪ batch,
    * candidates restricted to cross-side band matches (batch ids sit
    * at +1e9/+2e9, disjoint from the corpus id space by construction).
    * No bucket cap — parity with incrementalPairs, where one side is
    * always the small increment. */
  private def incrementalOracle: String = {
    val sigmCols = (0 until Dedup.NumHashes / 4)
      .map(i => s"md5('$i:' || s) AS m$i").mkString(", ")
    val sigCols = (0 until Dedup.NumHashes).map { k =>
      val off = 1 + (k % 4) * 8
      s"CAST('0x' || min(substr(m${k / 4}, $off, 8)) AS BIGINT) AS h$k"
    }.mkString(", ")
    val bandedSelects = (0 until Dedup.NumBands).map { b =>
      val cols = (0 until Dedup.RowsPerBand)
        .map(r => s"h${b * Dedup.RowsPerBand + r}").mkString(", ")
      s"  SELECT doc_id, $b AS band, md5(concat_ws(',', $cols)) AS bh FROM sig"
    }.mkString("\n  UNION ALL\n")
    val nEq = (0 until Dedup.NumHashes)
      .map(k => s"(CASE WHEN sa.h$k = sb.h$k THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH tk AS (SELECT doc_id, $ToksSql AS toks FROM documents),
       |batch AS (
       |  SELECT doc_id + $NearDupOffset AS doc_id,
       |         array_to_string(list_slice(toks, 1, greatest(len(toks) - 3, 1)), ' ') AS text
       |  FROM tk WHERE doc_id % 5 = 0
       |  UNION ALL
       |  SELECT doc_id + ${2 * NearDupOffset} AS doc_id,
       |         array_to_string(list_reverse(toks), ' ') AS text
       |  FROM tk WHERE doc_id % 7 = 0),
       |alls AS (SELECT doc_id, text FROM documents
       |         UNION ALL SELECT doc_id, text FROM batch),
       |ct AS (SELECT doc_id, $ToksSql AS toks FROM alls),
       |cu AS (SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS pos FROM ct),
       |csh AS (SELECT doc_id, concat_ws(' ', w, lead(w,1) OVER win, lead(w,2) OVER win) AS s,
       |               lead(w,2) OVER win AS w2
       |        FROM cu WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
       |shv AS (SELECT doc_id, s FROM csh WHERE w2 IS NOT NULL),
       |sigm AS (SELECT doc_id, $sigmCols FROM shv),
       |sig AS (SELECT doc_id, $sigCols FROM sigm GROUP BY doc_id),
       |banded AS (
       |$bandedSelects),
       |cand AS (SELECT DISTINCT x.doc_id AS batch_doc, y.doc_id AS corpus_doc
       |         FROM banded x JOIN banded y
       |           ON x.band = y.band AND x.bh = y.bh
       |          AND x.doc_id >= $NearDupOffset AND y.doc_id < $NearDupOffset)
       |SELECT c.batch_doc, c.corpus_doc, ($nEq) / 32.0 AS est_jaccard
       |FROM cand c JOIN sig sa ON sa.doc_id = c.batch_doc
       |            JOIN sig sb ON sb.doc_id = c.corpus_doc
       |WHERE ($nEq) / 32.0 >= 0.5""".stripMargin
  }

  /** Connected components over the minhash pairs via recursive
    * transitive closure (components are tiny — closure is affordable in
    * the oracle; the engine side uses GraphX Pregel instead). */
  private def groupsOracle: String =
    s"""WITH RECURSIVE $minhashCtes,
       |und AS (SELECT doc_a AS s, doc_b AS d FROM pairs
       |        UNION SELECT doc_b, doc_a FROM pairs),
       |reach(node, r) AS (
       |  SELECT s, d FROM und
       |  UNION
       |  SELECT u.s, re.r FROM und u JOIN reach re ON re.node = u.d),
       |lbl AS (SELECT node, least(node, min(r)) AS group_id FROM reach GROUP BY node)
       |SELECT group_id, count(*) AS group_size, min(node) AS keep_doc_id
       |FROM lbl GROUP BY 1 HAVING count(*) >= 2""".stripMargin

  /** dedup_keep_best: groupsOracle's closure + per-doc quality (the
    * text_quality formula over the near-dup CORPUS, perturbed copies
    * included) + deterministic argmax via row_number. */
  private def keepBestOracle: String =
    s"""WITH RECURSIVE $minhashCtes,
       |und AS (SELECT doc_a AS s, doc_b AS d FROM pairs
       |        UNION SELECT doc_b, doc_a FROM pairs),
       |reach(node, r) AS (
       |  SELECT s, d FROM und
       |  UNION
       |  SELECT u.s, re.r FROM und u JOIN reach re ON re.node = u.d),
       |lbl AS (SELECT node, least(node, min(r)) AS group_id FROM reach GROUP BY node),
       |q AS (SELECT doc_id,
       |        round(least(CAST(len($ToksSql) AS DOUBLE) / 100.0, 1.0) *
       |              (1.0 - CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
       |                     / length(text)), 4) AS quality
       |      FROM corpus),
       |w AS (SELECT lbl.group_id, lbl.node, q.quality,
       |        row_number() OVER (PARTITION BY lbl.group_id
       |                           ORDER BY q.quality DESC, lbl.node) AS rn
       |      FROM lbl JOIN q ON q.doc_id = lbl.node),
       |g AS (SELECT group_id, count(*) AS group_size, max(quality) AS best_quality
       |      FROM w GROUP BY 1)
       |SELECT g.group_id, g.group_size, w.node AS keep_doc_id, g.best_quality
       |FROM g JOIN w ON w.group_id = g.group_id AND w.rn = 1
       |WHERE g.group_size >= 2""".stripMargin

  private def simhashOracle: String = {
    val nibCols = (0 until 16)
      .map(p => s"CAST('0x' || substr(h, ${p + 1}, 1) AS BIGINT) AS n$p").mkString(", ")
    val bitSums = (0 until 64)
      .map(j => s"sum(CASE WHEN ((n${j / 4} >> ${j % 4}) & 1) = 1 THEN 1 ELSE -1 END) AS b$j")
      .mkString(", ")
    val assemble = (0 until 64).map {
      case 63 => "(CASE WHEN b63 > 0 THEN (-9223372036854775807 - 1) ELSE 0 END)"
      case j  => s"(CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH $CorpusCte,
       |tok AS (SELECT doc_id, unnest($ToksSql) AS w FROM corpus),
       |hx AS (SELECT doc_id, md5(w) AS h FROM tok),
       |nib AS (SELECT doc_id, $nibCols FROM hx),
       |bs AS (SELECT doc_id, $bitSums FROM nib GROUP BY doc_id),
       |sh AS (SELECT doc_id, CAST($assemble AS BIGINT) AS simhash FROM bs)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + $NearDupOffset
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 16""".stripMargin
  }

  val all: Seq[Query] = Seq(
    Query("dedup_exact", { (s, d) =>
      Dedup.exact(Tables.documents(s, d), col("text"), col("doc_id"))
    },
      """SELECT lower(trim(text)) AS norm_text, min(doc_id) AS keep_doc_id,
        |       count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin),

    Query("ngram_jaccard", { (s, d) =>
      val sh = TextOps.shingles(TextOps.tokens(col("text")), 3)
      val a = Tables.documents(s, d).select(col("doc_id").as("doc_a"), sh.as("sh_a"))
      val b = Tables.documents(s, d).select(col("doc_id").as("doc_b"), sh.as("sh_b"))
      a.join(b, col("doc_b") === col("doc_a") + 1)
        .select(col("doc_a"), col("doc_b"),
          Dedup.ngramJaccard(col("sh_a"), col("sh_b")).as("jaccard"))
    },
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |u AS (SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS pos FROM t),
        |sh AS (SELECT doc_id, concat_ws(' ', w, lead(w,1) OVER win, lead(w,2) OVER win) AS s,
        |              lead(w,2) OVER win AS w2
        |       FROM u WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
        |ds AS (SELECT DISTINCT doc_id, s FROM sh WHERE w2 IS NOT NULL),
        |sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |          FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
        |inter AS (SELECT p.doc_a, p.doc_b, count(*) AS ni
        |          FROM pairs p JOIN ds x ON x.doc_id = p.doc_a
        |                       JOIN ds y ON y.doc_id = p.doc_b AND y.s = x.s
        |          GROUP BY 1, 2)
        |SELECT p.doc_a, p.doc_b,
        |       round(CAST(coalesce(i.ni, 0) AS DOUBLE) /
        |             (sa.n + sb.n - coalesce(i.ni, 0)), 4) AS jaccard
        |FROM pairs p
        |JOIN sizes sa ON sa.doc_id = p.doc_a
        |JOIN sizes sb ON sb.doc_id = p.doc_b
        |LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b""".stripMargin),

    Query("dedup_minhash", { (s, d) =>
      Dedup.minhashPairs(withNearDups(Tables.documents(s, d)),
        col("doc_id"), col("text"), threshold = 0.5)
    },
      minhashOracle),

    // EXACT set-similarity join (round 9) — every pair at 3-gram
    // Jaccard ≥ 3/5 via prefix filtering (AllPairs/PPJoin), the
    // zero-false-negative complement to dedup_minhash's probabilistic
    // recall. The oracle is the BRUTE-FORCE exact join (all
    // co-occurring pairs, exact integer threshold cross-multiply), so
    // the gate proves the prefix filter loses nothing — candidate
    // completeness checked against ground truth at every SF, not
    // claimed from the lemma alone.
    Query("simjoin_ngram", { (s, d) =>
      Dedup.similarityJoin(withNearDups(Tables.documents(s, d)),
        col("doc_id"), col("text"), thrNum = 3, thrDen = 5)
    },
      s"""WITH $CorpusCte,
        |ct AS (SELECT doc_id, $ToksSql AS toks FROM corpus),
        |pos AS (SELECT doc_id, toks,
        |          unnest(generate_series(1, len(toks) - 2)) AS p
        |        FROM ct),
        |ds AS (SELECT DISTINCT doc_id,
        |         CAST('0x' || substr(md5(
        |           array_to_string(list_slice(toks, p, p + 2), ' ')), 1, 15)
        |           AS BIGINT) AS s
        |       FROM pos),
        |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
        |          FROM ds GROUP BY 1),
        |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |                 CAST(count(*) AS BIGINT) AS ni
        |          FROM ds x JOIN ds y ON y.s = x.s AND x.doc_id < y.doc_id
        |          GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b,
        |       round(CAST(ni AS DOUBLE) / (sa.n + sb.n - ni), 4) AS jaccard
        |FROM inter i
        |JOIN sizes sa ON sa.doc_id = i.doc_a
        |JOIN sizes sb ON sb.doc_id = i.doc_b
        |WHERE 5 * ni >= 3 * (sa.n + sb.n - ni)""".stripMargin),

    // MinHash retrieval-quality gate (round 10) — ann_recall's
    // error-bound-boolean pattern applied to the dedup family: the
    // LSH near-dup pipeline (dedup_minhash/dedup_corpus's engine) is
    // probabilistic — banding can miss true pairs, 32-hash estimation
    // can pass false ones — and until now its quality was only
    // spec-gated at toy scale. Ground truth is the EXACT similarity
    // join at the same threshold (J ≥ 1/2 on the same hashed 3-gram
    // shingle sets — zero false negatives, brute-force-oracled), so
    // recall = |LSH ∩ exact|/|exact| and precision = |∩|/|LSH| are
    // MEASURED against truth and the bound cells are asserted literal
    // TRUE by the DuckDB gate at every SF. 100 TB shape: both sides
    // are the already-bounded join pipelines; the intersection is one
    // pair-keyed join; output is 1 row.
    Query("dedup_recall", { (s, d) =>
      val corpus = withNearDups(Tables.documents(s, d))
      val exact = Dedup.similarityJoin(corpus, col("doc_id"), col("text"),
          thrNum = 1, thrDen = 2)
        .select(col("doc_a"), col("doc_b")).localCheckpoint(true)
      val lsh = Dedup.minhashPairs(corpus, col("doc_id"), col("text"), 0.5)
        .select(col("doc_a"), col("doc_b")).localCheckpoint(true)
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(lsh.agg(count(lit(1)).as("n_lsh")))
        .crossJoin(exact.join(lsh, Seq("doc_a", "doc_b"))
          .agg(count(lit(1)).as("n_hit")))
        .selectExpr("n_exact", "n_lsh", "n_hit",
          // measured 99.1–99.7% recall / 100% precision at both SFs;
          // the asserted bound is ≥ 90% each (8-band/32-hash theory
          // puts J=0.5 pair detection ≈ 55% at the threshold edge —
          // the corpus's true pairs sit well above J=0.5, where
          // banding catches them with near-certainty)
          "10 * n_hit >= 9 * n_exact AS recall_ok",
          "10 * n_hit >= 9 * n_lsh AS precision_ok")
    },
      // Brute-force exact ground truth for the prefix-filtered Spark
      // side: every co-occurring pair, intersection counted per pair,
      // threshold as the exact cross-multiply 5·ni ≥ 3·(na+nb−ni).
      // Shingle sets are the shared 60-bit md5 window hashes
      // (substring_dedup's convention) — both engines hash identically.
      // dedup_recall: the LSH chain (pairs) and the brute-force exact
      // join at J ≥ 1/2 over the same corpus; counts + TRUE-asserted
      // recall/precision bound cells.
      s"""WITH $CorpusCte,
         |$minhashChainCtes,
         |ect AS (SELECT doc_id, $ToksSql AS toks FROM corpus),
         |epos AS (SELECT doc_id, toks,
         |           unnest(generate_series(1, len(toks) - 2)) AS p
         |         FROM ect),
         |eds AS (SELECT DISTINCT doc_id,
         |          CAST('0x' || substr(md5(
         |            array_to_string(list_slice(toks, p, p + 2), ' ')), 1, 15)
         |            AS BIGINT) AS s
         |        FROM epos),
         |esizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
         |           FROM eds GROUP BY 1),
         |einter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |                  CAST(count(*) AS BIGINT) AS ni
         |           FROM eds x JOIN eds y ON y.s = x.s AND x.doc_id < y.doc_id
         |           GROUP BY 1, 2),
         |exact AS (SELECT i.doc_a, i.doc_b
         |          FROM einter i
         |          JOIN esizes sa ON sa.doc_id = i.doc_a
         |          JOIN esizes sb ON sb.doc_id = i.doc_b
         |          WHERE 2 * ni >= 1 * (sa.n + sb.n - ni)),
         |lshp AS (SELECT doc_a, doc_b FROM pairs),
         |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM exact),
         |nl AS (SELECT CAST(count(*) AS BIGINT) AS n_lsh FROM lshp),
         |hit AS (SELECT CAST(count(*) AS BIGINT) AS n_hit
         |        FROM exact JOIN lshp USING (doc_a, doc_b))
         |SELECT n_exact, n_lsh, n_hit,
         |       10 * n_hit >= 9 * n_exact AS recall_ok,
         |       10 * n_hit >= 9 * n_lsh AS precision_ok
         |FROM ne CROSS JOIN nl CROSS JOIN hit""".stripMargin),

    // Rendezvous-hash shard rebalance (round 12) — Thaler &
    // Ravishankar (IEEE ToN 1998), the consistent-placement move a
    // 100 TB lake needs when the shard count grows: each doc's shard
    // is argmax_j md5("hrw:doc:j") (highest random weight), so going
    // 16 → 17 shards relocates ONLY the docs whose new shard's hash
    // wins — an expected 1/17 of the corpus, all landing on the new
    // shard — where the naive mod-S rehash scrambles ~16/17 of it.
    // Both fractions are COMPUTED and gated (≤ 8% / ≥ 80%, the
    // split_leakage prove-the-technique convention). The Spark
    // argmax is a single map-side greatest() over 17 (hash, j)
    // structs — no explode, no shuffle before the 1-row agg; ties
    // break to the larger j, mirrored exactly in the oracle's
    // ORDER BY h DESC, j DESC. The oracle replays via unnest +
    // row_number (different plan, same answer — the point of the
    // cross-engine gate).
    Query("shard_rebalance", { (s, d) =>
      def hj(j: Int): Column = struct(
        Dedup.md5Hash60(concat(lit("hrw:"), col("doc_id"), lit(s":$j")))
          .as("h"),
        lit(j.toLong).as("j"))
      def assign(nShards: Int): Column =
        greatest((0 until nShards).map(hj): _*).getField("j")
      val flags = Tables.documents(s, d).select(
        (assign(16) =!= assign(17)).as("mh"),
        (pmod(Dedup.md5Hash60(concat(lit("sh:"), col("doc_id"))),
          lit(16L)) =!=
         pmod(Dedup.md5Hash60(concat(lit("sh:"), col("doc_id"))),
           lit(17L))).as("mn"))
      flags.agg(count(lit(1)).as("n_docs"),
          sum(when(col("mh"), 1L).otherwise(0L)).as("moved_hrw"),
          sum(when(col("mn"), 1L).otherwise(0L)).as("moved_naive"))
        .selectExpr("n_docs", "moved_hrw", "moved_naive",
          "(2 * 1000000 * moved_hrw + n_docs) div (2 * n_docs)" +
            " AS moved_hrw_x1e6",
          "(2 * 1000000 * moved_naive + n_docs) div (2 * n_docs)" +
            " AS moved_naive_x1e6")
        .selectExpr("*", "moved_hrw_x1e6 <= 80000 AS hrw_bound_ok",
          "moved_naive_x1e6 >= 800000 AS naive_excess_ok")
    },
      // shard_rebalance: the same HRW argmax replayed via unnest +
      // row_number (ties ORDER BY h DESC, j DESC = Spark's struct max).
      """WITH dd AS (SELECT doc_id FROM documents),
        |hj AS (SELECT doc_id, t.j,
        |         CAST('0x' || substr(md5('hrw:' || CAST(doc_id AS VARCHAR)
        |           || ':' || CAST(t.j AS VARCHAR)), 1, 15) AS BIGINT) AS h
        |       FROM dd CROSS JOIN generate_series(0, 16) t(j)),
        |a17 AS (SELECT doc_id, j AS s17 FROM (
        |          SELECT doc_id, j, row_number() OVER (
        |            PARTITION BY doc_id ORDER BY h DESC, j DESC) AS rn
        |          FROM hj) WHERE rn = 1),
        |a16 AS (SELECT doc_id, j AS s16 FROM (
        |          SELECT doc_id, j, row_number() OVER (
        |            PARTITION BY doc_id ORDER BY h DESC, j DESC) AS rn
        |          FROM hj WHERE j <= 15) WHERE rn = 1),
        |nv AS (SELECT doc_id,
        |         CAST('0x' || substr(md5('sh:' || CAST(doc_id AS VARCHAR)),
        |           1, 15) AS BIGINT) % 16 AS n16,
        |         CAST('0x' || substr(md5('sh:' || CAST(doc_id AS VARCHAR)),
        |           1, 15) AS BIGINT) % 17 AS n17
        |       FROM dd),
        |ag AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(CASE WHEN s16 <> s17 THEN 1 ELSE 0 END)
        |              AS BIGINT) AS moved_hrw,
        |         CAST(sum(CASE WHEN n16 <> n17 THEN 1 ELSE 0 END)
        |              AS BIGINT) AS moved_naive
        |       FROM a16 JOIN a17 USING (doc_id) JOIN nv USING (doc_id)),
        |pp AS (SELECT n_docs, moved_hrw, moved_naive,
        |         (2 * 1000000 * moved_hrw + n_docs) // (2 * n_docs)
        |           AS moved_hrw_x1e6,
        |         (2 * 1000000 * moved_naive + n_docs) // (2 * n_docs)
        |           AS moved_naive_x1e6
        |       FROM ag)
        |SELECT n_docs, moved_hrw, moved_naive, moved_hrw_x1e6,
        |       moved_naive_x1e6,
        |       (moved_hrw_x1e6 <= 80000) AS hrw_bound_ok,
        |       (moved_naive_x1e6 >= 800000) AS naive_excess_ok
        |FROM pp""".stripMargin),

    // LSH threshold-sweep tuning curve (round 12) — dedup_recall
    // answers "is the 0.5-designed index good enough?"; THIS answers
    // the tuning question behind it: how does the SAME banded index's
    // recall move as the true-duplicate bar rises (J ≥ 0.5 / 0.6 /
    // 0.7 / 0.8 — the curve Leskovec et al. ch.3 derive from the
    // band S-curve, measured here against the EXACT join instead of
    // the theory). One exact join at the loosest threshold keeps the
    // per-pair (ni, nu) cardinalities (similarityJoinCounts), so
    // every stricter cut is a map-side integer re-filter — the sweep
    // costs ONE join however many thresholds it reports. Recall per
    // threshold as a HALF_UP 1e6 cell. 100 TB shape: dedup_recall's
    // envelope (prefix-filtered exact join + banded LSH), plus four
    // broadcast-sized aggs off one checkpointed pair frame.
    Query("dedup_threshold_sweep", { (s, d) =>
      val corpus = withNearDups(Tables.documents(s, d))
      val exact = Dedup.similarityJoinCounts(corpus, col("doc_id"),
          col("text"), thrNum = 1, thrDen = 2)
        .localCheckpoint(true)
      val lsh = Dedup.minhashPairs(corpus, col("doc_id"), col("text"), 0.5)
        .select(col("doc_a"), col("doc_b"), lit(1L).as("hit"))
        .localCheckpoint(true)
      val marked = exact.join(lsh, Seq("doc_a", "doc_b"), "left")
        .withColumn("hit", coalesce(col("hit"), lit(0L)))
        .localCheckpoint(true)
      // Zero-pair guard (round-13 advice): a threshold level with no
      // exact pairs (a thin corpus) must surface as a VISIBLE
      // (thr, 0, 0, 0) row on both sides, not as a Spark null-recall
      // row the oracle's join silently drops (a row-count mismatch
      // that reads like an oracle bug). coalesce pins n_hit over the
      // empty agg; the recall cell is defined 0 when n_exact = 0.
      Seq((50L, 1, 2), (60L, 3, 5), (70L, 7, 10), (80L, 4, 5))
        .map { case (pct, num, den) =>
          marked.filter(col("ni") * den >= col("nu") * num)
            .agg(count(lit(1)).as("n_exact"),
              coalesce(sum(col("hit")), lit(0L)).as("n_hit"))
            .select(lit(pct).as("thr_x100"), col("n_exact"), col("n_hit"))
        }
        .reduce(_ unionByName _)
        .selectExpr("thr_x100", "n_exact", "n_hit",
          "CASE WHEN n_exact > 0 THEN " +
            "(2 * 1000000 * n_hit + n_exact) div (2 * n_exact) " +
            "ELSE 0L END AS recall_x1e6")
    },
      // dedup_threshold_sweep: dedup_recall's brute-force exact-pair
      // chain keeping (ni, nu), re-cut at four thresholds from a
      // VALUES list against the same banded pair set.
      s"""WITH $CorpusCte,
         |$minhashChainCtes,
         |ect AS (SELECT doc_id, $ToksSql AS toks FROM corpus),
         |epos AS (SELECT doc_id, toks,
         |           unnest(generate_series(1, len(toks) - 2)) AS p
         |         FROM ect),
         |eds AS (SELECT DISTINCT doc_id,
         |          CAST('0x' || substr(md5(
         |            array_to_string(list_slice(toks, p, p + 2), ' ')), 1, 15)
         |            AS BIGINT) AS s
         |        FROM epos),
         |esizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
         |           FROM eds GROUP BY 1),
         |einter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |                  CAST(count(*) AS BIGINT) AS ni
         |           FROM eds x JOIN eds y ON y.s = x.s AND x.doc_id < y.doc_id
         |           GROUP BY 1, 2),
         |ex AS (SELECT i.doc_a, i.doc_b, i.ni,
         |              sa.n + sb.n - i.ni AS nu
         |       FROM einter i
         |       JOIN esizes sa ON sa.doc_id = i.doc_a
         |       JOIN esizes sb ON sb.doc_id = i.doc_b
         |       WHERE 2 * ni >= 1 * (sa.n + sb.n - ni)),
         |mk AS (SELECT e.ni, e.nu,
         |         CASE WHEN l.doc_a IS NOT NULL THEN 1 ELSE 0 END AS hit
         |       FROM ex e LEFT JOIN pairs l
         |         ON l.doc_a = e.doc_a AND l.doc_b = e.doc_b),
         |t(thr_x100, num, den) AS (
         |  VALUES (50, 1, 2), (60, 3, 5), (70, 7, 10), (80, 4, 5)),
         |ag AS (SELECT t.thr_x100,
         |              CAST(count(mk.hit) AS BIGINT) AS n_exact,
         |              CAST(coalesce(sum(mk.hit), 0) AS BIGINT) AS n_hit
         |       FROM t LEFT JOIN mk ON mk.ni * t.den >= mk.nu * t.num
         |       GROUP BY 1)
         |SELECT CAST(thr_x100 AS BIGINT) AS thr_x100, n_exact, n_hit,
         |       CASE WHEN n_exact > 0
         |            THEN (2 * 1000000 * n_hit + n_exact) // (2 * n_exact)
         |            ELSE 0 END AS recall_x1e6
         |FROM ag""".stripMargin),

    // Content-defined chunking (round 12) — the STORAGE-dedup
    // complement to shingle near-dup (LBFS, Muthitacharoen et al.
    // SOSP 2001; FastCDC, Xia et al. ATC 2016): a chunk boundary
    // falls AFTER char p wherever the rolling 8-char window hashes
    // to 0 mod 64 (expected ~64-char chunks), so boundaries derive
    // from CONTENT — an insertion shifts every fixed-width chunk but
    // CDC boundaries realign at the first post-edit cut. The query
    // PROVES that: every even doc gets a copy with a 22-char
    // preamble inserted, and both chunkings' shared-chunk counts are
    // computed — CDC recovers nearly all chunks, fixed-64 recovers
    // ~none (gate: cdc_shared > 10·fixed_shared). Dedup accounting
    // (distinct-hash chunk count + bytes) rides the same frame.
    // 100 TB shape (round 14): cut positions come from the CdcCuts
    // codegen kernel — the whole cut array in ONE eval per doc, so
    // cut+slice run map-side on the scan and the corpus text never
    // crosses an exchange (the earlier relational derivation exploded
    // one row PER CHARACTER through a groupBy — the DuckDB oracle
    // still replays exactly that form, and CdcCutsSpec pins kernel ≡
    // relational); chunk frames are (doc, md5, len) fixed-width rows.
    Query("cdc_chunks", { (s, d) =>
      val CopyOff = 17000000000L
      val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val copies = base.filter(pmod(col("doc_id"), lit(2L)) === 0)
        .select((col("doc_id") + CopyOff).as("doc_id"),
          concat(lit("preamble insert block "), col("text")).as("text"))
      val corpus = base.unionByName(copies)
        .withColumn("len", length(col("text")).cast("long"))
        .filter(col("len") >= 8L)
        .localCheckpoint(true)
      val cdc = corpus
        .select(col("doc_id"), col("text"),
          graft.ext.expr.CdcCuts.cdcCuts(col("text"), 8, 64L).as("cps"))
        .select(col("doc_id"), explode(expr(
          """transform(sequence(1, size(cps)), i -> substr(text,
            |  CAST((CASE WHEN i = 1 THEN 0L
            |        ELSE element_at(cps, i - 1) END) + 1 AS INT),
            |  CAST(element_at(cps, i) -
            |    (CASE WHEN i = 1 THEN 0L
            |     ELSE element_at(cps, i - 1) END) AS INT)))"""
            .stripMargin)).as("ct"))
        .select(col("doc_id"), md5(col("ct").cast("binary")).as("h"),
          length(col("ct")).cast("long").as("clen"))
        .localCheckpoint(true)
      val fixed = corpus
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0L, (len - 1) div 64), " +
            "k -> substr(text, CAST(64 * k + 1 AS INT), 64))")).as("ct"))
        .select(col("doc_id"), md5(col("ct").cast("binary")).as("h"))
      def shared(ch: DataFrame, nm: String): DataFrame = {
        val cop = ch.filter(col("doc_id") >= CopyOff)
          .select((col("doc_id") - CopyOff).as("od"), col("h")).distinct()
        val org = ch.filter(col("doc_id") < CopyOff)
          .select(col("doc_id").as("od"), col("h")).distinct()
        cop.join(org, Seq("od", "h")).agg(count(lit(1)).as(nm))
      }
      val uniq = cdc.groupBy(col("h")).agg(max(col("clen")).as("clen"))
      corpus.agg(count(lit(1)).as("n_docs"))
        .crossJoin(broadcast(cdc.agg(count(lit(1)).as("n_chunks_cdc"),
          sum(col("clen")).as("total_chars"))))
        .crossJoin(broadcast(uniq.agg(count(lit(1)).as("n_unique_cdc"),
          sum(col("clen")).as("unique_chars"))))
        .crossJoin(broadcast(shared(cdc, "cdc_shared")))
        .crossJoin(broadcast(shared(fixed, "fixed_shared")))
        .withColumn("cdc_resilient",
          col("cdc_shared") > col("fixed_shared") * 10)
    },
      // cdc_chunks: same rolling-window cut rule, cut positions lagged
      // per doc, chunk md5s + lengths; both shared counts replayed.
      """WITH base AS (SELECT doc_id, text FROM documents),
        |cpy AS (SELECT doc_id + 17000000000 AS doc_id,
        |               'preamble insert block ' || text AS text
        |        FROM base WHERE doc_id % 2 = 0),
        |corpus AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS len
        |           FROM (SELECT * FROM base UNION ALL SELECT * FROM cpy)
        |           WHERE length(text) >= 8),
        |cut AS (SELECT doc_id, p FROM (
        |          SELECT doc_id, len, text,
        |                 unnest(generate_series(8, len)) AS p
        |          FROM corpus)
        |        WHERE CAST('0x' || substr(md5(
        |                substr(text, CAST(p AS INT) - 7, 8)), 1, 15)
        |                AS BIGINT) % 64 = 0
        |           OR p = len),
        |cua AS (SELECT doc_id, list_sort(list(DISTINCT p)) AS cps
        |        FROM cut GROUP BY 1),
        |cpos AS (SELECT doc_id, generate_subscripts(cps, 1) AS i,
        |                unnest(cps) AS p
        |         FROM cua),
        |cseg AS (SELECT doc_id, p,
        |           coalesce(lag(p) OVER (PARTITION BY doc_id ORDER BY i),
        |                    0) AS prev
        |         FROM cpos),
        |ch AS (SELECT s.doc_id,
        |         substr(c.text, CAST(s.prev + 1 AS INT),
        |                CAST(s.p - s.prev AS INT)) AS ct
        |       FROM cseg s JOIN corpus c USING (doc_id)),
        |chh AS (SELECT doc_id, md5(ct) AS h,
        |               CAST(length(ct) AS BIGINT) AS clen
        |        FROM ch),
        |fx AS (SELECT doc_id,
        |         md5(substr(text, CAST(64 * k + 1 AS INT), 64)) AS h
        |       FROM (SELECT doc_id, text,
        |               unnest(generate_series(0, (len - 1) // 64)) AS k
        |             FROM corpus)),
        |uq AS (SELECT h, max(clen) AS clen FROM chh GROUP BY 1),
        |shc AS (SELECT CAST(count(*) AS BIGINT) AS n FROM
        |          (SELECT DISTINCT doc_id - 17000000000 AS od, h
        |           FROM chh WHERE doc_id >= 17000000000) x
        |        JOIN (SELECT DISTINCT doc_id AS od, h
        |              FROM chh WHERE doc_id < 17000000000) y
        |          USING (od, h)),
        |shf AS (SELECT CAST(count(*) AS BIGINT) AS n FROM
        |          (SELECT DISTINCT doc_id - 17000000000 AS od, h
        |           FROM fx WHERE doc_id >= 17000000000) x
        |        JOIN (SELECT DISTINCT doc_id AS od, h
        |              FROM fx WHERE doc_id < 17000000000) y
        |          USING (od, h))
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM corpus) AS n_docs,
        |  (SELECT CAST(count(*) AS BIGINT) FROM chh) AS n_chunks_cdc,
        |  (SELECT CAST(sum(clen) AS BIGINT) FROM chh) AS total_chars,
        |  (SELECT CAST(count(*) AS BIGINT) FROM uq) AS n_unique_cdc,
        |  (SELECT CAST(sum(clen) AS BIGINT) FROM uq) AS unique_chars,
        |  (SELECT n FROM shc) AS cdc_shared,
        |  (SELECT n FROM shf) AS fixed_shared,
        |  ((SELECT n FROM shc) > 10 * (SELECT n FROM shf))
        |    AS cdc_resilient""".stripMargin),

    // EXACT containment join (round 9) — pairs where the smaller
    // shingle set is ≥ 9/10 inside the larger: the quote/excerpt
    // detector Jaccard thresholds cannot see (a 50-shingle excerpt in
    // a 5000-shingle doc has J ≈ 0.01 but containment 1.0). Same
    // prefix-filter machinery as simjoin_ngram, lemma applied to the
    // smaller set probing the full index; brute-force oracle re-proves
    // candidate completeness at every SF.
    Query("containment_join", { (s, d) =>
      Dedup.containmentJoin(withNearDups(Tables.documents(s, d)),
        col("doc_id"), col("text"), thrNum = 9, thrDen = 10)
    },
      // Brute-force containment ground truth: same hashed-shingle CTEs,
      // threshold 10·ni ≥ 9·min(|A|,|B|) on id-ordered pairs.
      s"""WITH $CorpusCte,
        |ct AS (SELECT doc_id, $ToksSql AS toks FROM corpus),
        |pos AS (SELECT doc_id, toks,
        |          unnest(generate_series(1, len(toks) - 2)) AS p
        |        FROM ct),
        |ds AS (SELECT DISTINCT doc_id,
        |         CAST('0x' || substr(md5(
        |           array_to_string(list_slice(toks, p, p + 2), ' ')), 1, 15)
        |           AS BIGINT) AS s
        |       FROM pos),
        |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
        |          FROM ds GROUP BY 1),
        |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |                 CAST(count(*) AS BIGINT) AS ni
        |          FROM ds x JOIN ds y ON y.s = x.s AND x.doc_id < y.doc_id
        |          GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b,
        |       round(CAST(ni AS DOUBLE) / least(sa.n, sb.n), 4) AS containment
        |FROM inter i
        |JOIN sizes sa ON sa.doc_id = i.doc_a
        |JOIN sizes sb ON sb.doc_id = i.doc_b
        |WHERE 10 * ni >= 9 * least(sa.n, sb.n)""".stripMargin),

    // Cross-document repeated-substring scoring (round 8; Lee et al.
    // 2022 motivate EXACT substring dedup as the complement to
    // fingerprint near-dup: verbatim boilerplate passages recur across
    // otherwise-distinct documents). Hash every 8-token window, count
    // occurrences corpus-wide, score each doc by its duplicated-window
    // fraction (HALF_UP at 1e6 scale, exact integers throughout). The
    // near-dup corpus guarantees true cross-doc repeats exist.
    // Shape at 100 TB: windows are (doc_id, 60-bit hash) rows — ~one
    // per token, nothing wider ever shuffles; the per-hash count agg
    // and the count join share the hash partitioning (exchange reuse);
    // the doc rollup is the only other exchange. All linear.
    Query("substring_dedup", { (s, d) =>
      val docs = Dedup.rebalance(withNearDups(Tables.documents(s, d)))
      // wins feeds two consumers (per-hash counts, the count join) —
      // materialize the exploded window frame once (the tf convention
      // in unigram_logprob/dsir_weights). Window hashing is the
      // ShingleMd5 codegen kernel: one JVM call per doc, identical
      // bits to md5Hash60 over the joined window (spec-pinned); the
      // interpreted HOF form was the whole stage cost (SCALE.md r8).
      val wins = docs.select(col("doc_id"),
          explode(graft.ext.expr.ShingleMd5.shingleMd5(
            TextOps.tokens(lower(col("text"))), 8)).as("h"))
        .localCheckpoint(true)
      val hc = wins.groupBy(col("h")).agg(count(lit(1)).as("n"))
      wins.join(hc, "h")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_windows"),
          sum(when(col("n") > 1, 1L).otherwise(0L)).as("dup_windows"))
        .selectExpr("doc_id", "n_windows", "dup_windows",
          "(2 * 1000000 * dup_windows + n_windows) div (2 * n_windows) AS dup_frac_x1e6")
    },
      s"""WITH $CorpusCte,
         |ct AS (SELECT doc_id,
         |         list_transform($ToksSql, t -> lower(t)) AS toks
         |       FROM corpus),
         |pos AS (SELECT doc_id, toks,
         |          unnest(generate_series(1, len(toks) - 7)) AS s
         |        FROM ct),
         |wins AS (SELECT doc_id,
         |           CAST('0x' || substr(md5(
         |             array_to_string(list_slice(toks, s, s + 7), ' ')), 1, 15)
         |             AS BIGINT) AS h
         |         FROM pos),
         |hc AS (SELECT h, count(*) AS n FROM wins GROUP BY 1)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
         |       CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS dup_windows,
         |       CAST((2 * 1000000 * CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END)
         |               AS BIGINT) + count(*)) // (2 * count(*)) AS BIGINT)
         |         AS dup_frac_x1e6
         |FROM wins JOIN hc USING (h)
         |GROUP BY 1""".stripMargin),

    // Duplicated-span REMOVAL (round 11) — substring_dedup SCORES
    // repeated 8-token windows; this is the rewrite Lee et al. 2022
    // deploy: keep each duplicated window's first occurrence (min
    // (doc_id, pos) — deterministic, hash-oracle-able), excise every
    // later one, merge overlapping excisions (gaps-and-islands), and
    // re-join the survivors into scrubbed text. The near-dup corpus
    // guarantees real cross-doc repeated passages, so whole planted
    // spans vanish from the copies while the originals keep them.
    // Shape at 100 TB: see ext.SubstringScrub — window rows are (doc,
    // pos, hash), the keep rule is one min-struct agg per hash, the
    // islands window rides only the duplicated occurrences, and
    // reconstruction is a map-side indexed filter per doc row.
    Query("substring_scrub", { (s, d) =>
      SubstringScrub.scrub(
        Dedup.rebalance(withNearDups(Tables.documents(s, d))),
        col("doc_id"), col("text"), w = 8)
    },
      // substring_scrub: same window hashing as substring_dedup, then
      // first-occurrence keep rule (min-struct per hash), islands merge,
      // and a relational token-level anti-range reconstruction (the
      // Spark side's indexed-filter equivalent).
      s"""WITH $CorpusCte,
         |ct AS (SELECT doc_id,
         |         list_transform($ToksSql, t -> lower(t)) AS toks
         |       FROM corpus),
         |pos AS (SELECT doc_id, toks,
         |          unnest(generate_series(1, len(toks) - 7)) AS s
         |        FROM ct),
         |wins AS (SELECT doc_id, s,
         |           CAST('0x' || substr(md5(
         |             array_to_string(list_slice(toks, s, s + 7), ' ')), 1, 15)
         |             AS BIGINT) AS h
         |         FROM pos),
         |fst AS (SELECT h, min(struct_pack(d := doc_id, s := s)) AS m
         |        FROM wins GROUP BY 1),
         |rem AS (SELECT w.doc_id, w.s, w.s + 7 AS e
         |        FROM wins w JOIN fst USING (h)
         |        WHERE NOT (w.doc_id = fst.m.d AND w.s = fst.m.s)),
         |i0 AS (SELECT doc_id, s, e,
         |         CASE WHEN s > coalesce(max(e) OVER
         |                (PARTITION BY doc_id ORDER BY s
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |                CAST(-1 AS BIGINT))
         |              THEN 1 ELSE 0 END AS newi
         |       FROM rem),
         |i1 AS (SELECT doc_id, s, e,
         |         sum(newi) OVER (PARTITION BY doc_id ORDER BY s
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
         |       FROM i0),
         |isl AS (SELECT doc_id, island, min(s) AS s, max(e) AS e
         |        FROM i1 GROUP BY 1, 2),
         |tp AS (SELECT doc_id, unnest(toks) AS tok,
         |              generate_subscripts(toks, 1) AS p
         |       FROM ct),
         |kept AS (SELECT t.doc_id, t.p, t.tok FROM tp t
         |         WHERE NOT EXISTS (SELECT 1 FROM isl i
         |           WHERE i.doc_id = t.doc_id AND t.p BETWEEN i.s AND i.e)),
         |ka AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |         string_agg(tok, ' ' ORDER BY p) AS scrubbed
         |       FROM kept GROUP BY 1)
         |SELECT ct.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         |       CAST(len(toks) - coalesce(n_kept, 0) AS BIGINT) AS n_removed,
         |       coalesce(scrubbed, '') AS scrubbed_text
         |FROM ct LEFT JOIN ka USING (doc_id)""".stripMargin),

    // Incremental dedup (round 6) — the daily-increment shape: a new
    // batch (near-dup copies of every 5th doc that SHOULD match +
    // token-reversed copies of every 7th that should NOT — reversal
    // destroys every 3-gram shingle) probed against the corpus
    // signature table via Dedup.incrementalPairs: corpus never
    // shuffles, the batch band table broadcasts. The localCheckpoints
    // stand in for the persisted signature tables a production run
    // reads instead of recomputing.
    Query("dedup_incremental", { (s, d) =>
      val docs = Tables.documents(s, d)
      val toks = TextOps.tokens(col("text"))
      val nearD = docs.filter(col("doc_id") % 5 === 0).select(
        (col("doc_id") + NearDupOffset).as("doc_id"),
        concat_ws(" ",
          slice(toks, lit(1), greatest(size(toks) - 3, lit(1)))).as("text"))
      val novel = docs.filter(col("doc_id") % 7 === 0).select(
        (col("doc_id") + 2 * NearDupOffset).as("doc_id"),
        concat_ws(" ", reverse(toks)).as("text"))
      val cs = Dedup.minhashSignatures(docs, col("doc_id"), col("text"))
        .localCheckpoint(true)
      val bs = Dedup.minhashSignatures(nearD.unionByName(novel),
        col("doc_id"), col("text")).localCheckpoint(true)
      Dedup.incrementalPairs(cs, bs, threshold = 0.5)
    },
      incrementalOracle),

    // Dedup groups: MinHash candidate pairs collapsed to connected
    // components (GraphX Pregel) — each document with its canonical
    // group id and the group's size (what a pipeline keeps: one
    // representative per group).
    Query("dedup_groups", { (s, d) =>
      val pairs = Dedup.minhashPairs(withNearDups(Tables.documents(s, d)),
        col("doc_id"), col("text"), threshold = 0.5)
      val groups = Dedup.dedupGroups(pairs, col("doc_a"), col("doc_b"))
      groups.groupBy(col("group").as("group_id"))
        .agg(count(lit(1)).as("group_size"),
          min(col("node")).as("keep_doc_id"))
        .filter(col("group_size") >= 2)
    },
      groupsOracle),

    // Same grouping, GraphX-free path: iterative min-label propagation
    // in pure DataFrames (for sessions without GraphX on the classpath).
    // Shares `groupsOracle` with dedup_groups — both CC implementations
    // are held to the identical DuckDB WITH RECURSIVE answer.
    Query("dedup_groups_df", { (s, d) =>
      val pairs = Dedup.minhashPairs(withNearDups(Tables.documents(s, d)),
        col("doc_id"), col("text"), threshold = 0.5)
      val groups = Dedup.dedupGroupsDF(pairs, col("doc_a"), col("doc_b"))
      groups.groupBy(col("group").as("group_id"))
        .agg(count(lit(1)).as("group_size"),
          min(col("node")).as("keep_doc_id"))
        .filter(col("group_size") >= 2)
    },
      groupsOracle),

    // End-to-end near-dup removal — the dedup family's capstone: LSH
    // candidate pairs → connected components → drop every non-canonical
    // group member, emit the deduplicated corpus. The loser set is the
    // CC output (tiny relative to the corpus at any scale), so the
    // final anti-join broadcasts it against the document scan — the
    // corpus itself is never shuffled.
    Query("dedup_corpus", { (s, d) =>
      val docs = withNearDups(Tables.documents(s, d))
      val pairs = Dedup.minhashPairs(docs, col("doc_id"), col("text"),
        threshold = 0.5)
      val groups = Dedup.dedupGroups(pairs, col("doc_a"), col("doc_b"))
      val losers = groups.filter(col("node") =!= col("group"))
        .select(col("node").as("doc_id"))
      docs.join(losers, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), length(col("text")).cast("long").as("text_len"))
    },
      s"""WITH RECURSIVE $minhashCtes,
         |und AS (SELECT doc_a AS s, doc_b AS d FROM pairs
         |        UNION SELECT doc_b, doc_a FROM pairs),
         |reach(node, r) AS (
         |  SELECT s, d FROM und
         |  UNION
         |  SELECT u.s, re.r FROM und u JOIN reach re ON re.node = u.d),
         |lbl AS (SELECT node, least(node, min(r)) AS group_id FROM reach GROUP BY node),
         |losers AS (SELECT node FROM lbl WHERE node <> group_id)
         |SELECT c.doc_id, CAST(length(c.text) AS BIGINT) AS text_len
         |FROM corpus c
         |WHERE c.doc_id NOT IN (SELECT node FROM losers)""".stripMargin),

    // Group-aware train/val/test split + leakage audit (round 12) —
    // the eval-hygiene op every training pipeline needs between dedup
    // and packing (the contamination literature's sibling problem:
    // Lee et al. 2022 §6 show near-dups straddling a split inflate
    // held-out metrics): every doc's SPLIT KEY is its near-dup group
    // canonical (itself when ungrouped), and the 8-bucket md5 split
    // (6/1/1 train/val/test) hashes the KEY — so a whole near-dup
    // group lands in one split BY CONSTRUCTION. The audit does not
    // assume it: per-split doc/group counts cross-join two COMPUTED
    // leak cells — groups straddling splits under this keyed
    // assignment (must be 0) and under the naive doc-id hash split
    // (must be > 0 on the planted near-dup corpus: a group's copy
    // and original hash independently, so ~7/8 of multi-doc groups
    // straddle — the cell proves the audit ENGAGES, the retrieval_ndcg
    // pinned-comparison convention). 100 TB shape: the CC output
    // covers only paired nodes (loser-sized), so the key join
    // broadcasts; assignment is one map-side md5; the audit rides
    // the group-keyed frame, never raw text.
    Query("split_leakage", { (s, d) =>
      val docs = withNearDups(Tables.documents(s, d))
      val pairs = Dedup.minhashPairs(docs, col("doc_id"), col("text"),
        threshold = 0.5)
      val groups = Dedup.dedupGroups(pairs, col("doc_a"), col("doc_b"))
      val keyed = docs.select(col("doc_id"))
        .join(broadcast(groups.withColumnRenamed("node", "doc_id")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("group"), col("doc_id")).as("split_key"))
        .localCheckpoint(true)
      def splitOf(bucket: Column): Column =
        when(bucket <= 5, "train").when(bucket === 6, "val")
          .otherwise("test")
      val assigned = keyed
        .withColumn("split", splitOf(pmod(Dedup.md5Hash60(
          concat(lit("split:"), col("split_key"))), lit(8L))))
        .withColumn("naive", splitOf(pmod(Dedup.md5Hash60(
          concat(lit("split:"), col("doc_id"))), lit(8L))))
      val perKey = assigned.groupBy(col("split_key"))
        .agg(countDistinct(col("split")).as("ns"),
          countDistinct(col("naive")).as("nn"))
      val leaks = perKey.agg(
        sum(when(col("ns") > 1, 1L).otherwise(0L)).as("n_leaky_grouped"),
        sum(when(col("nn") > 1, 1L).otherwise(0L)).as("n_leaky_naive"))
      assigned.groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("split_key")).as("n_groups"))
        .crossJoin(broadcast(leaks))
    },
      // split_leakage: groupsOracle's closure → split key → the same
      // 8-bucket md5 assignment (keyed + naive) → per-split counts
      // cross-joined with the two computed leak cells.
      s"""WITH RECURSIVE $minhashCtes,
         |und AS (SELECT doc_a AS s, doc_b AS d FROM pairs
         |        UNION SELECT doc_b, doc_a FROM pairs),
         |reach(node, r) AS (
         |  SELECT s, d FROM und
         |  UNION
         |  SELECT u.s, re.r FROM und u JOIN reach re ON re.node = u.d),
         |lbl AS (SELECT node, least(node, min(r)) AS group_id
         |        FROM reach GROUP BY node),
         |keyed AS (SELECT c.doc_id, coalesce(l.group_id, c.doc_id) AS split_key
         |          FROM corpus c LEFT JOIN lbl l ON l.node = c.doc_id),
         |a AS (SELECT doc_id, split_key,
         |        CAST('0x' || substr(md5('split:' ||
         |          CAST(split_key AS VARCHAR)), 1, 15) AS BIGINT) % 8 AS bs,
         |        CAST('0x' || substr(md5('split:' ||
         |          CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 8 AS bn
         |      FROM keyed),
         |sp AS (SELECT doc_id, split_key,
         |        CASE WHEN bs <= 5 THEN 'train' WHEN bs = 6 THEN 'val'
         |             ELSE 'test' END AS split,
         |        CASE WHEN bn <= 5 THEN 'train' WHEN bn = 6 THEN 'val'
         |             ELSE 'test' END AS naive
         |      FROM a),
         |pk AS (SELECT split_key, count(DISTINCT split) AS ns,
         |              count(DISTINCT naive) AS nn
         |       FROM sp GROUP BY 1),
         |lk AS (SELECT CAST(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END)
         |                AS BIGINT) AS n_leaky_grouped,
         |              CAST(sum(CASE WHEN nn > 1 THEN 1 ELSE 0 END)
         |                AS BIGINT) AS n_leaky_naive
         |       FROM pk)
         |SELECT s.split, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(count(DISTINCT s.split_key) AS BIGINT) AS n_groups,
         |       lk.n_leaky_grouped, lk.n_leaky_naive
         |FROM sp s CROSS JOIN lk
         |GROUP BY 1, 4, 5""".stripMargin),

    // End-to-end corpus-pipeline capstone (round 10) — the COMPOSITION
    // of the individually-gated stages in training-run order: quality
    // filter → URL dedup → exact-text dedup → MinHash near dedup (LSH
    // → CC) → decontamination (eval split out + ≥20%-contaminated
    // train docs out) → mixture sampling → sequence packing. Each
    // stage is separately oracled, but interface drift BETWEEN stages
    // is the bug class per-stage gates cannot catch — this gates the
    // chain: the packed table's offsets depend on the exact survivor
    // set per shard, so any stage regression hash-mismatches. Planted
    // artifacts give every stage real work (see ext.CorpusPipeline).
    Query("corpus_pipeline", { (s, d) =>
      graft.ext.CorpusPipeline.build(Tables.documents(s, d)).packed
    },
      corpusPipelineOracle(cross = false)),

    // Incremental corpus refresh (round 12) — the production shape:
    // day N curates ONLY the increment (id tail + its plants + cross
    // re-fetch plants) against day-N−1's PERSISTED state tables (URL/
    // exact-key sets, signature table, CC labels, eval shingles,
    // survivor id-frame); the base corpus text is never rescanned and
    // never shuffled. The oracle is the FULL RECOMPUTE over base +
    // increment — bit-equality is the mv_refresh-style gate that the
    // incremental algebra (state probes, canonical-mapped cross CC,
    // eval-set extension, packing over the combined id-frame) loses
    // nothing. See CorpusPipeline.buildIncremental for the 100 TB
    // shape argument and the documented non-monotonic-cascade
    // fallback.
    Query("corpus_pipeline_incremental", { (s, d) =>
      // Day-N−1 state rides the per-JVM parquet fixture (round 14):
      // the first call builds + persists it, every later call (the
      // bench's round-robin passes, exactly like a real nightly) opens
      // the saved tables — so the recorded time measures the DAY-N
      // incremental run, not the scaffolding rebuild (VERDICT r13 #2).
      // Deterministic either way; Verify's one-shot call is identical
      // to the self-contained form.
      val docs = Tables.documents(s, d)
      graft.ext.CorpusPipeline.buildIncrementalStages(docs,
        graft.ext.CorpusPipeline.cachedPriorState(docs, d)).packed
    },
      // corpus_pipeline_incremental: the ORACLE IS THE FULL RECOMPUTE over
      // base + increment + cross re-fetch plants — the equivalence gate for
      // the never-rescan-the-base incremental plan (see corpusPipelineOracle).
      corpusPipelineOracle(cross = true)),

    // Keep-BEST dedup (round 5) — production near-dup removal keeps the
    // highest-quality member of each duplicate group, not the smallest
    // id: pairs → CC → join the (tiny) label set to per-doc quality →
    // one max_by per group. The corpus-sized quality frame is map-side
    // work on the scan; only the CC output (bounded by the duplicate
    // count) rides the broadcast join, so the corpus never shuffles.
    // Tie-break: equal 4-dp quality keeps the smaller doc_id, total in
    // both engines.
    Query("dedup_keep_best", { (s, d) =>
      val docs = withNearDups(Tables.documents(s, d))
      val pairs = Dedup.minhashPairs(docs, col("doc_id"), col("text"),
        threshold = 0.5)
      val groups = Dedup.dedupGroups(pairs, col("doc_a"), col("doc_b"))
      val toks = size(TextOps.tokens(col("text"))).cast("long")
      val len = length(col("text")).cast("long")
      val punct = TextOps.punctCount(col("text"))
      val quality = round(least(toks.cast("double") / 100.0, lit(1.0)) *
        (lit(1.0) - punct.cast("double") / len), 4)
      val q = docs.select(col("doc_id"), quality.as("quality"))
      q.join(broadcast(groups), q("doc_id") === groups("node"))
        .groupBy(col("group").as("group_id"))
        .agg(count(lit(1)).as("group_size"),
          max_by(col("doc_id"), struct(col("quality"), -col("doc_id")))
            .as("keep_doc_id"),
          max(col("quality")).as("best_quality"))
        .filter(col("group_size") >= 2)
    },
      keepBestOracle),

    Query("dedup_simhash", { (s, d) =>
      val sh = Dedup.simhash(withNearDups(Tables.documents(s, d)),
        col("doc_id"), col("text"))
      val a = sh.select(col("doc").as("doc_a"), col("simhash").as("sh_a"))
      val b = sh.select(col("doc").as("doc_b"), col("simhash").as("sh_b"))
      a.join(b, col("doc_b") === col("doc_a") + NearDupOffset)
        .select(col("doc_a"), col("doc_b"),
          Dedup.hamming(col("sh_a"), col("sh_b")).cast("long").as("hamming"))
        .filter(col("hamming") <= 16)
    },
      simhashOracle),

    // Entity-resolution clusters (round 11) — the composition
    // fuzzy_match stops short of: blocked-Levenshtein candidate pairs
    // → connected components → ONE canonical record per entity with
    // its variant count (the master-data-management "golden record"
    // rollup; Fellegi–Sunter lineage). Reuses fuzzy_match's synth
    // corpus (typo copies at lev 1) so clusters really form. Shape:
    // Fuzzy.blockedMatch is block-bounded (cap² per block); CC output
    // is pair-member-sized (coordinator/Pregel two-regime); the name
    // rollup joins the pool by id — nothing quadratic outside blocks.
    Query("fuzzy_clusters", { (s, d) =>
      val base = Tables.customer(s, d)
        .select(col("c_custkey").as("id"), col("c_name").as("name"))
      val synth = base.select((col("id") + 1000000L).as("id"),
        concat(substring(col("name"), 1, 10), lit("X"),
          expr("substring(name, 12)")).as("name"))
      val pool = base.unionByName(synth)
        .withColumn("blk", expr("substring(name, length(name) - 3, 4)"))
        .localCheckpoint(true)
      val pairs = Fuzzy.blockedMatch(pool, maxLev = 2)
      val groups = Dedup.dedupGroups(pairs, col("id_a"), col("id_b"))
      groups.join(pool.select(col("id").as("node"), col("name")), "node")
        .groupBy(col("group").as("entity_id"))
        .agg(count(lit(1)).as("cluster_size"),
          min_by(col("name"), col("node")).as("canonical_name"),
          countDistinct(col("name")).as("n_variants"))
        .filter(col("cluster_size") >= 2)
    },
      // fuzzy_clusters: fuzzy_match's pair chain + the recursive-CTE CC
      // replay (dedup_corpus convention) + arg_min canonical rollup.
      s"""WITH RECURSIVE
        |base AS (SELECT c_custkey AS id, c_name AS name FROM customer),
        |synth AS (SELECT id + 1000000 AS id,
        |                 substring(name, 1, 10) || 'X' || substring(name, 12) AS name
        |          FROM base),
        |pool AS (SELECT id, name,
        |                substring(name, length(name) - 3, 4) AS blk
        |         FROM (SELECT * FROM base UNION ALL SELECT * FROM synth)),
        |sizes AS (SELECT blk, CAST(count(*) AS BIGINT) AS cn
        |          FROM pool GROUP BY 1),
        |sp AS (SELECT p.id, p.name, p.blk,
        |              CAST('0x' || substr(md5(CAST(p.id AS VARCHAR)), 1, 15)
        |                   AS BIGINT)
        |              % CAST(floor((cn + ${Fuzzy.MaxBlock - 1}) /
        |                           ${Fuzzy.MaxBlock}.0) AS BIGINT) AS sub
        |       FROM pool p JOIN sizes USING (blk)),
        |fpairs AS (SELECT a.id AS id_a, b.id AS id_b
        |           FROM sp a JOIN sp b
        |             ON a.blk = b.blk AND a.sub = b.sub AND a.id < b.id
        |           WHERE levenshtein(a.name, b.name) <= 2),
        |und AS (SELECT id_a AS s, id_b AS d FROM fpairs
        |        UNION SELECT id_b, id_a FROM fpairs),
        |reach(node, r) AS (
        |  SELECT s, d FROM und
        |  UNION
        |  SELECT u.s, re.r FROM und u JOIN reach re ON re.node = u.d),
        |lbl AS (SELECT node, least(node, min(r)) AS grp FROM reach GROUP BY node),
        |nm AS (SELECT lbl.grp AS entity_id, lbl.node, p.name
        |       FROM lbl JOIN pool p ON p.id = lbl.node)
        |SELECT entity_id, CAST(count(*) AS BIGINT) AS cluster_size,
        |       arg_min(name, node) AS canonical_name,
        |       CAST(count(DISTINCT name) AS BIGINT) AS n_variants
        |FROM nm GROUP BY 1 HAVING count(*) >= 2""".stripMargin),

    // Fuzzy entity resolution (round 6; capped round 9) — blocked
    // Levenshtein match, the record-linkage / entity-dedup primitive
    // (names, titles, addresses) that exact and shingle dedup both
    // miss. The classic scale shape: a BLOCKING KEY (here the last 4
    // name chars, which the synthesized typo preserves) bounds the
    // candidate set, the O(len²) edit-distance verify runs only within
    // blocks — never all-pairs — and both engines compute the same
    // integer distance. The 4-digit key space is FIXED (10⁴ blocks),
    // so per-block occupancy grows with the corpus: Fuzzy.MaxBlock
    // re-splits oversized blocks (the MaxBandBucket / MaxSemCluster
    // pattern), mirrored in the oracle SQL, so the verify join is
    // bounded at cap²/2 pairs per block at any SF. Synth: one mid-name
    // char substitution (position 11 → 'X', ids +1000000) — lev 1 from
    // its original, block key intact; cross-original near-ids (same
    // digit tail) surface too, which is the point of fuzzy matching.
    Query("fuzzy_match", { (s, d) =>
      val base = Tables.customer(s, d)
        .select(col("c_custkey").as("id"), col("c_name").as("name"))
      val synth = base.select((col("id") + 1000000L).as("id"),
        concat(substring(col("name"), 1, 10), lit("X"),
          expr("substring(name, 12)")).as("name"))
      val pool = base.unionByName(synth)
        .withColumn("blk", expr("substring(name, length(name) - 3, 4)"))
      Fuzzy.blockedMatch(pool, maxLev = 2)
    },
      // Mirrors Fuzzy.blockedMatch exactly: oversized blocks re-split
      // into ceil(cn/1000) sub-blocks keyed by md5Hash60(id) mod nsplit
      // — a hash of the id, so adversarial id residue patterns (shared
      // offsets/multipliers) can't collapse a hot block into one
      // sub-block (identity at this SF — largest block ≈ 30 rows).
      s"""WITH base AS (SELECT c_custkey AS id, c_name AS name FROM customer),
        |synth AS (SELECT id + 1000000 AS id,
        |                 substring(name, 1, 10) || 'X' || substring(name, 12) AS name
        |          FROM base),
        |pool AS (SELECT id, name,
        |                substring(name, length(name) - 3, 4) AS blk
        |         FROM (SELECT * FROM base UNION ALL SELECT * FROM synth)),
        |sizes AS (SELECT blk, CAST(count(*) AS BIGINT) AS cn
        |          FROM pool GROUP BY 1),
        |sp AS (SELECT p.id, p.name, p.blk,
        |              CAST('0x' || substr(md5(CAST(p.id AS VARCHAR)), 1, 15)
        |                   AS BIGINT)
        |              % CAST(floor((cn + ${Fuzzy.MaxBlock - 1}) /
        |                           ${Fuzzy.MaxBlock}.0) AS BIGINT) AS sub
        |       FROM pool p JOIN sizes USING (blk)),
        |pairs AS (SELECT a.id AS id_a, b.id AS id_b,
        |                 a.name AS name_a, b.name AS name_b,
        |                 levenshtein(a.name, b.name) AS lev
        |          FROM sp a JOIN sp b
        |            ON a.blk = b.blk AND a.sub = b.sub AND a.id < b.id)
        |SELECT id_a, id_b, name_a, name_b, lev
        |FROM pairs WHERE lev <= 2""".stripMargin),

    // URL-level dedup (round 8, ext.UrlOps) — the CommonCrawl curation
    // step BEFORE content dedup: canonicalize (scheme/case/port/www/
    // query/fragment/trailing-slash) and collapse exact URL dups. The
    // corpus has no URL column, so the query synthesizes three messy
    // spellings of each logical page from doc_id — the operator's
    // input is adversarial on purpose. Map-side string ops; one
    // hash-shuffle on the canonical URL.
    Query("url_dedup", { (s, d) =>
      messyUrls(Tables.documents(s, d))
        .select(col("doc_id"), graft.ext.UrlOps.normalize(col("url")).as("canon_url"))
        .groupBy(col("canon_url"))
        .agg(min(col("doc_id")).as("keep_doc_id"),
          count(lit(1)).as("n_copies"))
    },
      // URL curation family: the normalize chain is the SAME anchored
      // single-match regex sequence as UrlOps.normalize — DuckDB's
      // non-global regexp_replace ≡ Spark's global one because every
      // pattern is anchored. The synthesis CTE shares its SQL template
      // with the Spark side (messyUrlSql; '//' is DuckDB's integer div).
      s"""WITH u AS (SELECT doc_id, ${messyUrlSql("//")} AS url
         |           FROM documents),
         |s AS (SELECT doc_id,
         |        regexp_replace(regexp_replace(regexp_replace(url,
         |          '#.*$$', ''), '\\?.*$$', ''), '(?i)^https?://', '') AS t
         |      FROM u),
         |n AS (SELECT doc_id,
         |        regexp_replace(regexp_replace(
         |          lower(regexp_extract(t, '^([^/]*)', 1)),
         |          ':(80|443)$$', ''), '^www\\.', '') ||
         |        regexp_replace(regexp_replace(t, '^[^/]*', ''),
         |          '/$$', '') AS canon_url
         |      FROM s)
         |SELECT canon_url, min(doc_id) AS keep_doc_id,
         |       count(*) AS n_copies
         |FROM n GROUP BY 1""".stripMargin),

    // Per-domain document cap (round 8, ext.UrlOps) — keep at most 10
    // docs per REGISTERED domain (sub.site3.co.uk and www.site3.co.uk
    // both charge site3.co.uk), lowest doc_id first. Runs on
    // TopKPerKey's bounded heaps: O(domains × k) state however many
    // pages a boilerplate farm contributes.
    Query("domain_cap", { (s, d) =>
      val withDomain = messyUrls(Tables.documents(s, d))
        .select(col("doc_id"),
          graft.ext.UrlOps.registeredDomain(
            graft.ext.UrlOps.hostOf(
              graft.ext.UrlOps.normalize(col("url")))).as("domain"))
      graft.ext.UrlOps.perDomainCap(withDomain, Seq(col("doc_id")), k = 10)
    },
      s"""WITH u AS (SELECT doc_id, ${messyUrlSql("//")} AS url
         |           FROM documents),
         |s AS (SELECT doc_id,
         |        regexp_replace(regexp_replace(regexp_replace(url,
         |          '#.*$$', ''), '\\?.*$$', ''), '(?i)^https?://', '') AS t
         |      FROM u),
         |h AS (SELECT doc_id,
         |        string_split(regexp_replace(regexp_replace(
         |          lower(regexp_extract(t, '^([^/]*)', 1)),
         |          ':(80|443)$$', ''), '^www\\.', ''), '.') AS parts
         |      FROM s),
         |dom AS (SELECT doc_id,
         |          CASE WHEN len(parts) >= 3
         |                AND (parts[-2] || '.' || parts[-1]) IN
         |                    ('co.uk','org.uk','ac.uk','gov.uk','co.jp',
         |                     'com.au','com.br','co.in','com.cn','co.nz')
         |               THEN parts[-3] || '.' || parts[-2] || '.' || parts[-1]
         |               ELSE parts[-2] || '.' || parts[-1] END AS domain
         |        FROM h),
         |r AS (SELECT doc_id, domain,
         |        row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS rn
         |      FROM dom)
         |SELECT doc_id, domain FROM r WHERE rn <= 10""".stripMargin),

    // Benchmark-contamination check (round 5) — per-train-doc distinct
    // 3-gram overlap with the deterministic eval shards
    // (ext.Contamination: broadcast eval hash set, train side never
    // shuffles text).
    Query("contam_check", { (s, d) =>
      Contamination.check(Tables.documents(s, d), col("doc_id"), col("text"))
    },
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |u AS (SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS pos FROM t),
         |shg AS (SELECT doc_id, concat_ws(' ', w, lead(w,1) OVER win, lead(w,2) OVER win) AS s,
         |               lead(w,2) OVER win AS w2
         |        FROM u WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
         |hv AS (SELECT doc_id,
         |         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 20 AS shard,
         |         CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS h
         |       FROM shg WHERE w2 IS NOT NULL),
         |ev AS (SELECT DISTINCT h FROM hv WHERE shard < 2),
         |tr AS (SELECT DISTINCT doc_id, h FROM hv WHERE shard >= 2),
         |agg AS (SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |          CAST(sum(CASE WHEN ev.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contam
         |        FROM tr LEFT JOIN ev ON ev.h = tr.h GROUP BY 1)
         |SELECT doc_id, n_shingles, n_contam,
         |       round(CAST(n_contam AS DOUBLE) / n_shingles, 4) AS contam_frac
         |FROM agg""".stripMargin),

    // Transitive decontamination (round 10) — the expansion pass real
    // pipelines run AFTER n-gram decontamination (Llama/GPT-family
    // decontamination drops near-duplicates of contaminated docs too:
    // a paraphrase that no longer shares the eval n-grams still leaks
    // the benchmark): BFS from the directly-contaminated seeds over
    // the MinHash near-dup graph, 2 unrolled hops with min-hop
    // semantics. Seeds = train docs with ≥ 20% distinct-shingle eval
    // overlap (corpus_pipeline's exact-integer 5·n_c ≥ n_sh rule);
    // edges = Dedup.minhashPairs over the train docs. The corpus
    // plants per-eval-doc 3-chains to make both hops REAL: a base
    // sequence B = 8 eval tokens + 38 tokens of a paired train doc,
    // and windows W0=B[1..30] (21% eval shingles → seed),
    // W1=B[9..38] (0 eval shingles, J(W0,W1)≈0.56 → hop 1),
    // W2=B[17..46] (J(W1,W2)≈0.56, J(W0,W2)≈0.27 → hop 2). The
    // eval↔train zip-pairing is plant scaffolding, not pipeline
    // shape — but it still must not funnel the corpus through one
    // partition, so docs pair by md5-hash RANK WITHIN 8 BOUNDED
    // STRATA (the Sampling.shard convention; the rank window
    // partitions by stratum) rather than one global row_number.
    // 100 TB shape: contamination is the broadcast-eval probe
    // (contam_check); the edge set is dedup OUTPUT (coordinator-
    // sized); each BFS round is one hash join on the frontier — the
    // standard unrolled-BFS shape (full closure = the CC machinery).
    Query("contam_expand", { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val shardOf = (c: org.apache.spark.sql.Column) =>
        pmod(Dedup.md5Hash60(c.cast("string")), lit(20L))
      val base = docs
        .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
        .withColumn("shard", shardOf(col("doc_id")))
      val pairKeyed = base
        .withColumn("ph",
          Dedup.md5Hash60(concat(lit("pair:"), col("doc_id").cast("string"))))
        .withColumn("ps", pmod(col("ph"), lit(8L)))
      val byStratum = Window.partitionBy("ps").orderBy("ph", "doc_id")
      val ev = pairKeyed.filter(col("shard") < 2 && size(col("t")) >= 8)
        .select(col("ps"), row_number().over(byStratum).as("rn"),
          col("t").as("et"))
      val tr = pairKeyed.filter(col("shard") >= 2 && size(col("t")) >= 38)
        .select(col("ps"), row_number().over(byStratum).as("rn"),
          col("t").as("tt"))
      val b = ev.join(tr, Seq("ps", "rn"))
        .select((col("ps") * 100000000L + col("rn")).as("pid"),
          concat(slice(col("et"), 1, 8), slice(col("tt"), 1, 38)).as("bt"))
      val plants = b.select((col("pid") + 7000000000L).as("doc_id"),
          concat_ws(" ", slice(col("bt"), 1, 30)).as("text"))
        .unionByName(b.select((col("pid") + 8000000000L).as("doc_id"),
          concat_ws(" ", slice(col("bt"), 9, 30)).as("text")))
        .unionByName(b.select((col("pid") + 9000000000L).as("doc_id"),
          concat_ws(" ", slice(col("bt"), 17, 30)).as("text")))
        // plant-count-sized fixture, consumed by BOTH the seed chain
        // and the signature chain — materialize the two stratum
        // windows + pair join once (round 21)
        .localCheckpoint(true)
      val full = docs.unionByName(plants)
      // eval membership: ORIGINAL docs in shards {0,1} (plants are
      // train by definition — they model the training corpus)
      val isEval = col("doc") < 7000000000L && shardOf(col("doc")) < 2
      // ShingleMd5 kernel (round 21): same rows as shingleRows +
      // md5Hash60 — one JVM call per doc instead of a per-window
      // string build + md5-hex + conv chain (bit-identical by the
      // kernel's contract).
      val rows = Dedup.rebalance(full)
        .select(col("doc_id").as("doc"), explode(
          graft.ext.expr.ShingleMd5.shingleMd5(
            TextOps.tokens(col("text")), 3)).as("sh"))
      val evalSh = rows.filter(isEval).select(col("sh")).distinct()
      val trainSh = rows.filter(!isEval).distinct()
      val seeds = trainSh
        .join(broadcast(evalSh.withColumn("hit", lit(1L))), Seq("sh"), "left")
        .groupBy(col("doc"))
        .agg(count(lit(1)).as("ns"), sum(coalesce(col("hit"), lit(0L))).as("nc"))
        .filter(lit(5L) * col("nc") >= col("ns"))
        .select(col("doc").as("doc_id"))
        .localCheckpoint(true)
      val trainDocs = full.filter(!(col("doc_id") < 7000000000L &&
        shardOf(col("doc_id")) < 2))
      // Round 21 NOTE: a frontier-probed BFS (edges via broadcast
      // seed/hop-1 band probes against Dedup.okBandRows instead of
      // the full minhashPairs materialization) was built, oracled
      // green at both SFs, and MEASURED SLOWER same-session (probe
      // chain 4.81 s vs 4.10 s for the pair materialization at
      // sf0.1): on this corpus the seed set is ~ALL train docs
      // (generator-level sentence reuse trips the 20% line corpus-
      // wide), so the "bounded frontier" premise does not hold and
      // the probe pays two extra materializations for nothing. Kept
      // the old shape; the measured fix is below — the PLANT fixture
      // (two stratum windows + a join) was re-derived by both the
      // seed chain and the signature chain, so it checkpoints once
      // (plant-count-sized, ~27% of corpus rows here, increment-like
      // at any scale).
      val pairs = Dedup.minhashPairs(trainDocs, col("doc_id"), col("text"), 0.5)
        .localCheckpoint(true)
      val und = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      val hop1 = und.join(seeds.withColumnRenamed("doc_id", "src"), "src")
        .select(col("dst").as("doc_id")).distinct()
        .join(seeds, Seq("doc_id"), "left_anti")
        .localCheckpoint(true)
      val hop2 = und.join(hop1.withColumnRenamed("doc_id", "src"), "src")
        .select(col("dst").as("doc_id")).distinct()
        .join(seeds, Seq("doc_id"), "left_anti")
        .join(hop1, Seq("doc_id"), "left_anti")
      seeds.withColumn("hop", lit(0L))
        .unionByName(hop1.withColumn("hop", lit(1L)))
        .unionByName(hop2.withColumn("hop", lit(2L)))
    },
      // contam_expand: plants + contamination + the shared minhash chain
      // (corpus CTE = train docs) + 2 unrolled BFS hops.
      s"""WITH dt AS (SELECT doc_id, text, $ToksSql AS t,
         |              CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
         |                   AS BIGINT) % 20 AS shard
         |            FROM documents),
         |dp AS (SELECT *,
         |         CAST('0x' || substr(md5('pair:' || CAST(doc_id AS VARCHAR)), 1, 15)
         |              AS BIGINT) AS ph,
         |         CAST('0x' || substr(md5('pair:' || CAST(doc_id AS VARCHAR)), 1, 15)
         |              AS BIGINT) % 8 AS ps
         |       FROM dt),
         |ev AS (SELECT ps,
         |         row_number() OVER (PARTITION BY ps ORDER BY ph, doc_id) AS rn,
         |         t AS et
         |       FROM dp WHERE shard < 2 AND len(t) >= 8),
         |tr AS (SELECT ps,
         |         row_number() OVER (PARTITION BY ps ORDER BY ph, doc_id) AS rn,
         |         t AS tt
         |       FROM dp WHERE shard >= 2 AND len(t) >= 38),
         |b AS (SELECT ps * 100000000 + rn AS pid, list_concat(et[1:8], tt[1:38]) AS bt
         |      FROM ev JOIN tr USING (ps, rn)),
         |plants AS (
         |  SELECT pid + 7000000000 AS doc_id, array_to_string(bt[1:30], ' ') AS text
         |  FROM b
         |  UNION ALL SELECT pid + 8000000000, array_to_string(bt[9:38], ' ') FROM b
         |  UNION ALL SELECT pid + 9000000000, array_to_string(bt[17:46], ' ') FROM b),
         |fulldocs AS (SELECT doc_id, text FROM documents
         |             UNION ALL SELECT doc_id, text FROM plants),
         |ftk AS (SELECT doc_id, $ToksSql AS toks,
         |          (doc_id < 7000000000 AND
         |           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
         |                AS BIGINT) % 20 < 2) AS is_eval
         |        FROM fulldocs),
         |fu AS (SELECT doc_id, is_eval, unnest(toks) AS w,
         |              generate_subscripts(toks, 1) AS pos
         |       FROM ftk),
         |fsh AS (SELECT doc_id, is_eval,
         |          concat_ws(' ', w, lead(w,1) OVER win, lead(w,2) OVER win) AS s,
         |          lead(w,2) OVER win AS w2
         |        FROM fu WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
         |fhv AS (SELECT doc_id, is_eval,
         |               CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS sh
         |        FROM fsh WHERE w2 IS NOT NULL),
         |evsh AS (SELECT DISTINCT sh FROM fhv WHERE is_eval),
         |trsh AS (SELECT DISTINCT doc_id, sh FROM fhv WHERE NOT is_eval),
         |seeds AS (SELECT doc_id FROM (
         |            SELECT trsh.doc_id, count(*) AS ns,
         |                   sum(CASE WHEN evsh.sh IS NOT NULL THEN 1 ELSE 0 END) AS nc
         |            FROM trsh LEFT JOIN evsh ON evsh.sh = trsh.sh GROUP BY 1)
         |          WHERE 5 * nc >= ns),
         |corpus AS (SELECT doc_id, text FROM fulldocs
         |           WHERE NOT (doc_id < 7000000000 AND
         |             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
         |                  AS BIGINT) % 20 < 2)),
         |$minhashChainCtes,
         |und AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |        UNION ALL SELECT doc_b, doc_a FROM pairs),
         |h1 AS (SELECT DISTINCT dst AS doc_id
         |       FROM und JOIN seeds ON und.src = seeds.doc_id
         |       WHERE dst NOT IN (SELECT doc_id FROM seeds)),
         |h2 AS (SELECT DISTINCT dst AS doc_id
         |       FROM und JOIN h1 ON und.src = h1.doc_id
         |       WHERE dst NOT IN (SELECT doc_id FROM seeds)
         |         AND dst NOT IN (SELECT doc_id FROM h1))
         |SELECT doc_id, CAST(0 AS BIGINT) AS hop FROM seeds
         |UNION ALL SELECT doc_id, CAST(1 AS BIGINT) FROM h1
         |UNION ALL SELECT doc_id, CAST(2 AS BIGINT) FROM h2""".stripMargin),

    // Bloom-filter pre-probe (round 8) — contam_check's documented
    // beyond-broadcast fallback made real: the eval shingle set folds
    // into a 2^20-bit mergeable bitset (ext.Bloom, md5-derived double
    // hashing so the oracle replays the exact bit positions
    // relationally) and the train side probes it map-side alongside
    // the exact join; n_bloom_hits ≥ n_contam quantifies the FP
    // overcount the pre-probe admits.
    Query("bloom_contam", { (s, d) =>
      Bloom.contamPreProbe(Tables.documents(s, d), col("doc_id"), col("text"))
    },
      // bloom_contam: the bitset probe replayed relationally — a train
      // shingle bloom-hits iff ALL k of its Kirsch–Mitzenmacher
      // positions ((h%m + i·(2·((h>>20)%2^19)+1)) % m, m = 2^20, k = 3)
      // appear in the distinct position set of the eval shingles; the
      // position arithmetic is the same integer ops both engines run.
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |u AS (SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS pos FROM t),
         |shg AS (SELECT doc_id, concat_ws(' ', w, lead(w,1) OVER win, lead(w,2) OVER win) AS s,
         |               lead(w,2) OVER win AS w2
         |        FROM u WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
         |hv AS (SELECT doc_id,
         |         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 20 AS shard,
         |         CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS h
         |       FROM shg WHERE w2 IS NOT NULL),
         |ev AS (SELECT DISTINCT h FROM hv WHERE shard < 2),
         |bpos AS (SELECT DISTINCT
         |           ((h % 1048576) + i * (2 * ((h >> 20) % 524288) + 1)) % 1048576 AS p
         |         FROM ev CROSS JOIN (VALUES (0), (1), (2)) AS ii(i)),
         |tr AS (SELECT DISTINCT doc_id, h FROM hv WHERE shard >= 2),
         |trpos AS (SELECT doc_id, h,
         |            ((h % 1048576) + i * (2 * ((h >> 20) % 524288) + 1)) % 1048576 AS p
         |          FROM tr CROSS JOIN (VALUES (0), (1), (2)) AS ii(i)),
         |bh AS (SELECT doc_id, h FROM trpos JOIN bpos USING (p)
         |       GROUP BY doc_id, h HAVING count(*) = 3),
         |agg AS (SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |          CAST(sum(CASE WHEN ev.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contam
         |        FROM tr LEFT JOIN ev ON ev.h = tr.h GROUP BY 1),
         |bagg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bloom_hits
         |         FROM bh GROUP BY 1)
         |SELECT agg.doc_id, n_shingles, n_contam,
         |       coalesce(n_bloom_hits, CAST(0 AS BIGINT)) AS n_bloom_hits
         |FROM agg LEFT JOIN bagg ON bagg.doc_id = agg.doc_id""".stripMargin),

    // Winnowing fingerprints (round 10) — the MOSS document
    // fingerprint (Schleimer, Wilkerson & Aiken, SIGMOD 2003):
    // guarantee-backed sampling of the k-gram hash stream. Every
    // window of WinnowW=4 consecutive shingle hashes selects its
    // RIGHTMOST MINIMUM, so any match of ≥ w+k−1 tokens between two
    // docs shares a selected fingerprint (the paper's coverage
    // guarantee — doc_fingerprint's plain rolling-hash sample has no
    // such bound). The window-sweep is re-expressed as a per-position
    // predicate so it runs as ONE Window exec instead of a w-way
    // self-join: position p is selected ⟺ for some split l+r = w−1
    // with both frames in bounds, all l left-neighbors have h ≥ h_p
    // and all r right-neighbors have h > h_p (rightmost-min
    // tie-break). The equivalence to the sliding-window definition is
    // brute-force-verified over 20k random cases in WinnowSpec.
    // 100 TB shape: one token explode → one per-doc Window pass (docs
    // are bounded, partitions balance by doc count) → doc-sized aggs;
    // the shared-fingerprint join rides the SELECTED set (~2/(w+1) of
    // positions, deduped), never all-pairs.
    Query("winnow_fingerprint", { (s, d) =>
      val sh = Dedup.rebalance(Tables.documents(s, d))
        .select(col("doc_id"),
          posexplode(graft.ext.expr.ShingleMd5.shingleMd5(
            TextOps.tokens(lower(col("text"))), 3)))
        .toDF("doc_id", "pos", "h")
      val fp = Winnow.selected(sh, col("doc_id"), col("pos"), col("h"))
        .drop("pos")
        .localCheckpoint(true)
      val stats = fp.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kgrams"),
          sum(when(col("sel"), 1L).otherwise(0L)).as("n_fp"))
      val selFp = fp.filter(col("sel"))
        .select(col("doc_id"), col("h")).distinct()
      val multi = selFp.groupBy(col("h"))
        .agg(count(lit(1)).as("nd")).filter(col("nd") >= 2L)
      val shared = selFp.join(multi.select("h"), "h")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("ns"))
      stats.join(shared, Seq("doc_id"), "left")
        .selectExpr("doc_id", "n_kgrams", "n_fp",
          "coalesce(ns, 0) AS n_shared_fp",
          "(2000000 * n_fp + n_kgrams) div (2 * n_kgrams) AS density_x1e6")
    },
      // winnow_fingerprint: same 60-bit shingle hashes, the same
      // split-criterion predicate over ROWS-PRECEDING/FOLLOWING frames
      // (l left-neighbors ≥ h, r right-neighbors > h, l + r = 3, frames
      // in bounds), shared set over distinct selected hashes.
      s"""WITH ct AS (SELECT doc_id, list_transform($ToksSql, t -> lower(t)) AS toks
         |            FROM documents),
         |sh AS (SELECT doc_id, s AS pos, CAST('0x' || substr(md5(
         |         array_to_string(list_slice(toks, s, s + 2), ' ')), 1, 15)
         |         AS BIGINT) AS h
         |       FROM (SELECT doc_id, toks,
         |               unnest(generate_series(1, len(toks) - 2)) AS s
         |             FROM ct)),
         |f AS (SELECT doc_id, pos, h,
         |        ${(1 to 3).map(k =>
               s"""min(h) OVER (PARTITION BY doc_id ORDER BY pos
         |          ROWS BETWEEN $k PRECEDING AND 1 PRECEDING) AS lmin$k,
         |        count(*) OVER (PARTITION BY doc_id ORDER BY pos
         |          ROWS BETWEEN $k PRECEDING AND 1 PRECEDING) AS lcnt$k,
         |        min(h) OVER (PARTITION BY doc_id ORDER BY pos
         |          ROWS BETWEEN 1 FOLLOWING AND $k FOLLOWING) AS rmin$k,
         |        count(*) OVER (PARTITION BY doc_id ORDER BY pos
         |          ROWS BETWEEN 1 FOLLOWING AND $k FOLLOWING) AS rcnt$k""")
               .mkString(",\n         |        ")}
         |      FROM sh),
         |sel AS (SELECT doc_id, h,
         |          (${(0 to 3).map { l =>
                 val r = 3 - l
                 val okL = if (l == 0) "TRUE" else s"(lcnt$l = $l AND lmin$l >= h)"
                 val okR = if (r == 0) "TRUE" else s"(rcnt$r = $r AND rmin$r > h)"
                 s"($okL AND $okR)"
               }.mkString("\n         |           OR ")}) AS sel
         |        FROM f),
         |stats AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kgrams,
         |            CAST(sum(CASE WHEN sel THEN 1 ELSE 0 END) AS BIGINT) AS n_fp
         |          FROM sel GROUP BY 1),
         |sf AS (SELECT DISTINCT doc_id, h FROM sel WHERE sel),
         |multi AS (SELECT h FROM sf GROUP BY 1 HAVING count(*) >= 2),
         |shared AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS ns
         |           FROM sf JOIN multi USING (h) GROUP BY 1)
         |SELECT stats.doc_id, n_kgrams, n_fp,
         |       CAST(coalesce(ns, 0) AS BIGINT) AS n_shared_fp,
         |       (2000000 * n_fp + n_kgrams) // (2 * n_kgrams) AS density_x1e6
         |FROM stats LEFT JOIN shared ON stats.doc_id = shared.doc_id""".stripMargin))
}
