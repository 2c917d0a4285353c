package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.{Dedup, TextOps}

/** Tokenizer and language-model queries: BPE, WordPiece and unigram-LM
  * training and encoding, n-gram log-probabilities, perplexity and
  * importance reweighting.
  */
object TokenizerQueries {

  import QueryCommon._

  /** The 4-round BPE word encoder shared by `bpe_encode` and
    * `tokenizer_fertility`: returns (per-doc word tf, per-word symbol
    * count under the trained merges). */
  private def bpeTfEnc(s: SparkSession, d: String): (DataFrame, DataFrame) = {
      val N = 4
      val words = Dedup.rebalance(Tables.documents(s, d))
        .select(col("doc_id"), explode(TextOps.tokens(lower(col("text")))).as("w"))
      val tf = words.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
        .localCheckpoint(true)
      val wc = tf.groupBy(col("w")).agg(sum(col("tf")).as("wn"))
      var rep = wc.select(col("w"), col("wn"), TextOps.bpeInitRep(col("w")).as("rep"))
        .localCheckpoint(true)
      (1 to N).foreach { _ =>
        val top1 = rep.select(col("wn"), TextOps.bpeSymbols(col("rep")).as("sy"))
          .select(col("wn"), explode(when(size(col("sy")) >= 2,
              transform(sequence(lit(1), size(col("sy")) - 1),
                k => struct(element_at(col("sy"), k).as("p1"),
                  element_at(col("sy"), k + 1).as("p2"))))
            .otherwise(array().cast("array<struct<p1:string,p2:string>>")))
            .as("pr"))
          .select(col("wn"), col("pr.p1").as("p1"), col("pr.p2").as("p2"))
          .groupBy(col("p1"), col("p2")).agg(sum(col("wn")).as("cnt"))
          .orderBy(col("cnt").desc, col("p1"), col("p2")).limit(1)
        rep = rep.crossJoin(broadcast(top1))
          .select(col("w"), col("wn"),
            TextOps.bpeMerge(col("rep"), col("p1"), col("p2")).as("rep"))
          .localCheckpoint(true)
      }
      val enc = rep.select(col("w"),
        size(TextOps.bpeSymbols(col("rep"))).cast("long").as("n_sym"))
      (tf, enc)
  }

  /** Unigram-LM (SentencePiece-style) tokenizer training chain shared
    * by `unigram_train` and `unigram_encode` — the third production
    * tokenizer beside BPE (merge replay) and WordPiece (greedy
    * longest-match): Kudo 2018's EM-pruned unigram model, in a
    * deterministic exact-integer simplification both engines replay
    * bit-for-bit.
    *
    *  - Seed vocab: ALL single chars (the fallback alphabet, kept
    *    through every prune) + the top-[[UniSeedK]] corpus-weighted
    *    2..4-char substrings of the distinct-word table under the
    *    (cnt DESC, piece) total order (wordpiece_encode's derivation).
    *  - Scores: 1e6-scaled HALF-UP ln cells over exact integers
    *    (char_entropy's discipline) with add-1 smoothing:
    *    s(p) = lnCell(usage+1) − lnCell(total+|V|).
    *  - E-step: exact-integer VITERBI segmentation of each distinct
    *    word — a forward DP fold (B(i) = max over l ∈ 1..4 of
    *    B(i−l) + s(piece), missing pieces at the −10^15 sentinel) and
    *    a backward path fold that re-derives each step as the
    *    SMALLEST l with B(e−l) + s = B(e) (the deterministic
    *    tie-break; the oracle replays both folds as recursive CTEs —
    *    shift-state forward, l-emitting backward).
    *  - M-step + prune (2 unrolled rounds, domain_reweight's MWU
    *    convention): usage-weighted recount, keep singles + the top
    *    [[UniPrune]](r) multis by (usage DESC, piece), rescore.
    *
    * 100 TB shape: the corpus is touched exactly twice (tokenize→tf
    * agg; tf⋈encoder join) — every EM round rides the DISTINCT word
    * table with the piece scores as a broadcast map literal
    * (model-sized collect, ≤ [[UniSeedK]]+alphabet entries), so
    * training cost is independent of corpus size, exactly like
    * bpe_train. Returns (per-doc word tf, final vocab frame
    * (piece, piece_len, usage, logp_x1e6), per-word n_pieces under
    * the final scores). */
  private val UniSeedK = 256

  private val UniPrune = Seq(170, 113)

  private val UniSentinel = -1000000000000000L

  /** Forward Viterbi DP as an aggregate fold: result array's element
    * j+1 (1-indexed) = B(j), the best path score of the length-j
    * prefix of `w` under score map `SM`. */
  private def uniForward(SM: Column, w: Column): Column =
    aggregate(
      sequence(lit(1), length(w)),
      array(lit(0L)),
      (best, i) => {
        def cand(l: Int) =
          when(i >= l,
            coalesce(element_at(SM, w.substr(i - l + 1, lit(l))),
              lit(UniSentinel)) + element_at(best, i - l + 1))
            .otherwise(lit(UniSentinel))
        concat(best, array(greatest(cand(1), cand(2), cand(3), cand(4))))
      })

  /** Backward path recovery: walk e from |w| to 0 taking the SMALLEST
    * l whose piece reproduces B(e) — returns the piece array. */
  private def uniBackward(SM: Column, w: Column, best: Column): Column =
    aggregate(
      sequence(lit(1), length(w)),
      struct(length(w).as("e"), array().cast("array<string>").as("ps")),
      (st, _) => {
        val e = st.getField("e")
        val ps = st.getField("ps")
        def p(l: Int) = w.substr(e - l + 1, lit(l))
        def ok(l: Int) = (e >= l) &&
          (coalesce(element_at(SM, p(l)), lit(UniSentinel)) +
            element_at(best, e - l + 1) === element_at(best, e + 1))
        def step(l: Int) =
          struct((e - l).as("e"), concat(ps, array(p(l))).as("ps"))
        when(e <= 0, st)
          .when(ok(1), step(1))
          .when(ok(2), step(2))
          .when(ok(3), step(3))
          .otherwise(step(4))
      },
      st => st.getField("ps"))

  private def unigramModel(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val words = Dedup.rebalance(Tables.documents(s, d))
      .select(col("doc_id"), explode(TextOps.tokens(lower(col("text")))).as("w"))
    val tf = words.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val wc = tf.groupBy(col("w")).agg(sum(col("tf")).as("wn"))
      .localCheckpoint(true)
    // Seed counting: corpus-weighted substrings, lengths 1..4 (the
    // wordpiece derivation widened to include the alphabet).
    val subs = wc.select(col("wn"), explode(flatten(
        transform(sequence(lit(1), lit(4)), l =>
          when(length(col("w")) >= l,
            transform(sequence(lit(1), length(col("w")) - l + 1),
              i => col("w").substr(i, l)))
            .otherwise(array().cast("array<string>")))))
        .as("piece"))
      .groupBy(col("piece")).agg(sum(col("wn")).as("cnt"))
      .localCheckpoint(true)
    // Round 21 (guide §1.2/§5): everything below the two corpus-scale
    // frames (tf, wc) and the distributed E-steps is MODEL-sized —
    // the vocab never exceeds |alphabet| + UniSeedK entries, and every
    // piece an E-step emits is IN the score map (the backward walk
    // takes the smallest l reproducing B(e), and the all-singles
    // alphabet kept through every prune guarantees a non-sentinel
    // char path, so a piece outside SM can never reproduce B(e)).
    // The M-step/prune/score algebra therefore runs on the DRIVER
    // over collected model-sized rows — the same class of collect the
    // chain already did (mstep collected every score map) — instead
    // of 3 crossJoin+checkpoint+collect round trips and 2 prune
    // joins; each E-step collects its (piece, usage) rollup directly.
    // Exact-integer semantics preserved: lnCellD is floor(
    // StrictMath.log(x)·1e6 + 0.5) in both engines (Spark's LOG/FLOOR
    // are StrictMath.log/Math.floor), and the (usage DESC, piece)
    // prune order compares pieces as UTF-8 BYTES, Spark's string
    // order. Oracle-gated at both SFs; plan: 2 corpus aggregates
    // (tf, wc) + 1 subs aggregate + 2 wc-sized E-step aggregates —
    // nothing model-sized ever shuffles.
    def utf8Lt(a: String, b: String): Boolean = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      while (i < x.length && i < y.length) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      x.length < y.length
    }
    val pieceOrd: Ordering[(String, Long)] = new Ordering[(String, Long)] {
      def compare(a: (String, Long), b: (String, Long)): Int =
        if (a._2 != b._2) java.lang.Long.compare(b._2, a._2)
        else if (a._1 == b._1) 0
        else if (utf8Lt(a._1, b._1)) -1 else 1
    }
    def lnCellD(c: Long): Long =
      math.floor(StrictMath.log(c.toDouble) * 1000000.0 + 0.5).toLong
    def nChars(p: String): Int = p.codePointCount(0, p.length)
    // alphabet (all corpus single chars) + top-K multi seeds, with
    // their corpus-weighted counts — both model-sized collects
    val singles: Seq[(String, Long)] = subs
      .filter(length(col("piece")) === 1)
      .select(col("piece"), col("cnt")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    val multis0: Seq[(String, Long)] = subs
      .filter(length(col("piece")) >= 2)
      .orderBy(col("cnt").desc, col("piece")).limit(UniSeedK)
      .select(col("piece"), col("cnt")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    def mstep(usage: Seq[(String, Long)]): Map[String, Long] = {
      val t = usage.map(_._2).sum
      val v = usage.size.toLong
      usage.map { case (p, c) =>
        p -> (lnCellD(c + 1) - lnCellD(t + v)) }.toMap
    }
    // E-step: Viterbi-segment the distinct vocab, usage-weighted
    // count, collected as the model-sized (piece, usage) rollup.
    def estep(scores: Map[String, Long]): Seq[(String, Long)] = {
      val SM = typedlit(scores)
      wc.withColumn("best", uniForward(SM, col("w")))
        .select(col("wn"),
          explode(uniBackward(SM, col("w"), col("best"))).as("piece"))
        .groupBy(col("piece")).agg(sum(col("wn")).as("usage"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    }
    def vocabAfter(usage: Seq[(String, Long)], keep: Int)
        : Seq[(String, Long)] = {
      val um = usage.toMap
      val multis = usage.filter { case (p, _) => nChars(p) >= 2 }
        .sorted(pieceOrd).take(keep)
      singles.map { case (p, _) => p -> um.getOrElse(p, 0L) } ++ multis
    }
    val seed = singles ++ multis0
    val sc0 = mstep(seed)
    val usage1 = estep(sc0)
    val vocab1 = vocabAfter(usage1, UniPrune(0))
    val sc1 = mstep(vocab1)
    val usage2 = estep(sc1)
    val vocab2 = vocabAfter(usage2, UniPrune(1))
    val sc2 = mstep(vocab2)
    val SM2 = typedlit(sc2)
    val enc = wc
      .withColumn("best", uniForward(SM2, col("w")))
      .select(col("w"),
        size(uniBackward(SM2, col("w"), col("best"))).cast("long")
          .as("n_pieces"))
    val vocabRows = vocab2.map { case (p, u) =>
      (p, nChars(p).toLong, u, sc2(p)) }
    val vocabDf = s.createDataFrame(vocabRows)
      .toDF("piece", "piece_len", "usage", "logp_x1e6")
    (tf, vocabDf, enc)
  }

  // ---- unigram-LM oracle generator (round 16) -----------------------
  // The DuckDB replay of unigramModel: seed substring counts, add-1
  // ln-cell scores, and per EM round a SHIFT-STATE forward Viterbi
  // recursion (the last four B values ride the recursive row, so each
  // step needs only the previous iteration) plus an l-EMITTING
  // backward recursion (smallest l with B(e−l) + s = B(e) — the same
  // CASE order as the Spark fold's when-chain). Machine-generated from
  // the same constants (256/170/113, sentinel −10^15) the Spark side
  // uses.

  private val UniSentSql = "-1000000000000000"

  private def uniLn(x: String): String =
    s"CAST(floor(ln(CAST($x AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)"

  /** tot$r/sc$r over a (piece, usage) vocab CTE. */
  private def uniScoreCtes(r: String, vocab: String): String =
    s"""tot$r AS MATERIALIZED (SELECT CAST(sum(usage) AS BIGINT) AS t,
       |            CAST(count(*) AS BIGINT) AS v FROM $vocab),
       |sc$r AS MATERIALIZED (SELECT piece, ${uniLn("usage + 1")}
       |           - (SELECT ${uniLn("t + v")} FROM tot$r) AS s
       |         FROM $vocab)""".stripMargin

  /** fwd$r/fw$r/back$r/pieces$r/usage$r under score CTE $sc.
    *
    * Score and B lookups inside the recursive terms are LEFT JOINs,
    * never correlated scalar subqueries — DuckDB 1.0's recursive
    * evaluation silently returns NULL for correlated subqueries on
    * some first-iteration rows (observed: the l=1 score lookup at
    * i=0, flipping B(1) to the sentinel), and the failure pattern
    * shifts with unrelated CTE materialization. fw$r/pieces$r stay
    * UNMATERIALIZED for the same reason: materializing a view layered
    * over a recursive CTE perturbs that recursion's own evaluation. */
  private def uniViterbiCtes(r: String, sc: String): String = {
    def fcand(l: Int) =
      if (l == 1) s"coalesce(s1.s, $UniSentSql) + f.b0"
      else s"""CASE WHEN f.b${l - 1} IS NOT NULL THEN
              |               coalesce(s$l.s, $UniSentSql) + f.b${l - 1}
              |             ELSE $UniSentSql END""".stripMargin
    def bok(l: Int) =
      s"t0.e >= $l AND coalesce(s$l.s, $UniSentSql) + q$l.b = qe.b"
    s"""fwd$r AS (
       |  SELECT w, 0 AS i, CAST(0 AS BIGINT) AS b0, CAST(NULL AS BIGINT) AS b1,
       |         CAST(NULL AS BIGINT) AS b2, CAST(NULL AS BIGINT) AS b3
       |  FROM wc
       |  UNION ALL
       |  SELECT f.w, f.i + 1,
       |    greatest(${fcand(1)},
       |             ${fcand(2)},
       |             ${fcand(3)},
       |             ${fcand(4)}),
       |    f.b0, f.b1, f.b2
       |  FROM fwd$r f
       |  LEFT JOIN $sc s1 ON s1.piece = substr(f.w, f.i + 1, 1)
       |  LEFT JOIN $sc s2 ON s2.piece = substr(f.w, f.i, 2)
       |  LEFT JOIN $sc s3 ON s3.piece = substr(f.w, f.i - 1, 3)
       |  LEFT JOIN $sc s4 ON s4.piece = substr(f.w, f.i - 2, 4)
       |  WHERE f.i < length(f.w)),
       |fw$r AS (SELECT w, i AS j, b0 AS b FROM fwd$r),
       |back$r AS (
       |  SELECT w, CAST(length(w) AS INTEGER) AS e, 0 AS l FROM wc
       |  UNION ALL
       |  SELECT z.w, z.e - z.nl, z.nl FROM (
       |    SELECT t0.w AS w, t0.e AS e,
       |      CASE WHEN ${bok(1)} THEN 1
       |           WHEN ${bok(2)} THEN 2
       |           WHEN ${bok(3)} THEN 3
       |           ELSE 4 END AS nl
       |    FROM back$r t0
       |    LEFT JOIN fw$r qe ON qe.w = t0.w AND qe.j = t0.e
       |    LEFT JOIN fw$r q1 ON q1.w = t0.w AND q1.j = t0.e - 1
       |    LEFT JOIN fw$r q2 ON q2.w = t0.w AND q2.j = t0.e - 2
       |    LEFT JOIN fw$r q3 ON q3.w = t0.w AND q3.j = t0.e - 3
       |    LEFT JOIN $sc s1 ON s1.piece = substr(t0.w, t0.e, 1)
       |    LEFT JOIN $sc s2 ON s2.piece = substr(t0.w, t0.e - 1, 2)
       |    LEFT JOIN $sc s3 ON s3.piece = substr(t0.w, t0.e - 2, 3)
       |    WHERE t0.e > 0) z),
       |pieces$r AS (SELECT w, substr(w, e + 1, l) AS piece
       |             FROM back$r WHERE l > 0),
       |usage$r AS MATERIALIZED (SELECT piece, CAST(sum(wn) AS BIGINT) AS usage
       |            FROM pieces$r JOIN wc USING (w) GROUP BY 1)""".stripMargin
  }

  /** Pruned vocab v$r: singles + top-$keep multis of usage$r. */
  private def uniPruneCtes(r: String, keep: Int): String =
    s"""v${r}m AS MATERIALIZED (SELECT piece FROM usage$r WHERE length(piece) >= 2
       |          ORDER BY usage DESC, piece LIMIT $keep),
       |v$r AS MATERIALIZED (SELECT s.piece, CAST(coalesce(u.usage, 0) AS BIGINT) AS usage
       |        FROM (SELECT piece FROM singles
       |              UNION ALL SELECT piece FROM v${r}m) s
       |        LEFT JOIN usage$r u USING (piece))""".stripMargin

  /** Shared prefix: tf/wc, 1..4-substring seed counts, seed vocab +
    * both EM rounds, ending with the final pruned vocab v2. */
  private def uniTrainCtes: String =
    s"""wx AS MATERIALIZED (SELECT doc_id,
       |         unnest(list_transform($ToksSql, t -> lower(t))) AS w
       |       FROM documents),
       |tf AS MATERIALIZED (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
       |       FROM wx GROUP BY 1, 2),
       |wc AS MATERIALIZED (SELECT w, CAST(sum(tf) AS BIGINT) AS wn FROM tf GROUP BY 1),
       |wl AS MATERIALIZED (SELECT w, wn, unnest([1, 2, 3, 4]) AS l FROM wc),
       |wi AS MATERIALIZED (SELECT w, wn, l,
       |         unnest(generate_series(1, length(w) - l + 1)) AS i
       |       FROM wl),
       |subs AS MATERIALIZED (SELECT substr(w, i, l) AS piece, CAST(sum(wn) AS BIGINT) AS cnt
       |         FROM wi GROUP BY 1),
       |singles AS MATERIALIZED (SELECT piece FROM subs WHERE length(piece) = 1),
       |multis0 AS MATERIALIZED (SELECT piece FROM subs WHERE length(piece) >= 2
       |            ORDER BY cnt DESC, piece LIMIT 256),
       |seed0 AS MATERIALIZED (SELECT s.piece, c.cnt AS usage
       |          FROM (SELECT piece FROM singles
       |                UNION ALL SELECT piece FROM multis0) s
       |          JOIN subs c USING (piece)),
       |${uniScoreCtes("0", "seed0")},
       |${uniViterbiCtes("1", "sc0")},
       |${uniPruneCtes("1", 170)},
       |${uniScoreCtes("1", "v1")},
       |${uniViterbiCtes("2", "sc1")},
       |${uniPruneCtes("2", 113)}""".stripMargin

  /** bpe_encode's 4-merge encoder chain as shared CTEs (through `tf`
    * and `enc`) — reused by tokenizer_fertility's per-lang rollup. */
  private def bpeEncCtes: String = {
    val rounds = (1 to 4).map { i =>
      s"""sy$i AS (SELECT wn, list_filter(string_split(rep, bb), x -> x <> '') AS sy
         |         FROM rW${i - 1} CROSS JOIN sep),
         |pc$i AS (SELECT p1, p2, CAST(sum(wn) AS BIGINT) AS cnt FROM (
         |           SELECT wn, sy[k] AS p1, sy[k + 1] AS p2
         |           FROM (SELECT wn, sy, unnest(generate_series(1, len(sy) - 1)) AS k
         |                 FROM sy$i))
         |         GROUP BY 1, 2),
         |t$i AS (SELECT p1, p2, cnt FROM pc$i ORDER BY cnt DESC, p1, p2 LIMIT 1),
         |rW$i AS (SELECT w, wn, replace(rep, s1 || p1 || bb || p2 || s1,
         |                               s1 || p1 || p2 || s1) AS rep
         |         FROM rW${i - 1} CROSS JOIN t$i CROSS JOIN sep)""".stripMargin
    }.mkString(",\n")
    s"""sep AS (SELECT chr(1) AS s1, chr(1) || chr(1) AS bb),
       |tw AS (SELECT doc_id, unnest(list_transform($ToksSql, t -> lower(t))) AS w
       |       FROM documents),
       |tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf FROM tw GROUP BY 1, 2),
       |wc0 AS (SELECT w, CAST(sum(tf) AS BIGINT) AS wn FROM tf GROUP BY 1),
       |rW0 AS (SELECT w, wn, bb || array_to_string(
       |          list_transform(generate_series(1, len(w)), j -> substr(w, j, 1)),
       |          chr(1) || chr(1)) || bb AS rep
       |        FROM wc0 CROSS JOIN sep),
       |$rounds,
       |enc AS (SELECT w, CAST(len(list_filter(string_split(rep, bb), x -> x <> ''))
       |                  AS BIGINT) AS n_sym
       |        FROM rW4 CROSS JOIN sep)""".stripMargin
  }

  val all: Seq[Query] = Seq(
    // BPE merge-candidate counting (round 8) — the first step of
    // tokenizer TRAINING (Sennrich et al. 2016): corpus-wide counts of
    // adjacent character pairs, weighted by word frequency, top-50
    // merge candidates. The scale shape is the point: the only
    // corpus-sized pass is the word-count explode+agg; the pair
    // derivation (charPairs) runs over the DISTINCT vocabulary with
    // counts already attached — O(vocab × word length), however many
    // tokens the corpus holds. The top cut is a bounded TakeOrdered.
    Query("bpe_pairs", { (s, d) =>
      val words = Dedup.rebalance(Tables.documents(s, d))
        .select(explode(TextOps.tokens(lower(col("text")))).as("w"))
      val wc = words.groupBy(col("w")).agg(count(lit(1)).as("wn"))
      wc.select(col("wn"), explode(TextOps.charPairs(col("w"))).as("pair"))
        .groupBy(col("pair")).agg(sum(col("wn")).as("pair_count"))
        .orderBy(col("pair_count").desc, col("pair")).limit(50)
    },
      s"""WITH w AS (SELECT unnest(list_transform($ToksSql, t -> lower(t))) AS w
         |           FROM documents),
         |wc AS (SELECT w, CAST(count(*) AS BIGINT) AS wn FROM w GROUP BY 1),
         |pr AS (SELECT wn,
         |         unnest(CASE WHEN len(w) >= 2
         |           THEN list_transform(generate_series(1, len(w) - 1),
         |                               i -> substr(w, i, 2))
         |           ELSE [] END) AS pair
         |       FROM wc),
         |agg AS (SELECT pair, CAST(sum(wn) AS BIGINT) AS pair_count
         |        FROM pr GROUP BY 1)
         |SELECT pair, pair_count FROM agg
         |ORDER BY pair_count DESC, pair LIMIT 50""".stripMargin),

    // Iterated BPE merge TRAINING (round 10) — bpe_pairs computes one
    // round of merge candidates; this unrolls N=4 full trainer rounds
    // (Sennrich et al. 2016): count adjacent symbol pairs weighted by
    // word frequency → apply the top merge to every word → re-count.
    // Output: the merge table (round, p1, p2, merged, pair_count) — a
    // real tokenizer's training artifact. Symbol sequences live as
    // DOUBLE-separator strings (␁␁sym␁␁sym␁␁): the merge is then a
    // literal replace of ␁p1␁␁p2␁ → ␁p1p2␁, and both engines' replace
    // scans left-to-right non-overlapping — exactly greedy BPE. The
    // double boundary is load-bearing: with single separators the
    // pattern consumes the next match's leading boundary ("a a a a"
    // merges once instead of twice); with doubled ones each match
    // consumes only the inner halves, so runs merge greedily —
    // and a pattern can never match inside a symbol (every ␁ belongs
    // to a boundary; a match's edges must land on boundary halves,
    // forcing p1/p2 to be complete symbols). 100 TB shape: the ONLY
    // corpus-sized pass is the initial word-count agg; every round
    // runs over the DISTINCT VOCAB (split + pair explode + one tiny
    // agg + map-side replace), checkpointed per round so the merge
    // table's branches share work — per-round cost rides vocab size,
    // however many tokens the corpus holds.
    Query("bpe_train", { (s, d) =>
      val N = 4
      val wc = Dedup.rebalance(Tables.documents(s, d))
        .select(explode(TextOps.tokens(lower(col("text")))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("wn"))
      var rep = wc.select(col("wn"), TextOps.bpeInitRep(col("w")).as("rep"))
        .localCheckpoint(true)
      val merges = (1 to N).map { i =>
        val top1 = rep.select(col("wn"), TextOps.bpeSymbols(col("rep")).as("sy"))
          .select(col("wn"), explode(when(size(col("sy")) >= 2,
              transform(sequence(lit(1), size(col("sy")) - 1),
                k => struct(element_at(col("sy"), k).as("p1"),
                  element_at(col("sy"), k + 1).as("p2"))))
            .otherwise(array().cast("array<struct<p1:string,p2:string>>")))
            .as("pr"))
          .select(col("wn"), col("pr.p1").as("p1"), col("pr.p2").as("p2"))
          .groupBy(col("p1"), col("p2")).agg(sum(col("wn")).as("cnt"))
          .orderBy(col("cnt").desc, col("p1"), col("p2")).limit(1)
          .localCheckpoint(true)
        rep = rep.crossJoin(broadcast(top1))
          .select(col("wn"),
            TextOps.bpeMerge(col("rep"), col("p1"), col("p2")).as("rep"))
          .localCheckpoint(true)
        top1.select(lit(i).as("round"), col("p1"), col("p2"),
          concat(col("p1"), col("p2")).as("merged"),
          col("cnt").as("pair_count"))
      }
      merges.reduce(_ unionByName _)
    },
      // bpe_train: the N merge rounds replay as chained CTEs — same
      // double-separator string representation (sep = chr(1)), same
      // literal left-to-right replace, same (cnt DESC, p1, p2) top-1.
      {
        val rounds = (1 to 4).map { i =>
          s"""sy$i AS (SELECT wn, list_filter(string_split(rep, bb), x -> x <> '') AS sy
             |         FROM r${i - 1} CROSS JOIN sep),
             |pc$i AS (SELECT p1, p2, CAST(sum(wn) AS BIGINT) AS cnt FROM (
             |           SELECT wn, sy[k] AS p1, sy[k + 1] AS p2
             |           FROM (SELECT wn, sy, unnest(generate_series(1, len(sy) - 1)) AS k
             |                 FROM sy$i))
             |         GROUP BY 1, 2),
             |t$i AS (SELECT p1, p2, cnt FROM pc$i ORDER BY cnt DESC, p1, p2 LIMIT 1),
             |r$i AS (SELECT wn, replace(rep, s1 || p1 || bb || p2 || s1,
             |                           s1 || p1 || p2 || s1) AS rep
             |        FROM r${i - 1} CROSS JOIN t$i CROSS JOIN sep)""".stripMargin
        }.mkString(",\n")
        val out = (1 to 4).map(i =>
          s"SELECT $i AS round, p1, p2, p1 || p2 AS merged, cnt AS pair_count FROM t$i")
          .mkString("\nUNION ALL ")
        s"""WITH sep AS (SELECT chr(1) AS s1, chr(1) || chr(1) AS bb),
           |w AS (SELECT unnest(list_transform($ToksSql, t -> lower(t))) AS w
           |      FROM documents),
           |wc0 AS (SELECT w, CAST(count(*) AS BIGINT) AS wn FROM w GROUP BY 1),
           |r0 AS (SELECT wn, bb || array_to_string(
           |         list_transform(generate_series(1, len(w)), j -> substr(w, j, 1)),
           |         chr(1) || chr(1)) || bb AS rep
           |       FROM wc0 CROSS JOIN sep),
           |$rounds
           |$out""".stripMargin
      }),

    // BPE ENCODING (round 10) — bpe_train learns the merge table; this
    // is the other half a tokenizer needs: APPLY those merges to every
    // document and report its token counts (the number a training-data
    // pipeline actually budgets by — packed-sequence length, mixture
    // token shares, cost estimates all ride the TOKENIZER's count, not
    // the whitespace word count). Re-runs the same 4 training rounds
    // but keeps the word key alongside each representation, so the
    // final round yields a word → symbol-count encoder table; per-doc
    // totals are then exact BIGINT sums over the (doc, word) tf frame.
    // 100 TB shape: the corpus is touched exactly twice (the word
    // tokenize→count agg; the final tf⋈encoder join, with the encoder
    // VOCAB-sized and broadcastable) — every merge round rides the
    // DISTINCT vocab, so training cost is independent of corpus size,
    // and encoding adds one map-side join. tpw_x100 (tokens per 100
    // words) is the compression diagnostic, HALF_UP exact-integer.
    Query("bpe_encode", { (s, d) =>
      val (tf, enc) = bpeTfEnc(s, d)
      tf.join(enc, "w")
        .groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("n_words"),
          sum(col("tf") * col("n_sym")).as("n_tokens"))
        // tokens per 100 words, HALF_UP exact-integer (both counts > 0
        // whenever the doc has any word — n_sym >= 1 always)
        .selectExpr("doc_id", "n_words", "n_tokens",
          "(200 * n_tokens + n_words) div (2 * n_words) AS tpw_x100")
    },
      // bpe_encode: the same 4-round chain, but the rep table keeps its
      // word key (rW chain) so round 4 yields the word → symbol-count
      // encoder; per-doc totals are exact integer sums over the tf CTE.
      s"""WITH $bpeEncCtes,
         |agg AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_words,
         |               CAST(sum(tf * n_sym) AS BIGINT) AS n_tokens
         |        FROM tf JOIN enc USING (w) GROUP BY 1)
         |SELECT doc_id, n_words, n_tokens,
         |       (200 * n_tokens + n_words) // (2 * n_words) AS tpw_x100
         |FROM agg""".stripMargin),

    // WORDPIECE ENCODING (round 14) — the tokenizer family's other
    // canonical algorithm (Schuster & Nakajima 2012; Wu et al. 2016):
    // greedy longest-match-first segmentation of each word against a
    // learned piece vocabulary, vs BPE's merge replay. Vocab = the
    // top-256 length-2..4 substrings of the distinct-word table by
    // corpus-weighted frequency under the (cnt DESC, piece) TOTAL
    // order (deterministic at the cut, the bpe top1 convention);
    // single chars are implicit fallback pieces. Segmentation is ONE
    // `aggregate` fold per DISTINCT WORD over its positions — try 4,
    // then 3, then 2, else 1 char, vocab membership via a broadcast
    // ≤256-entry map literal (`map_contains_key`) — so the corpus is
    // touched exactly twice (tokenize→tf agg; tf⋈encoder join) and
    // the greedy loop rides the DISTINCT vocab, corpus-independent.
    // A truncated end-of-word probe (substr(pos, 4) with < 4 chars
    // left) may match a shorter piece and overshoot pos — harmless
    // (the word is finished either way) and replayed bit-for-bit by
    // the oracle's identical CASE ladder. The DuckDB oracle segments
    // by recursive CTE over the same vocab.
    Query("wordpiece_encode", { (s, d) =>
      val K = 256
      val words = Dedup.rebalance(Tables.documents(s, d))
        .select(col("doc_id"),
          explode(TextOps.tokens(lower(col("text")))).as("w"))
      val tf = words.groupBy(col("doc_id"), col("w"))
        .agg(count(lit(1)).as("tf")).localCheckpoint(true)
      val wc = tf.groupBy(col("w")).agg(sum(col("tf")).as("wn"))
        .localCheckpoint(true)
      val pieces = wc.select(col("wn"), explode(flatten(
          transform(sequence(lit(2), lit(4)), l =>
            when(length(col("w")) >= l,
              transform(sequence(lit(1), length(col("w")) - l + 1),
                i => col("w").substr(i, l)))
              .otherwise(array().cast("array<string>")))))
          .as("piece"))
        .groupBy(col("piece")).agg(sum(col("wn")).as("cnt"))
        .orderBy(col("cnt").desc, col("piece")).limit(K)
      // model-sized collect (≤ K pieces) → broadcast map literal
      val vocab = pieces.collect().map(_.getString(0)).toSet
      val V = typedlit(vocab.map(p => p -> true).toMap)
      def hit(pos: org.apache.spark.sql.Column, l: Int) =
        map_contains_key(V, col("w").substr(pos, lit(l)))
      val nPieces = aggregate(
        sequence(lit(1), length(col("w"))),
        struct(lit(1).as("pos"), lit(0).as("n")),
        (st, i) => {
          val pos = st.getField("pos")
          val n = st.getField("n")
          def nxt(adv: Int) =
            struct((pos + adv).as("pos"), (n + 1).as("n"))
          when(i < pos, st)
            .when(hit(pos, 4), nxt(4))
            .when(hit(pos, 3), nxt(3))
            .when(hit(pos, 2), nxt(2))
            .otherwise(nxt(1))
        },
        st => st.getField("n").cast("long"))
      val enc = wc.select(col("w"), nPieces.as("n_pieces"))
      tf.join(enc, "w")
        .groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("n_words"),
          sum(col("tf") * col("n_pieces")).as("n_tokens"))
        .selectExpr("doc_id", "n_words", "n_tokens",
          "(200 * n_tokens + n_words) div (2 * n_words) AS tpw_x100")
    },
      // wordpiece_encode: same vocab derivation (top-256 weighted 2..4
      // substrings, (cnt DESC, piece) total order), greedy segmentation
      // replayed by recursive CTE with the identical 4/3/2/else-1 CASE
      // ladder (incl. the truncated end-of-word probe semantics).
      s"""WITH RECURSIVE
         |wx AS (SELECT doc_id,
         |         unnest(list_transform($ToksSql, t -> lower(t))) AS w
         |       FROM documents),
         |tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
         |       FROM wx GROUP BY 1, 2),
         |wc AS (SELECT w, CAST(sum(tf) AS BIGINT) AS wn FROM tf GROUP BY 1),
         |wl AS (SELECT w, wn, unnest([2, 3, 4]) AS l FROM wc),
         |wi AS (SELECT w, wn, l,
         |         unnest(generate_series(1, length(w) - l + 1)) AS i
         |       FROM wl),
         |pieces AS (SELECT substr(w, i, l) AS piece, sum(wn) AS cnt
         |           FROM wi GROUP BY 1),
         |vocab AS (SELECT piece FROM pieces ORDER BY cnt DESC, piece LIMIT 256),
         |seg AS (SELECT w, 1 AS pos, 0 AS n FROM wc
         |        UNION ALL
         |        SELECT w,
         |          pos + CASE
         |            WHEN substr(w, pos, 4) IN (SELECT piece FROM vocab) THEN 4
         |            WHEN substr(w, pos, 3) IN (SELECT piece FROM vocab) THEN 3
         |            WHEN substr(w, pos, 2) IN (SELECT piece FROM vocab) THEN 2
         |            ELSE 1 END,
         |          n + 1
         |        FROM seg WHERE pos <= length(w)),
         |enc AS (SELECT w, CAST(max(n) AS BIGINT) AS n_pieces
         |        FROM seg GROUP BY 1),
         |agg AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_words,
         |               CAST(sum(tf * n_pieces) AS BIGINT) AS n_tokens
         |        FROM tf JOIN enc USING (w) GROUP BY 1)
         |SELECT doc_id, n_words, n_tokens,
         |       (200 * n_tokens + n_words) // (2 * n_words) AS tpw_x100
         |FROM agg""".stripMargin),

    // UNIGRAM-LM TOKENIZER TRAINING (round 16) — the third production
    // tokenizer beside BPE and WordPiece: Kudo 2018's unigram model
    // with EM pruning, deterministic exact-integer form (see
    // unigramModel's scaladoc for the full contract). Output: the
    // final vocabulary — piece, length, Viterbi usage count, add-1
    // 1e6-scaled log-probability cell. The oracle replays the seed
    // derivation, both EM rounds' forward/backward Viterbi recursions
    // (shift-state + smallest-l CTEs), the prunes and the ln cells.
    Query("unigram_train", { (s, d) =>
      val (_, vocab, _) = unigramModel(s, d)
      vocab
    },
      // unigram_train: seed → 2 EM rounds (shift-state forward +
      // smallest-l backward Viterbi recursions) → pruned final vocab
      // with add-1 ln-cell scores.
      s"""WITH RECURSIVE
         |$uniTrainCtes,
         |tot2 AS MATERIALIZED (SELECT CAST(sum(usage) AS BIGINT) AS t,
         |            CAST(count(*) AS BIGINT) AS v FROM v2)
         |SELECT piece, CAST(length(piece) AS BIGINT) AS piece_len, usage,
         |       ${uniLn("usage + 1")}
         |       - (SELECT ${uniLn("t + v")} FROM tot2) AS logp_x1e6
         |FROM v2""".stripMargin),

    // UNIGRAM-LM ENCODING (round 16) — apply the trained unigram model
    // to every document: per-word Viterbi piece counts under the final
    // scores, rolled up per doc exactly like bpe_encode /
    // wordpiece_encode (n_words, n_tokens, HALF-UP tokens-per-100-
    // words). The tokenizer-family comparison is now three-way on
    // identical output shapes.
    Query("unigram_encode", { (s, d) =>
      val (tf, _, enc) = unigramModel(s, d)
      tf.join(enc, "w")
        .groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("n_words"),
          sum(col("tf") * col("n_pieces")).as("n_tokens"))
        .selectExpr("doc_id", "n_words", "n_tokens",
          "(200 * n_tokens + n_words) div (2 * n_words) AS tpw_x100")
    },
      // unigram_encode: the same chain + a third Viterbi pass under the
      // final scores; per-doc rollup identical to bpe/wordpiece encode.
      s"""WITH RECURSIVE
         |$uniTrainCtes,
         |${uniScoreCtes("2", "v2")},
         |${uniViterbiCtes("3", "sc2")},
         |enc AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS n_pieces
         |        FROM pieces3 GROUP BY 1),
         |agg AS MATERIALIZED (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_words,
         |               CAST(sum(tf * n_pieces) AS BIGINT) AS n_tokens
         |        FROM tf JOIN enc USING (w) GROUP BY 1)
         |SELECT doc_id, n_words, n_tokens,
         |       (200 * n_tokens + n_words) // (2 * n_words) AS tpw_x100
         |FROM agg""".stripMargin),

    // Tokenizer fertility per language (round 11) — the multilingual-
    // tokenizer-bias metric (fertility = subword tokens per word;
    // Ács 2019, XLM-R analyses): languages the tokenizer serves badly
    // pay more tokens per word and fewer chars per token, which
    // directly inflates their training/serving cost. Computed under
    // the SAME 4-merge BPE encoder as bpe_encode (shared helper), per
    // lang: words, tokens, chars, HALF_UP fertility ×100 and
    // chars-per-token ×100. Shape: bpe_encode's envelope (rounds ride
    // the DISTINCT vocab) + one lang join on the doc-keyed tf frame.
    Query("tokenizer_fertility", { (s, d) =>
      val (tf, enc) = bpeTfEnc(s, d)
      val langs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
      tf.join(enc, "w").join(langs, "doc_id")
        .groupBy(col("lang"))
        .agg(sum(col("tf")).as("n_words"),
          sum(col("tf") * col("n_sym")).as("n_tokens"),
          sum(col("tf") * length(col("w"))).as("n_chars"))
        .selectExpr("lang", "n_words", "n_tokens", "n_chars",
          "(200 * n_tokens + n_words) div (2 * n_words) AS fertility_x100",
          "(200 * n_chars + n_tokens) div (2 * n_tokens) AS chars_per_tok_x100")
    },
      // tokenizer_fertility: the same encoder chain, rolled up per lang
      // with char counts.
      s"""WITH $bpeEncCtes,
         |lg AS (SELECT doc_id, lang FROM documents),
         |agg AS (SELECT lang, CAST(sum(tf) AS BIGINT) AS n_words,
         |               CAST(sum(tf * n_sym) AS BIGINT) AS n_tokens,
         |               CAST(sum(tf * length(w)) AS BIGINT) AS n_chars
         |        FROM tf JOIN enc USING (w) JOIN lg USING (doc_id)
         |        GROUP BY 1)
         |SELECT lang, n_words, n_tokens, n_chars,
         |       (200 * n_tokens + n_words) // (2 * n_words) AS fertility_x100,
         |       (200 * n_chars + n_tokens) // (2 * n_tokens) AS chars_per_tok_x100
         |FROM agg""".stripMargin),

    // Unigram log-probability quality score (round 6) — the KenLM-free
    // fluency proxy: score each document by its mean corpus-unigram
    // log-probability (rare-token-dense docs score low; the classic
    // pretraining-quality filter alongside text_quality's surface
    // ratios). Cross-engine exactness: ln(ctf/T) is scaled to a BIGINT
    // once per DISTINCT TERM (floor(·1e6+0.5)); each doc's total is
    // then the exact integer Σ tf·lp, and the mean is signed HALF_UP
    // integer division (embed_centroid convention) — no double ever
    // crosses an aggregate, so partial-agg order can't drift. Shape:
    // one explode → (doc,term) tf reused for corpus counts → broadcast
    // 1-row T → two hash aggs; nothing wide.
    Query("unigram_logprob", { (s, d) =>
      val docs = Dedup.rebalance(Tables.documents(s, d))
      // tf feeds two consumers (ctf chain, doc-total join) — explode
      // the corpus once (see bm25_topk).
      val tf = docs
        .select(col("doc_id"), explode(TextOps.tokens(lower(col("text")))).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        .localCheckpoint(true)
      val ctf = tf.groupBy(col("term")).agg(sum(col("tf")).as("ctf"))
      val tot = ctf.agg(sum(col("ctf")).as("t_tokens"))
      val lp = ctf.crossJoin(broadcast(tot))
        .select(col("term"),
          floor(log(col("ctf").cast("double") / col("t_tokens").cast("double")) * 1e6
            + 0.5).cast("long").as("lp_x1e6"))
      tf.join(lp, "term")
        .groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("n_tokens"),
          sum(col("tf") * col("lp_x1e6")).as("sum_lp_x1e6"))
        // mean at 1e6 scale, signed HALF_UP exact integer division
        .withColumn("num", col("sum_lp_x1e6"))
        .selectExpr("doc_id", "n_tokens", "sum_lp_x1e6",
          """CASE WHEN num >= 0 THEN (2 * num + n_tokens) div (2 * n_tokens)
            |     ELSE -((2 * -num + n_tokens) div (2 * n_tokens)) END
            |  AS avg_lp_x1e6""".stripMargin)
    },
      // unigram_logprob: ln scaled to BIGINT once per distinct term; doc
      // totals and the mean are exact integer math (HALF_UP via the
      // embed_centroid div convention — Spark `div` ≡ DuckDB `//` on the
      // sign-guarded non-negative numerators).
      s"""WITH toks AS (SELECT doc_id,
         |                     unnest(list_transform($ToksSql, t -> lower(t))) AS term
         |              FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         |ctf AS (SELECT term, CAST(sum(tf) AS BIGINT) AS ctf FROM tf GROUP BY 1),
         |tot AS (SELECT CAST(sum(ctf) AS DOUBLE) AS t_tokens FROM ctf),
         |lp AS (SELECT term,
         |         CAST(floor(ln(CAST(ctf AS DOUBLE) / t_tokens) * 1e6 + 0.5) AS BIGINT)
         |           AS lp_x1e6
         |       FROM ctf CROSS JOIN tot),
         |a AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
         |             CAST(sum(tf * lp_x1e6) AS BIGINT) AS sum_lp_x1e6
         |      FROM tf JOIN lp USING (term) GROUP BY 1)
         |SELECT doc_id, n_tokens, sum_lp_x1e6,
         |  CAST(CASE WHEN sum_lp_x1e6 >= 0
         |       THEN (2 * sum_lp_x1e6 + n_tokens) // (2 * n_tokens)
         |       ELSE -((2 * -sum_lp_x1e6 + n_tokens) // (2 * n_tokens)) END
         |    AS BIGINT) AS avg_lp_x1e6
         |FROM a""".stripMargin),

    // Bigram conditional log-probability fluency score (round 10) —
    // unigram_logprob's next order: P(w2|w1) with add-1 smoothing over
    // the corpus unigram vocabulary, the classic KenLM-style fluency
    // proxy that catches shuffled/garbled text a unigram LM scores as
    // fluent (same words, broken transitions). Exact-integer
    // discipline identical to unigram_logprob: ln((c(w1,w2)+1)/
    // (c(w1·)+|V|)) is scaled to BIGINT once per DISTINCT BIGRAM; doc
    // totals are exact Σ tf·lp; the mean is signed HALF_UP integer
    // division — no double crosses an aggregate. Shape: the token
    // arrays materialize ONCE (localCheckpoint, two consumers: vocab
    // count + bigram explode); bigrams derive map-side via zip_with
    // over adjacent slices (no positional self-join — the (doc,pos)⋈
    // (doc,pos+1) formulation shuffles the whole corpus twice); the
    // conditional denominator c(w1·) rides the DISTINCT-BIGRAM frame
    // (head-group sums), never the corpus; |V| is a broadcast 1-row.
    // 100 TB: everything after the one (doc,bigram) tf exchange is
    // vocab-sized — per-round cost rides the distinct bigram count.
    Query("bigram_logprob", { (s, d) =>
      val docs = Dedup.rebalance(Tables.documents(s, d))
      val toks = docs.select(col("doc_id"),
          TextOps.tokens(lower(col("text"))).as("toks"))
        .localCheckpoint(true)
      val v = toks.select(explode(col("toks")).as("term"))
        .agg(count_distinct(col("term")).as("v"))
      val tf = toks
        .select(col("doc_id"),
          explode(zip_with(
            slice(col("toks"), lit(1), greatest(size(col("toks")) - 1, lit(0))),
            slice(col("toks"), lit(2), greatest(size(col("toks")) - 1, lit(0))),
            (a, b) => concat(a, lit(" "), b))).as("bigram"))
        .groupBy(col("doc_id"), col("bigram")).agg(count(lit(1)).as("tf"))
        .localCheckpoint(true)
      val cbf = tf.groupBy(col("bigram")).agg(sum(col("tf")).as("cbf"))
        .withColumn("head", substring_index(col("bigram"), " ", 1))
      val heads = cbf.groupBy(col("head")).agg(sum(col("cbf")).as("hc"))
      val lp = cbf.join(heads, "head").crossJoin(broadcast(v))
        .select(col("bigram"),
          floor(log((col("cbf") + 1).cast("double") /
              (col("hc") + col("v")).cast("double")) * 1e6 + 0.5)
            .cast("long").as("lp_x1e6"))
      tf.join(lp, "bigram")
        .groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("n_bigrams"),
          sum(col("tf") * col("lp_x1e6")).as("sum_lp_x1e6"))
        .withColumn("num", col("sum_lp_x1e6"))
        .selectExpr("doc_id", "n_bigrams", "sum_lp_x1e6",
          """CASE WHEN num >= 0 THEN (2 * num + n_bigrams) div (2 * n_bigrams)
            |     ELSE -((2 * -num + n_bigrams) div (2 * n_bigrams)) END
            |  AS avg_lp_x1e6""".stripMargin)
    },
      // bigram_logprob: mirrors the Spark plan — bigrams via 1-based
      // adjacent list indexing (range(1, len) = positions 1..len-1),
      // add-1-smoothed conditional lp scaled to BIGINT once per distinct
      // bigram, exact-integer doc sums + signed HALF_UP mean.
      s"""WITH toks AS (SELECT doc_id,
         |                     list_transform($ToksSql, t -> lower(t)) AS toks
         |              FROM documents),
         |v AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS v
         |      FROM (SELECT unnest(toks) AS term FROM toks)),
         |bg AS (SELECT doc_id,
         |         unnest(list_transform(range(1, len(toks)),
         |                i -> toks[i] || ' ' || toks[i + 1])) AS bigram
         |       FROM toks),
         |tf AS (SELECT doc_id, bigram, count(*) AS tf FROM bg GROUP BY 1, 2),
         |cbf AS (SELECT bigram, CAST(sum(tf) AS BIGINT) AS cbf,
         |               split_part(bigram, ' ', 1) AS head
         |        FROM tf GROUP BY 1),
         |heads AS (SELECT head, CAST(sum(cbf) AS BIGINT) AS hc
         |          FROM cbf GROUP BY 1),
         |lp AS (SELECT bigram,
         |         CAST(floor(ln(CAST(cbf + 1 AS DOUBLE) /
         |                       CAST(hc + v AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
         |           AS lp_x1e6
         |       FROM cbf JOIN heads USING (head) CROSS JOIN v),
         |a AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
         |             CAST(sum(tf * lp_x1e6) AS BIGINT) AS sum_lp_x1e6
         |      FROM tf JOIN lp USING (bigram) GROUP BY 1)
         |SELECT doc_id, n_bigrams, sum_lp_x1e6,
         |  CAST(CASE WHEN sum_lp_x1e6 >= 0
         |       THEN (2 * sum_lp_x1e6 + n_bigrams) // (2 * n_bigrams)
         |       ELSE -((2 * -sum_lp_x1e6 + n_bigrams) // (2 * n_bigrams)) END
         |    AS BIGINT) AS avg_lp_x1e6
         |FROM a""".stripMargin),

    // Vocabulary-coverage quality signal (round 10) — the Gopher-rule
    // pair the quality_filter chain doesn't carry: per doc, the
    // fraction of token OCCURRENCES drawn from the corpus's top-100
    // terms (natural text is dominated by its common vocabulary;
    // machine-generated/obfuscated text is not) and the fraction that
    // are corpus HAPAXES (cc = 1 — gibberish, IDs and mojibake are
    // hapax-heavy; a doc's own novel words are fine in moderation).
    // Exact integers end to end: both fractions are HALF_UP at 1e4
    // scale (basis points). 100 TB shape: ONE corpus explode feeds the
    // (doc,term) tf, the corpus counts derive from it, the top-100 cut
    // is a bounded TakeOrdered broadcast back, and the doc rollup
    // rides the tf frame.
    Query("vocab_coverage", { (s, d) =>
      val tf = Dedup.rebalance(Tables.documents(s, d))
        .select(col("doc_id"), explode(TextOps.tokens(lower(col("text")))).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        .localCheckpoint(true)
      val cc = tf.groupBy(col("term")).agg(sum(col("tf")).as("cc"))
        .localCheckpoint(true)
      val top = cc.orderBy(col("cc").desc, col("term")).limit(100)
        .select(col("term"), lit(1L).as("is_top"))
      tf.join(cc, "term")
        .join(broadcast(top), Seq("term"), "left")
        .groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("n_tokens"),
          sum(when(col("is_top") === 1L, col("tf")).otherwise(0L)).as("top_tok"),
          sum(when(col("cc") === 1L, col("tf")).otherwise(0L)).as("hapax_tok"))
        .selectExpr("doc_id", "n_tokens",
          "(20000 * top_tok + n_tokens) div (2 * n_tokens) AS top100_x1e4",
          "(20000 * hapax_tok + n_tokens) div (2 * n_tokens) AS hapax_x1e4")
    },
      // vocab_coverage: same single-explode derivation, (cc DESC, term)
      // top-100 cut, HALF_UP basis points.
      s"""WITH tw AS (SELECT doc_id,
         |              unnest(list_transform($ToksSql, t -> lower(t))) AS term
         |            FROM documents),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         |       FROM tw GROUP BY 1, 2),
         |cc AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cc FROM tf GROUP BY 1),
         |top AS (SELECT term, 1 AS is_top FROM cc
         |        ORDER BY cc DESC, term LIMIT 100),
         |agg AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
         |          CAST(sum(CASE WHEN is_top = 1 THEN tf ELSE 0 END) AS BIGINT)
         |            AS top_tok,
         |          CAST(sum(CASE WHEN cc = 1 THEN tf ELSE 0 END) AS BIGINT)
         |            AS hapax_tok
         |        FROM tf JOIN cc USING (term)
         |        LEFT JOIN top USING (term)
         |        GROUP BY 1)
         |SELECT doc_id, n_tokens,
         |       (20000 * top_tok + n_tokens) // (2 * n_tokens) AS top100_x1e4,
         |       (20000 * hapax_tok + n_tokens) // (2 * n_tokens) AS hapax_x1e4
         |FROM agg""".stripMargin),

    // Held-out LM scoring (round 10) — bigram_logprob as DEPLOYED
    // (CCNet/Wenzek et al. 2020 filter by the perplexity of a FIXED
    // LM over incoming data; scoring your own training counts, as
    // bigram_logprob does, can't see overfitting): the add-1 bigram
    // LM trains on the md5-selected 80% shard ONLY, then scores the
    // held-out 20% — unseen bigrams get ln((0+1)/(hc+|V|)), unseen
    // heads the ln(1/|V|) floor, exactly the backoff a serving filter
    // applies to novel text. Same exact-integer discipline (1e6
    // BIGINT lp per DISTINCT held-out bigram, exact doc sums, signed
    // HALF_UP mean). 100 TB shape: the MODEL (train bigram + head
    // counts) is distinct-bigram-sized; scoring joins ride the
    // distinct held-out bigram frame; one (doc,bigram) exchange total.
    Query("heldout_perplexity", { (s, d) =>
      val toks = Dedup.rebalance(Tables.documents(s, d))
        .select(col("doc_id"),
          (pmod(Dedup.md5Hash60(concat(lit("lm:"), col("doc_id").cast("string"))),
            lit(10L)) < 8L).as("is_train"),
          TextOps.tokens(lower(col("text"))).as("toks"))
        .localCheckpoint(true)
      val btf = toks.select(col("doc_id"), col("is_train"),
          explode(zip_with(
            slice(col("toks"), lit(1), greatest(size(col("toks")) - 1, lit(0))),
            slice(col("toks"), lit(2), greatest(size(col("toks")) - 1, lit(0))),
            (a, b) => concat(a, lit(" "), b))).as("bigram"))
        .groupBy(col("doc_id"), col("is_train"), col("bigram"))
        .agg(count(lit(1)).as("tf"))
        .localCheckpoint(true)
      val v = toks.filter(col("is_train"))
        .select(explode(col("toks")).as("term"))
        .agg(count_distinct(col("term")).as("v"))
      val trainBg = btf.filter(col("is_train"))
        .groupBy(col("bigram")).agg(sum(col("tf")).as("c12"))
        .withColumn("head", substring_index(col("bigram"), " ", 1))
        .localCheckpoint(true)
      val heads = trainBg.groupBy(col("head")).agg(sum(col("c12")).as("hc"))
      val lp = btf.filter(!col("is_train")).select(col("bigram")).distinct()
        .withColumn("head", substring_index(col("bigram"), " ", 1))
        .join(trainBg.select(col("bigram"), col("c12")), Seq("bigram"), "left")
        .join(heads, Seq("head"), "left")
        .crossJoin(broadcast(v))
        .select(col("bigram"),
          floor(log((coalesce(col("c12"), lit(0L)) + 1).cast("double") /
              (coalesce(col("hc"), lit(0L)) + col("v")).cast("double")) * 1e6 + 0.5)
            .cast("long").as("lp_x1e6"))
      btf.filter(!col("is_train")).join(lp, "bigram")
        .groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("n_bigrams"),
          sum(col("tf") * col("lp_x1e6")).as("sum_lp_x1e6"))
        .withColumn("num", col("sum_lp_x1e6"))
        .selectExpr("doc_id", "n_bigrams", "sum_lp_x1e6",
          """CASE WHEN num >= 0 THEN (2 * num + n_bigrams) div (2 * n_bigrams)
            |     ELSE -((2 * -num + n_bigrams) div (2 * n_bigrams)) END
            |  AS avg_lp_x1e6""".stripMargin)
    },
      // heldout_perplexity: train-shard bigram/head counts, held-out
      // scoring with the same backoff, identical ln/floor tree.
      s"""WITH tk AS (SELECT doc_id,
         |              (CAST('0x' || substr(md5('lm:' || CAST(doc_id AS VARCHAR)),
         |                    1, 15) AS BIGINT) % 10 < 8) AS is_train,
         |              list_transform($ToksSql, t -> lower(t)) AS toks
         |            FROM documents),
         |v AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS v
         |      FROM (SELECT unnest(toks) AS term FROM tk WHERE is_train)),
         |bg AS (SELECT doc_id, is_train, toks[k] || ' ' || toks[k + 1] AS bigram
         |       FROM (SELECT doc_id, is_train, toks,
         |               unnest(generate_series(1, len(toks) - 1)) AS k
         |             FROM tk)),
         |btf AS (SELECT doc_id, is_train, bigram, CAST(count(*) AS BIGINT) AS tf
         |        FROM bg GROUP BY 1, 2, 3),
         |trainbg AS (SELECT bigram, CAST(sum(tf) AS BIGINT) AS c12,
         |                   string_split(bigram, ' ')[1] AS head
         |            FROM btf WHERE is_train GROUP BY 1),
         |heads AS (SELECT head, CAST(sum(c12) AS BIGINT) AS hc
         |          FROM trainbg GROUP BY 1),
         |hel AS (SELECT DISTINCT bigram, string_split(bigram, ' ')[1] AS head
         |        FROM btf WHERE NOT is_train),
         |lp AS (SELECT hel.bigram,
         |         CAST(floor(ln(CAST(coalesce(c12, 0) + 1 AS DOUBLE) /
         |                       CAST(coalesce(hc, 0) + v AS DOUBLE)) * 1e6 + 0.5)
         |           AS BIGINT) AS lp_x1e6
         |       FROM hel
         |       LEFT JOIN trainbg ON trainbg.bigram = hel.bigram
         |       LEFT JOIN heads ON heads.head = hel.head
         |       CROSS JOIN v),
         |agg AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
         |               CAST(sum(tf * lp_x1e6) AS BIGINT) AS sum_lp_x1e6
         |        FROM btf JOIN lp USING (bigram)
         |        WHERE NOT is_train GROUP BY 1)
         |SELECT doc_id, n_bigrams, sum_lp_x1e6,
         |       CASE WHEN sum_lp_x1e6 >= 0
         |            THEN (2 * sum_lp_x1e6 + n_bigrams) // (2 * n_bigrams)
         |            ELSE -((2 * -sum_lp_x1e6 + n_bigrams) // (2 * n_bigrams)) END
         |         AS avg_lp_x1e6
         |FROM agg""".stripMargin),

    // DSIR-style importance weights (round 8; Xie et al. 2023 motivate
    // importance resampling from an n-gram proxy): per-doc log
    // importance weight between the TARGET distribution (lang='en'
    // docs — the quality-class stand-in) and the CORPUS distribution,
    // both add-1-smoothed unigram LMs over the corpus vocabulary.
    // Every formula input is an exact integer (tf, per-class term
    // counts, totals, |V|); the one double op per (term, class) is ln
    // of a ratio of exact-integer-valued doubles, floored at 1e6 scale
    // BEFORE any aggregation (the unigram_logprob discipline) — doc
    // weights are exact BIGINT sums. Shape: ONE corpus explode feeds
    // both class counts; 1-row totals broadcast; the per-term delta
    // joins back onto the same tf frame.
    Query("dsir_weights", { (s, d) =>
      val docs = Dedup.rebalance(Tables.documents(s, d))
      val tf = docs
        .select(col("doc_id"), col("lang"),
          explode(TextOps.tokens(lower(col("text")))).as("term"))
        .groupBy(col("doc_id"), col("lang"), col("term"))
        .agg(count(lit(1)).as("tf"))
        .localCheckpoint(true)
      val cc = tf.groupBy(col("term")).agg(sum(col("tf")).as("cc"))
      val tc = tf.filter(col("lang") === "en")
        .groupBy(col("term")).agg(sum(col("tf")).as("tc"))
      val totals = cc.agg(sum(col("cc")).as("c_tot"), count(lit(1)).as("v"))
        .crossJoin(tc.agg(sum(col("tc")).as("t_tot")))
      val dlp = cc.join(tc, Seq("term"), "left")
        .crossJoin(broadcast(totals))
        .select(col("term"),
          (floor(log((coalesce(col("tc"), lit(0L)) + 1).cast("double") /
              (col("t_tot") + col("v")).cast("double")) * 1e6 + 0.5).cast("long") -
           floor(log((col("cc") + 1).cast("double") /
              (col("c_tot") + col("v")).cast("double")) * 1e6 + 0.5).cast("long"))
            .as("dlp_x1e6"))
      tf.join(dlp, "term")
        .groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("n_tokens"),
          sum(col("tf") * col("dlp_x1e6")).as("weight_x1e6"))
    },
      s"""WITH toks AS (SELECT doc_id, lang,
         |                unnest(list_transform($ToksSql, t -> lower(t))) AS term
         |              FROM documents),
         |tf AS (SELECT doc_id, lang, term, count(*) AS tf
         |       FROM toks GROUP BY 1, 2, 3),
         |cc AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cc FROM tf GROUP BY 1),
         |tc AS (SELECT term, CAST(sum(tf) AS BIGINT) AS tc
         |       FROM tf WHERE lang = 'en' GROUP BY 1),
         |tot AS (SELECT CAST(sum(cc) AS BIGINT) AS c_tot,
         |               CAST(count(*) AS BIGINT) AS v
         |        FROM cc),
         |ttot AS (SELECT CAST(sum(tc) AS BIGINT) AS t_tot FROM tc),
         |dlp AS (SELECT cc.term,
         |          CAST(floor(ln(CAST(coalesce(tc.tc, 0) + 1 AS DOUBLE) /
         |                        CAST(t_tot + v AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
         |          - CAST(floor(ln(CAST(cc.cc + 1 AS DOUBLE) /
         |                          CAST(c_tot + v AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
         |            AS dlp_x1e6
         |        FROM cc LEFT JOIN tc ON tc.term = cc.term
         |        CROSS JOIN tot CROSS JOIN ttot)
         |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
         |       CAST(sum(tf * dlp_x1e6) AS BIGINT) AS weight_x1e6
         |FROM tf JOIN dlp USING (term)
         |GROUP BY 1""".stripMargin),

    // DoReMi-style domain reweighting (round 14; Xie et al. 2023 —
    // DoReMi tunes the training mixture by upweighting domains with
    // EXCESS LOSS, the gap between the proxy model's loss on a domain
    // and a reference capacity). Here the per-domain reference
    // capacity is the domain's OWN add-1 unigram LM and the proxy is
    // the GLOBAL corpus LM: a domain the corpus mixture models much
    // worse than its own capacity allows is under-served and gains
    // weight. The weight iteration is multiplicative weights in its
    // LINEARIZED exact-integer form (Arora–Hazan–Kale:
    // w ← w·(1 + η·excess), η = 1 at 1e6 scale), renormalized HALF_UP
    // to Σ ≈ 1e6 each round, 4 unrolled rounds — the link_rank
    // unrolled-exact-integer convention. The one double op per
    // (source, term) is ln of exact-integer ratios floored at 1e6
    // BEFORE aggregation (the dsir_weights discipline); per-domain
    // loss sums and every MWU product route through DECIMAL(38,0)
    // (HUGEINT in the oracle) so nothing wraps Int64 at any corpus
    // size. 100 TB shape: ONE (source, term) tf exchange; both LMs
    // ride distinct-vocab cardinality; the MWU rounds run on the
    // D-row domain frame (D = mixture-config cardinality, bounded)
    // under an unpartitioned window — the winsorize bounded-frame
    // convention.
    Query("domain_reweight", { (s, d) =>
      val tf = Dedup.rebalance(Tables.documents(s, d))
        .select(col("source"),
          explode(TextOps.tokens(lower(col("text")))).as("term"))
        .groupBy(col("source"), col("term")).agg(count(lit(1)).as("tf"))
        .localCheckpoint(true)
      val cc = tf.groupBy(col("term")).agg(sum(col("tf")).as("cc"))
      val totals = cc.agg(sum(col("cc")).as("c_tot"), count(lit(1)).as("v"))
      val dTot = tf.groupBy(col("source")).agg(sum(col("tf")).as("d_tot"))
      val scored = tf.join(cc, "term").join(dTot, "source")
        .crossJoin(broadcast(totals))
        .select(col("source"), col("tf"),
          floor(log((col("cc") + 1).cast("double") /
              (col("c_tot") + col("v")).cast("double")) * 1e6 + 0.5)
            .cast("long").as("lp_g_x1e6"),
          floor(log((col("tf") + 1).cast("double") /
              (col("d_tot") + col("v")).cast("double")) * 1e6 + 0.5)
            .cast("long").as("lp_d_x1e6"))
      val losses = scored.groupBy(col("source"))
        .agg(sum(col("tf")).as("n_tokens"),
          sum(expr("-CAST(tf * lp_g_x1e6 AS DECIMAL(38,0))")).as("ng"),
          sum(expr("-CAST(tf * lp_d_x1e6 AS DECIMAL(38,0))")).as("nd"))
        .selectExpr("source", "n_tokens",
          "CAST((2 * ng + n_tokens) div (2 * n_tokens) AS BIGINT)" +
            " AS loss_global_x1e6",
          "CAST((2 * nd + n_tokens) div (2 * n_tokens) AS BIGINT)" +
            " AS loss_own_x1e6")
        .withColumn("excess_x1e6",
          greatest(col("loss_global_x1e6") - col("loss_own_x1e6"), lit(0L)))
      val all = Window.partitionBy(lit(0))
      var cur = losses
        .withColumn("ndom", count(lit(1)).over(all))
        .withColumn("w", expr("(2 * 1000000 + ndom) div (2 * ndom)"))
      (1 to 4).foreach { _ =>
        cur = cur
          .withColumn("u",
            expr("CAST(w AS DECIMAL(38,0)) * (1000000 + excess_x1e6)"))
          .withColumn("su", sum(col("u")).over(all))
          .withColumn("w",
            expr("CAST((2 * u * 1000000 + su) div (2 * su) AS BIGINT)"))
          .drop("u", "su")
      }
      cur.select(col("source"), col("n_tokens"), col("loss_global_x1e6"),
        col("loss_own_x1e6"), col("excess_x1e6"),
        col("w").as("weight_x1e6"))
    },
      // domain_reweight: global vs own-domain unigram LM losses, excess,
      // and 4 linearized-MWU rounds replayed with HUGEINT intermediates.
      {
        val rounds = (1 to 4).map { r =>
          s"""r$r AS (SELECT * EXCLUDE (w, u, su),
             |          CAST((2 * u * 1000000 + su) // (2 * su) AS BIGINT) AS w
             |        FROM (SELECT *, sum(u) OVER () AS su FROM (
             |          SELECT *, CAST(w AS HUGEINT) * (1000000 + excess_x1e6) AS u
             |          FROM r${r - 1})))""".stripMargin
        }.mkString(",\n")
        s"""WITH toks AS (SELECT source,
           |                unnest(list_transform($ToksSql, t -> lower(t))) AS term
           |              FROM documents),
           |tf AS (SELECT source, term, count(*) AS tf FROM toks GROUP BY 1, 2),
           |cc AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cc FROM tf GROUP BY 1),
           |tot AS (SELECT CAST(sum(cc) AS BIGINT) AS c_tot,
           |               CAST(count(*) AS BIGINT) AS v
           |        FROM cc),
           |dt AS (SELECT source, CAST(sum(tf) AS BIGINT) AS d_tot
           |       FROM tf GROUP BY 1),
           |sc AS (SELECT tf.source, tf.tf,
           |         CAST(floor(ln(CAST(cc.cc + 1 AS DOUBLE) /
           |               CAST(c_tot + v AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
           |           AS lp_g,
           |         CAST(floor(ln(CAST(tf.tf + 1 AS DOUBLE) /
           |               CAST(d_tot + v AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
           |           AS lp_d
           |       FROM tf JOIN cc USING (term) JOIN dt USING (source)
           |       CROSS JOIN tot),
           |ls AS (SELECT source, CAST(sum(tf) AS BIGINT) AS n_tokens,
           |         sum(-CAST(tf * lp_g AS HUGEINT)) AS ng,
           |         sum(-CAST(tf * lp_d AS HUGEINT)) AS nd
           |       FROM sc GROUP BY 1),
           |ex AS (SELECT source, n_tokens,
           |         CAST((2 * ng + n_tokens) // (2 * n_tokens) AS BIGINT)
           |           AS loss_global_x1e6,
           |         CAST((2 * nd + n_tokens) // (2 * n_tokens) AS BIGINT)
           |           AS loss_own_x1e6
           |       FROM ls),
           |r0 AS (SELECT *, CAST((2 * 1000000 + ndom) // (2 * ndom) AS BIGINT)
           |           AS w
           |       FROM (SELECT *,
           |               greatest(loss_global_x1e6 - loss_own_x1e6, 0)
           |                 AS excess_x1e6,
           |               CAST(count(*) OVER () AS BIGINT) AS ndom
           |             FROM ex)),
           |$rounds
           |SELECT source, n_tokens, loss_global_x1e6, loss_own_x1e6,
           |       excess_x1e6, w AS weight_x1e6
           |FROM r4""".stripMargin
      }))
}
