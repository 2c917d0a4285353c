package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end training-corpus curation pipeline — the COMPOSITION of
  * the individually-gated stages, in the order a real training-data
  * run executes them:
  *
  *   quality filter → URL dedup → exact-text dedup → near dedup
  *   (MinHash LSH → connected components) → decontamination (eval
  *   split out + contaminated train docs dropped) → mixture sampling
  *   → sequence packing
  *
  * Every stage exists elsewhere as its own oracled query
  * (quality_filter, url_dedup, dedup_exact, dedup_corpus,
  * contam_check, mixture_sample, pack_sequences); this module chains
  * the SURVIVOR SETS, which is the one thing the per-stage gates
  * cannot verify — interface drift between stages (a renamed column,
  * a filter applied to the wrong side, an id space collision) only
  * surfaces end-to-end. The final packed table's offsets depend on
  * the exact survivor set per shard, so the full chain hash-gates
  * through `corpus_pipeline`'s DuckDB oracle.
  *
  * 100 TB shape, stage by stage: the corpus parquet is scanned ONCE
  * into the checkpointed base (the bronze seam — each synth branch
  * and stage reads those blocks, never the file again; PlanSpec
  * asserts no stage plan re-scans the source). Quality and the URL
  * canonicalization ride map-side; URL and exact dedup are one
  * hash-shuffle each on their dedup key; the LSH candidate machinery
  * is Dedup.minhashPairs (banded, bucket-capped) with the CC loser
  * set BROADCAST back (the corpus never shuffles for dedup); the
  * contamination probe broadcasts the eval shingle set; mixture
  * weights broadcast; packing is one window over (shard, hash) —
  * nothing corpus-sized crosses an exchange except the two dedup-key
  * shuffles and the packing sort.
  */
object CorpusPipeline {

  /** Stage frames, exposed for plan-level assertions and reuse.
    * `pairs`/`groups` are the near-dup stage's internal artifacts —
    * [[buildIncremental]] persists them as day-N−1 state. */
  final case class Stages(
      base: DataFrame, aug: DataFrame, afterQuality: DataFrame,
      afterUrlDedup: DataFrame, afterExactDedup: DataFrame,
      afterNearDedup: DataFrame, afterDecontam: DataFrame,
      afterMixture: DataFrame, packed: DataFrame,
      pairs: DataFrame, groups: DataFrame)

  /** Build the full pipeline over a documents frame
    * (doc_id, text, source).
    *
    * The planted artifacts (every byte derived from the read-only
    * corpus — the withNearDups/messyUrls convention) give each stage
    * real work at any SF:
    *  - +2e9: 2-token truncations        → quality drops (too_short)
    *  - +5e9: same page, messy URL       → URL dedup drops
    *  - +6e9: same text, distinct URL    → exact-text dedup drops
    *  - +1e9: last-3-tokens-off copies   → near dedup drops
    *  - +7e9: 20-token quotes + filler   → decontamination drops the
    *    ones quoting an EVAL-shard doc (low Jaccard: not near-dups)
    */
  /** The standard plant families over a (doc_id, text, source) frame —
    * shared by [[build]] (whole corpus) and [[buildIncremental]] (the
    * day-N increment): the union over a base/increment id split equals
    * the families over the combined corpus, which is what makes the
    * incremental refresh oracle-equivalent to the full recompute. */
  private[ext] def augment(base: DataFrame): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val short = base.select((col("doc_id") + 2000000000L).as("doc_id"),
      concat_ws(" ", slice(toks, 1, 2)).as("text"), col("source"))
    val exactUrl = base.select((col("doc_id") + 5000000000L).as("doc_id"),
      col("text"), col("source"))
    val exactText = base.select((col("doc_id") + 6000000000L).as("doc_id"),
      col("text"), col("source"))
    val nearDup = base.select((col("doc_id") + 1000000000L).as("doc_id"),
      concat_ws(" ", slice(toks, lit(1), greatest(size(toks) - 3, lit(1))))
        .as("text"), col("source"))
    // Two-step select: the filler tokens must carry the BASE id, and
    // a one-step select would resolve col("doc_id") to the freshly
    // aliased +7e9 column (Spark's lateral column alias precedence).
    val quote = base
      .select(col("doc_id").as("base_id"), col("text"), col("source"))
      .select((col("base_id") + 7000000000L).as("doc_id"),
        concat(concat_ws(" ", slice(toks, 1, 20)), lit(" "),
          concat_ws(" ", transform(sequence(lit(1), lit(20)),
            k => concat(lit("zq"), col("base_id").cast("string"), lit("x"),
              k.cast("string"))))).as("text"), col("source"))
    base.unionByName(short).unionByName(exactUrl)
      .unionByName(exactText).unionByName(nearDup).unionByName(quote)
  }

  /** The synthesized page URL of a doc: plants in [5e9, 6e9) (and the
    * incremental refetch plants in [12e9, 13e9)) carry the SAME
    * logical page as their origin under a messy spelling (SHOUTED
    * scheme/host, www., :80) — normalize collapses them onto it. */
  private[ext] def pageUrl: Column = {
    val messy5 = col("doc_id") >= 5000000000L && col("doc_id") < 6000000000L
    val messy12 = col("doc_id") >= 12000000000L && col("doc_id") < 13000000000L
    val pid = when(messy5, col("doc_id") - 5000000000L)
      .when(messy12, col("doc_id") - 12000000000L)
      .otherwise(col("doc_id"))
    when(messy5 || messy12,
      concat(lit("HTTPS://WWW.Site"), pmod(pid, lit(7L)).cast("string"),
        lit(".COM:80/p/"), pid.cast("string")))
      .otherwise(
        concat(lit("https://site"), pmod(pid, lit(7L)).cast("string"),
          lit(".com/p/"), pid.cast("string")))
  }

  /** Canonical page key (url_dedup's normalization over [[pageUrl]]). */
  private[graft] def pageCanon: Column = UrlOps.normalize(pageUrl)

  def build(docs: DataFrame): Stages = {
    // ONE corpus scan; every branch below reads these blocks.
    val base = docs.select(col("doc_id"), col("text"), col("source"))
      .localCheckpoint(true)
    val aug = augment(base)

    // 1. quality filter (C4-style rule chain, map-side)
    val s1 = aug.filter(QualityFilter.keep(col("text")))

    // 2. URL dedup: canonicalize the synthesized spelling, keep the
    // lowest doc_id per canonical URL — as a min_by AGGREGATE, not a
    // window (round 21, guide §2.3): the window shuffled and SORTED
    // every full text row per partition; min_by partial-aggregates
    // map-side, so co-located duplicates (the plant families derive
    // from the same input blocks) collapse before the exchange.
    // Identical keeper rows (doc_id unique ⇒ no ties; Scratch A/B
    // pinned element-equality at sf0.1, the DuckDB oracle re-proves
    // the survivor set at every SF).
    val s2 = s1.groupBy(pageCanon.as("__canon"))
      .agg(min_by(struct(col("doc_id"), col("text"), col("source")),
        col("doc_id")).as("r"))
      .select(col("r.doc_id"), col("r.text"), col("r.source"))

    // 3. exact-text dedup on the normalized text (same min_by shape,
    // one shuffle on the text key). Checkpointed: feeds the LSH
    // machinery AND the survivor anti-join.
    val s3 = s2.groupBy(lower(trim(col("text"))).as("__t"))
      .agg(min_by(struct(col("doc_id"), col("text"), col("source")),
        col("doc_id")).as("r"))
      .select(col("r.doc_id"), col("r.text"), col("r.source"))
      .localCheckpoint(true)

    // 4. near dedup: LSH pairs → CC → drop non-canonical members.
    // The loser set is CC output (duplicate-count-sized) — broadcast.
    val pairs = Dedup.minhashPairs(s3, col("doc_id"), col("text"),
      threshold = 0.5)
    val groups = Dedup.dedupGroups(pairs, col("doc_a"), col("doc_b"))
    val losers = groups.filter(col("node") =!= col("group"))
      .select(col("node").as("doc_id"))
    val s4 = s3.join(broadcast(losers), Seq("doc_id"), "left_anti")
      .localCheckpoint(true)

    // 5. decontamination: shards [0,2) of 20 are the EVAL split —
    // removed from the training corpus — and any train doc sharing
    // ≥ 20% of its distinct shingles with eval drops too (exact
    // integer test 5·n_contam ≥ n_shingles; the quote plants quoting
    // an eval doc trip exactly this). Eval shingles broadcast.
    val rows = Contamination.shingleShardRows(s4, col("doc_id"), col("text"))
    val evalSh = rows.filter(col("shard") < 2).select(col("sh")).distinct()
    val contaminated = rows.filter(col("shard") >= 2)
      .select(col("doc"), col("sh")).distinct()
      .join(broadcast(evalSh.withColumn("hit", lit(1L))), Seq("sh"), "left")
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_sh"),
        sum(coalesce(col("hit"), lit(0L))).as("n_c"))
      .filter(col("n_c") * 5 >= col("n_sh"))
      .select(col("doc").as("doc_id"))
    val s5 = s4.filter(Sampling.shard(col("doc_id"), 20) >= 2)
      .join(broadcast(contaminated), Seq("doc_id"), "left_anti")

    // 6. mixture sampling: per-source permille derived from the
    // corpus (mixture_sample's convention), weights broadcast,
    // keep test rides the scan.
    val weights = s5.select(col("source")).distinct()
      .select(col("source").as("stratum"),
        ((substring(col("source"), 4, 10).cast("int") % 4 + 1) * 200)
          .as("permille"))
    val s6 = Sampling.mixtureSample(s5, col("doc_id"), col("source"), weights)

    // 7. sequence packing: the artifact a training run consumes.
    val packed = Packing.packOffsets(s6, col("doc_id"),
      size(TextOps.tokens(col("text"))), nShards = 8, seqLen = 256)

    Stages(base, aug, s1, s2, s3, s4, s5, s6, packed, pairs, groups)
  }

  /** Incremental corpus refresh — the PRODUCTION shape [[build]] is
    * the oracle for: day-N−1's curated corpus is a set of PERSISTED
    * state tables (here `localCheckpoint(true)` stands in for the
    * prior run's saved parquet, the `Dedup.incrementalPairs`
    * convention), and day N curates only the INCREMENT against that
    * state. The 100 TB base corpus text is NEVER rescanned and never
    * shuffled — the reference's own defect is its nightly full
    * re-extract (timescale_to_deltalake.py:29-37); this is the
    * mv_refresh argument applied to curation.
    *
    * Split: base = doc_id ≤ ⌊4·max/5⌋ (day N−1), increment = the id
    * tail (day N — later crawl ids). The increment carries its own
    * standard plant families PLUS four cross-boundary "re-fetch"
    * families derived from a 10% slice of the base corpus (what a
    * crawler re-fetching yesterday's pages produces — generated from
    * the base CHECKPOINT as test input, before the pipeline runs):
    *   +8e9  exact re-fetch of a base page's text under a new URL
    *         → dropped by the persisted exact-text key state
    *   +9e9  near-dup of a base doc (last 4 tokens off — distinct
    *         from the base corpus's own +1e9 drop-3 plant)
    *         → dropped by incrementalPairs against the persisted
    *         signature table
    *   +12e9 messy-URL re-fetch of a base page → dropped by the
    *         persisted canonical-URL key state
    *   +13e9 quote of a base doc ('zr' filler, distinct from +7e9's
    *         'zq') → dropped by the persisted eval-shingle state when
    *         the quoted doc is an eval-shard member
    *
    * State probes follow the incrementalPairs discipline: the
    * corpus-sized state table never shuffles — the increment-sized
    * probe side broadcasts against it, and only the (increment-
    * bounded) hit set travels back. Within-increment dedup keys are
    * md5 hashes and keeper-id sets (broadcast semi-joins), so NO
    * exchange in the whole day-N plan carries document text. The one
    * combined-cardinality exchange left is the final packing window
    * over the (doc_id, n_tokens, md5) id-frame — 24 bytes per
    * survivor, never text (offsets are a global order statistic; a
    * survivor-id frame shuffle is the floor for exact offsets).
    *
    * Near-dup CC across the boundary: cross pairs map their base
    * endpoint to its day-N−1 group canonical (persisted `groups`
    * state, probed by the increment-bounded touched set), then one
    * increment-scale CC runs over within-increment + mapped cross
    * edges. This reproduces the full recompute's merged components:
    * every increment member of a mixed group drops (the canonical is
    * a base doc — base ids precede increment ids), and if increment
    * nodes ever BRIDGE two distinct base groups, the non-minimal base
    * canonicals surface in `baseDrops` and are retracted from the
    * day-N survivor state.
    *
    * Retro-contamination IS handled incrementally: increment eval
    * docs add shingles the day-N−1 eval set lacked, and base train
    * survivors sharing enough of them newly cross the 5·n_c ≥ n_sh
    * line (this really happens — the corpus generator reuses sentence
    * material across docs, and the cross quote plants carry base text
    * verbatim into eval shards). The sweep rides two persisted
    * day-N−1 artifacts — the base train (doc, shingle-hash) inverted
    * index and per-doc (n_shingles, n_eval_hits) tallies — probed by
    * the increment-bounded NEW eval shingles; base text is never
    * re-shingled. ONE documented fallback remains (standard IVM): a
    * base EVAL doc retracted by `baseDrops` would also retract eval
    * shingles — a shrinking-eval cascade the incremental path does
    * not chase; the full-recompute oracle gate fails loudly if a
    * corpus ever trips it, which is the signal to run the [[build]]
    * path that day.
    *
    * @return the day-N packed corpus — bit-identical to
    *         `build(base ∪ increment ∪ cross plants).packed`, which
    *         is exactly what the DuckDB oracle recomputes. */
  def buildIncremental(docs: DataFrame): DataFrame =
    buildIncrementalStages(docs).packed

  /** The day-N−1 persisted state tables the incremental pipeline
    * probes — in production these ARE saved parquet tables from the
    * prior nightly run; [[priorState]] stands them up from a full
    * [[build]] over the base split, and [[cachedPriorState]] persists
    * them to parquet once per JVM so repeated day-N runs (the bench's
    * round-robin passes) measure the INCREMENTAL path, not the
    * scaffolding rebuild (VERDICT r12/r13 punch item). */
  final case class PriorState(
      base: DataFrame, urlKeys: DataFrame, textKeys: DataFrame,
      sigs: DataFrame, groups: DataFrame, evalSh: DataFrame,
      shIndex: DataFrame, contamCounts: DataFrame, survivors: DataFrame)

  /** The day-N stage frames, exposed for plan-level assertions (the
    * PlanSpec contract: no stage plan re-scans the corpus parquet —
    * day N reads only checkpointed state + the increment — and no
    * exchange is keyed on document text). `retroContam`/`baseDrops`
    * are the two base-survivor retraction sets. */
  final case class IncStages(
      afterUrlDedup: DataFrame, afterExactDedup: DataFrame,
      afterNearDedup: DataFrame, afterDecontam: DataFrame,
      baseDrops: DataFrame, retroContam: DataFrame, packed: DataFrame)

  // Eager stage checkpoint: each day-N seam is a saved lineage cut.
  private def ckpt(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** Stand up the day-N−1 state from a full [[build]] over the base
    * split (doc_id ≤ ⌊4·max/5⌋). Each localCheckpoint = a saved
    * parquet table in production. */
  def priorState(docs: DataFrame): PriorState = {
    val ids = docs.select(col("doc_id"), col("text"), col("source"))
    val cut = ids.agg((max(col("doc_id")) * 4L).as("m")).head().getLong(0) / 5L
    val prev = build(ids.filter(col("doc_id") <= cut))
    val textKey = md5(lower(trim(col("text"))))
    val urlKeys = prev.afterQuality.select(pageCanon.as("canon"))
      .distinct().localCheckpoint(true)
    val textKeys = prev.afterUrlDedup.select(textKey.as("tk"))
      .distinct().localCheckpoint(true)
    val sigs = Dedup.minhashSignatures(prev.afterExactDedup,
      col("doc_id"), col("text")).localCheckpoint(true)
    val groups = prev.groups.localCheckpoint(true) // (node, group)
    val prevRows = Contamination
      .shingleShardRows(prev.afterNearDedup, col("doc_id"), col("text"))
    val evalSh = prevRows
      .filter(col("shard") < 2).select(col("sh")).distinct()
      .localCheckpoint(true)
    // The retro-contamination state: the base train split's DISTINCT
    // (doc, shingle-hash) inverted index plus each doc's day-N−1
    // (n_shingles, n_eval_hits) tallies. New eval shingles arriving
    // with the increment probe THESE persisted artifacts — the base
    // TEXT is never re-shingled.
    val shIndex = prevRows.filter(col("shard") >= 2)
      .select(col("doc"), col("sh")).distinct().localCheckpoint(true)
    val contamCounts = shIndex
      .join(evalSh.withColumn("hit", lit(1L)), Seq("sh"), "left")
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_sh"),
        sum(coalesce(col("hit"), lit(0L))).as("n_c"))
      .localCheckpoint(true)
    val survivors = prev.afterMixture
      .select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      .localCheckpoint(true)
    PriorState(prev.base, urlKeys, textKeys, sigs, groups, evalSh,
      shIndex, contamCounts, survivors)
  }

  // One state cache per JVM, keyed by the caller-supplied corpus key
  // (the sf dir). Parquet-backed rather than cached/checkpointed
  // blocks: Bench.clearAllState unpersists EVERY persisted RDD
  // between queries, so only a filesystem seam survives the bench's
  // round-robin — and re-reading parquet is precisely the production
  // semantics (day N opens the prior run's saved tables).
  private val stateLock = new Object
  private val stateDirs = scala.collection.mutable.Map.empty[String, String]
  private lazy val stateRoot =
    java.nio.file.Files.createTempDirectory("graft-incstate-").toString

  /** The day-N−1 state, computed at most once per JVM per `key` and
    * persisted to temp parquet; subsequent calls re-open the saved
    * tables. Deterministic — callers get bit-identical state whether
    * they hit the build or the re-read path. */
  def cachedPriorState(docs: DataFrame, key: String): PriorState =
    stateLock.synchronized {
      val spark = docs.sparkSession
      val dir = stateDirs.getOrElseUpdate(key, {
        val d = stateRoot + "/" +
          java.lang.Long.toHexString(key.hashCode.toLong & 0xffffffffL)
        val st = priorState(docs)
        Seq("base" -> st.base, "urlKeys" -> st.urlKeys,
          "textKeys" -> st.textKeys, "sigs" -> st.sigs,
          "groups" -> st.groups, "evalSh" -> st.evalSh,
          "shIndex" -> st.shIndex, "contamCounts" -> st.contamCounts,
          "survivors" -> st.survivors)
          .foreach { case (n, f) =>
            f.write.mode("overwrite").parquet(s"$d/$n") }
        d
      })
      def rd(n: String) = spark.read.parquet(s"$dir/$n")
      PriorState(rd("base"), rd("urlKeys"), rd("textKeys"), rd("sigs"),
        rd("groups"), rd("evalSh"), rd("shIndex"), rd("contamCounts"),
        rd("survivors"))
    }

  def buildIncrementalStages(docs: DataFrame): IncStages =
    buildIncrementalStages(docs, priorState(docs))

  /** The day-N increment topic (test-input construction): the id-tail
    * naturals with their standard plant families PLUS the four
    * cross-boundary re-fetch families derived from a 10% slice of the
    * base — shared with `IncCurateSpec`, which feeds the SAME
    * increment through [[graft.stream.IncCurate]] micro-batches against
    * the same persisted state. */
  private[graft] def dayNIncrement(docs: DataFrame, st: PriorState): DataFrame = {
    val ids = docs.select(col("doc_id"), col("text"), col("source"))
    val cut = ids.agg((max(col("doc_id")) * 4L).as("m")).head().getLong(0) / 5L
    val incNat = ckpt(ids.filter(col("doc_id") > cut))
    val crossSrc = st.base.filter(pmod(col("doc_id"), lit(10L)) === 0)
    val toks = TextOps.tokens(col("text"))
    val crossExact = crossSrc.select(
      (col("doc_id") + 8000000000L).as("doc_id"), col("text"), col("source"))
    val crossNear = crossSrc.select(
      (col("doc_id") + 9000000000L).as("doc_id"),
      concat_ws(" ", slice(toks, lit(1), greatest(size(toks) - 4, lit(1))))
        .as("text"), col("source"))
    val crossUrl = crossSrc.select(
      (col("doc_id") + 12000000000L).as("doc_id"), col("text"), col("source"))
    val crossQuote = crossSrc
      .select(col("doc_id").as("base_id"), col("text"), col("source"))
      .select((col("base_id") + 13000000000L).as("doc_id"),
        concat(concat_ws(" ", slice(toks, 1, 20)), lit(" "),
          concat_ws(" ", transform(sequence(lit(1), lit(20)),
            k => concat(lit("zr"), col("base_id").cast("string"), lit("x"),
              k.cast("string"))))).as("text"), col("source"))
    augment(incNat).unionByName(crossExact)
      .unionByName(crossNear).unionByName(crossUrl).unionByName(crossQuote)
  }

  /** The day-N incremental run against an already-persisted day-N−1
    * state — all text work increment-sized; the base corpus is never
    * rescanned (PlanSpec-asserted). */
  def buildIncrementalStages(docs: DataFrame, st: PriorState): IncStages = {
    val textKey = md5(lower(trim(col("text"))))
    val urlKeyState = st.urlKeys
    val textKeyState = st.textKeys
    val sigState = st.sigs
    val groupState = st.groups
    val evalShState = st.evalSh
    val shIndexState = st.shIndex
    val contamCountState = st.contamCounts
    val survivorState = st.survivors
    val incAug = dayNIncrement(docs, st)

    // ---- the incremental pipeline (all text work increment-sized) --
    // 1. quality: map-side, per-doc.
    val i1 = incAug.filter(QualityFilter.keep(col("text")))

    // 2. URL dedup: within-increment keeper ids via a (canon, id)-only
    // aggregate (text never shuffles), then the state probe — the hit
    // set is increment-bounded, the state table map-side only.
    // Each stage output below is checkpointed (a persisted silver
    // table in production, same as build()'s s3/s4 seams): the keeper
    // and hit sets are broadcast SUBQUERIES of the next stage, and
    // without a materialized seam each broadcast re-derives the whole
    // upstream chain — nested multiplicatively, the deep i3 plan
    // re-ran the augment/quality/regex tree ~9× and its codegen alone
    // cost ~100 s (measured round 12; with the seams: < 1 s).
    val i1c = ckpt(i1.withColumn("__canon", pageCanon))
    val urlKeepIds = i1c.select(col("__canon"), col("doc_id"))
      .groupBy(col("__canon")).agg(min(col("doc_id")).as("doc_id"))
    val urlHits = urlKeyState.join(
      broadcast(i1c.select(col("__canon").as("canon")).distinct()),
      Seq("canon"), "left_semi")
    // i2Pre keeps the join structure visible for plan assertions; the
    // checkpointed i2 is what the next stage actually reads.
    val i2Pre = i1c
      .join(broadcast(urlKeepIds.select(col("doc_id"))), Seq("doc_id"),
        "left_semi")
      .join(broadcast(urlHits.select(col("canon").as("__canon"))),
        Seq("__canon"), "left_anti")
      .drop("__canon")
    val i2 = ckpt(i2Pre)

    // 3. exact-text dedup: same shape on the md5 text key.
    val i2k = i2.withColumn("__tk", textKey)
    val tkKeepIds = i2k.select(col("__tk"), col("doc_id"))
      .groupBy(col("__tk")).agg(min(col("doc_id")).as("doc_id"))
    val tkHits = textKeyState.join(
      broadcast(i2k.select(col("__tk").as("tk")).distinct()),
      Seq("tk"), "left_semi")
    val i3Pre = i2k
      .join(broadcast(tkKeepIds.select(col("doc_id"))), Seq("doc_id"),
        "left_semi")
      .join(broadcast(tkHits.select(col("tk").as("__tk"))), Seq("__tk"),
        "left_anti")
      .drop("__tk")
    val i3 = ckpt(i3Pre)

    // 4. near dedup: within-increment LSH pairs + the cross probe
    // against the persisted signature table, base endpoints mapped to
    // their day-N−1 canonicals, ONE increment-scale CC over both.
    // ONE signature pass over the increment feeds both the
    // within-increment self-join and the cross-boundary state probe
    // (round 14 — previously computed twice, once inside minhashPairs
    // and once for incrementalPairs).
    val incSigs = ckpt(Dedup.minhashSignatures(i3, col("doc_id"), col("text")))
    val incPairs = Dedup.pairsFromSignatures(incSigs, 0.5)
    val crossPairs = ckpt(Dedup.incrementalPairs(sigState, incSigs, 0.5))
    val canonMap = groupState.join(
      broadcast(crossPairs.select(col("corpus_doc").as("node")).distinct()),
      Seq("node"), "left_semi")
    val crossEdges = crossPairs
      .join(broadcast(canonMap),
        crossPairs("corpus_doc") === canonMap("node"), "left")
      .select(col("batch_doc").as("doc_a"),
        coalesce(col("group"), col("corpus_doc")).as("doc_b"))
    val allEdges = incPairs.select(col("doc_a"), col("doc_b"))
      .unionByName(crossEdges)
    val dayGroups = ckpt(Dedup.dedupGroups(allEdges, col("doc_a"), col("doc_b")))
    val incLosers = dayGroups.filter(col("node") =!= col("group"))
      .join(i3.select(col("doc_id").as("node")), Seq("node"), "left_semi")
      .select(col("node").as("doc_id"))
    // base survivors retracted by a cross-boundary transitive merge
    // (empty unless increment nodes bridge two base groups)
    val baseDrops = dayGroups.filter(col("node") =!= col("group"))
      .join(i3.select(col("doc_id").as("node")), Seq("node"), "left_anti")
      .select(col("node").as("doc_id"))
    val i4 = ckpt(i3.join(broadcast(incLosers), Seq("doc_id"), "left_anti"))

    // 5. decontamination: increment eval-shard docs leave the train
    // split and their shingles extend the eval set; increment train
    // docs test against (state ∪ new) eval shingles — the state side
    // probed map-side by the increment-bounded shingle set.
    val incRows = Contamination.shingleShardRows(i4, col("doc_id"),
      col("text"))
    val incEvalSh = incRows.filter(col("shard") < 2).select(col("sh"))
      .distinct()
    val incTrainSh = ckpt(incRows.filter(col("shard") >= 2)
      .select(col("doc"), col("sh")).distinct())
    val evalHits = evalShState.unionByName(incEvalSh)
      .join(broadcast(incTrainSh.select(col("sh")).distinct()),
        Seq("sh"), "left_semi")
      .distinct()
    val contaminated = incTrainSh
      .join(broadcast(evalHits.withColumn("hit", lit(1L))), Seq("sh"), "left")
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_sh"),
        sum(coalesce(col("hit"), lit(0L))).as("n_c"))
      .filter(col("n_c") * 5 >= col("n_sh"))
      .select(col("doc").as("doc_id"))
    val i5 = i4.filter(Sampling.shard(col("doc_id"), 20) >= 2)
      .join(broadcast(contaminated), Seq("doc_id"), "left_anti")

    // RETRO-contamination sweep: increment eval docs (natural tail
    // docs and quote plants alike) add shingles the day-N−1 eval set
    // did not have; base train docs sharing enough of them (the
    // corpus generator reuses sentence material, and cross quotes
    // carry base text verbatim) newly cross the 5·n_c ≥ n_sh line and
    // must retract from the survivor state — the full recompute does
    // exactly this. All against PERSISTED state: the genuinely-new
    // eval shingles (increment-bounded) broadcast against the
    // (doc, sh) index, day-N−1 tallies extend by the new hit counts.
    val presentSh = evalShState
      .join(broadcast(incEvalSh), Seq("sh"), "left_semi")
    val incEvalOnly = incEvalSh
      .join(broadcast(presentSh), Seq("sh"), "left_anti")
    val newHits = shIndexState
      .join(broadcast(incEvalOnly), Seq("sh"), "left_semi")
      .groupBy(col("doc")).agg(count(lit(1)).as("n_new"))
    val retroContam = contamCountState
      .join(broadcast(newHits), Seq("doc"))
      .filter((col("n_c") + col("n_new")) * 5 >= col("n_sh"))
      .select(col("doc").as("doc_id"))

    // 6. mixture: the keep test depends only on (doc_id, the doc's own
    // source permille — a per-name formula), so it decomposes exactly.
    val weights = i5.select(col("source")).distinct()
      .select(col("source").as("stratum"),
        ((substring(col("source"), 4, 10).cast("int") % 4 + 1) * 200)
          .as("permille"))
    val i6 = Sampling.mixtureSample(i5, col("doc_id"), col("source"), weights)

    // 7. packing over the COMBINED survivor id-frame: day-N−1 state
    // (minus any retracted base survivors) ∪ the curated increment —
    // (doc_id, n_tokens) only; offsets are a global order statistic,
    // so this survivor-count-sized exchange is the exact-packing floor.
    val combined = survivorState
      .join(broadcast(baseDrops.unionByName(retroContam)), Seq("doc_id"),
        "left_anti")
      .unionByName(i6.select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens")))
    val packed = Packing.packOffsets(combined, col("doc_id"),
      col("n_tokens"), nShards = 8, seqLen = 256)
    IncStages(i2Pre, i3Pre, i4, i5, baseDrops, retroContam, packed)
  }
}
