package graft.ext

import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard
  * (SURVEY §7.5). Each designed for the 100 TB shape:
  *
  *  - exact: one hash-shuffle on the normalized key; map-side combine
  *    collapses duplicates before the exchange.
  *  - MinHash: signatures via one explode + codegen'd hash aggregate —
  *    zero extra shuffle until the band-bucket self-join, which shuffles
  *    only (doc_id, band) pairs, never text. Candidate verification
  *    compares 32-long signatures, not documents.
  *  - SimHash: one explode + 64-column sum aggregate per doc; Hamming
  *    pairs via bit_count(xor) on 8-byte keys.
  *
  * Hash family: every hash is derived from md5 (`conv(substr(md5(x),
  * 1,15),16,10)` — a uniform 60-bit value) rather than xxhash64, so the
  * whole pipeline is reproducible in any engine with md5 + hex→int
  * (DuckDB: `CAST('0x'||substr(md5(x),1,15) AS BIGINT)`) and the driver
  * gets exact cross-engine oracles for minhash/simhash/groups.
  */
object Dedup {

  /** Oracle-portable 60-bit hash of a string column: the first 15 hex
    * chars of md5, read as an integer. Positive (< 2^60), uniform. */
  def md5Hash60(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** Rebalance a small input across the session's shuffle parallelism
    * before row-exploding derivations: `spark.read` sizes partitions by
    * INPUT BYTES, but the shingle/digest pipelines cost ~tokens × 8 md5
    * per input row — a 600 KB single-file corpus otherwise runs the
    * whole digest stage on one core (observed via thread dump: 2 tasks,
    * one pinned in DigestUtils.md5). No-op whenever the input already
    * meets session parallelism — a 100 TB table arrives with thousands
    * of partitions, so no shuffle is added at scale.
    *
    * The probe reads `queryExecution.toRdd` — NOT `df.rdd`, which wraps
    * the plan in an extra deserializing Dataset and builds a second,
    * never-reused RDD lineage per call. `toRdd` is a lazy val on the
    * SAME QueryExecution, so in the no-op case the partition array
    * computed here is exactly the one reused when the query runs. */
  def rebalance(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sessionState.conf.numShufflePartitions
    if (df.queryExecution.toRdd.getNumPartitions < target) df.repartition(target)
    else df
  }

  /** Exact dedup: canonical row per normalized text. */
  def exact(docs: DataFrame, text: Column, id: Column): DataFrame =
    docs.groupBy(lower(trim(text)).as("norm_text"))
      .agg(min(id).as("keep_doc_id"), count(lit(1)).as("n_copies"))

  val NumHashes = 32
  val RowsPerBand = 4
  val NumBands: Int = NumHashes / RowsPerBand
  // 32 hashes from 8 md5 digests: each digest's 32 hex chars yield four
  // 8-hex (32-bit) hash values. Fixed-width lowercase hex compares
  // lexicographically == numerically, so minima are taken on the raw
  // hex slices (one byte-compare per row) and converted to integers
  // once per doc — not once per shingle.
  private val HexPerHash = 8

  /** MinHash signature as a per-row expression — same family as
    * [[minhashSignatures]].
    *
    * NOTE: higher-order functions are interpreted (CodegenFallback) and
    * the outer lambda re-evaluates `shingleArr` for every k — fine for
    * small arrays / ad-hoc use; the bulk pipeline uses
    * [[minhashSignatures]] (explode + codegen'd hash aggregate) instead. */
  def minhashSignature(shingleArr: Column): Column =
    transform(sequence(lit(0), lit(NumHashes - 1)), k =>
      // digest index = k div 4 as an INTEGER string ("0:".."7:") — a
      // bare (k / 4) is double division whose "0.25:"-style prefixes
      // silently fork the hash family away from [[minhashSignatures]]
      // (caught by the round-11 stream ≡ batch near-dup gate).
      conv(array_min(transform(shingleArr, s =>
        md5(concat(floor(k / 4).cast("string"), lit(":"), s).cast("binary"))
          .substr((k % 4) * HexPerHash + 1, lit(HexPerHash)))), 16, 10)
        .cast("long"))

  /** Bulk MinHash signatures: ONE [[graft.ext.expr.MinhashSigTokens]]
    * kernel call per doc — window bytes stream through a cached
    * MessageDigest with the per-component min folded inside the digest
    * loop (round 21; same hash family as the md5/substr/conv
    * formulation the oracle replicates, DedupSpec-pinned). Replaces
    * the round-20 explode(shingleRows) → per-shingle
    * [[graft.ext.expr.MinhashDigests]] → 32-way min HashAggregate:
    * no per-shingle row materialization, no shingle strings, no
    * aggregate machinery, and the signature rides the scan with ZERO
    * exchange (the old shape shuffled one partial row per doc).
    * Docs with < 3 tokens have no windows and drop, exactly as the
    * explode path emitted no row for them — filtered on the TOKEN
    * COUNT (n ≥ 3 ⇔ windows ≥ 1 ⇔ kernel non-null), never on the
    * kernel output: a filter on the computed sig made Catalyst
    * evaluate the kernel twice, once below the pushed-down null check
    * and once in the projection (guide §4.4 duplication; measured 2×
    * the stage, Scratch A/B 0.73 s → 0.36 s at sf0.1). */
  def minhashSignatures(docs: DataFrame, id: Column, text: Column): DataFrame =
    rebalance(docs)
      .select(id.as("doc"), TextOps.tokens(text).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc"),
        graft.ext.expr.MinhashSigTokens.of(col("toks"), 3).as("sig"))
      // NO repartition(doc) here: restoring the old aggregate's
      // doc-hash output partitioning for the signature-attach joins
      // was tried and measured SLOWER same-session (pairs A/B 1.97 vs
      // 1.64 s, min-of-3) — AQE turns the attach joins' small side
      // into runtime broadcasts, so the partitioning buys nothing and
      // the exchange is pure cost.

  /** One row per word n-gram shingle: (doc, s). posexplode carries the
    * doc's token array alongside each position so the n-gram is
    * assembled with element_at — fully map-side, whole-stage codegen,
    * ZERO shuffle (an earlier lead()-window formulation shuffled and
    * sorted every token by doc; nothing here needs cross-row state).
    * Docs with fewer than n tokens yield no rows. */
  def shingleRows(docs: DataFrame, id: Column, text: Column, n: Int): DataFrame =
    docs.select(id.as("doc"), TextOps.tokens(text).as("toks"))
      .select(col("doc"), col("toks"), posexplode(col("toks")).as(Seq("pos", "w")))
      .filter(col("pos") <= size(col("toks")) - n)
      .select(col("doc"), concat_ws(" ",
        (0 until n).map(k => element_at(col("toks"), col("pos") + k + 1)): _*).as("s"))

  /** LSH band hashes: md5 of each contiguous run of RowsPerBand
    * signature entries (comma-joined decimal strings — the same bytes
    * any engine derives); docs sharing any band hash become candidate
    * pairs. */
  def bandHashes(sig: Column): Column =
    transform(sequence(lit(0), lit(NumBands - 1)), b =>
      md5(array_join(
        transform(slice(sig, b * RowsPerBand + 1, lit(RowsPerBand)),
          x => x.cast("string")), ",").cast("binary")))

  /** Estimated Jaccard from two signatures: fraction of equal entries.
    * Unrolled to 32 static element_at comparisons — array element_at is
    * whole-stage-codegen'd, while the zip_with/aggregate HOF form is
    * interpreted (CodegenFallback) and cost ~6× on the 10× scale
    * probe's ~1M verified candidates (SCALE.md). */
  def estJaccard(sigA: Column, sigB: Column): Column =
    (0 until NumHashes)
      .map(k => when(element_at(sigA, k + 1) === element_at(sigB, k + 1), 1).otherwise(0))
      .reduce(_ + _)
      .cast("double") / NumHashes

  /** Candidate near-dup pairs via MinHash LSH.
    *
    * @param docs (id, text) frame
    * @return (doc_a, doc_b, est_jaccard) with doc_a < doc_b, distinct
    */
  /** Band buckets larger than this are skipped during candidate
    * generation (an m-doc bucket contributes m² join rows — one
    * degenerate bucket of boilerplate-heavy docs can dominate the whole
    * join at corpus scale). True near-dups collide in several of the 8
    * bands, so pairs lost to one over-full bucket are recovered by the
    * others with high probability; the DuckDB oracle applies the SAME
    * cap, so nothing is silently dropped from the correctness contract.
    * Test corpora stay far below the cap (largest sf0.1 bucket ≈ 20). */
  val MaxBandBucket = 10000

  def minhashPairs(docs: DataFrame, id: Column, text: Column, threshold: Double): DataFrame =
    // Signatures are materialized before the self-join so neither join
    // side (nor the verify stage) re-derives them from text. The frame
    // is tiny (id + 32 longs); at 100 TB it would be a persisted
    // signature table refreshed incrementally. Eager localCheckpoint —
    // not persist() — so the blocks are owned by the RDD and freed by
    // the ContextCleaner once the result is consumed (round-1's
    // persist()-and-never-unpersist here leaked into every later query
    // in shared sessions).
    pairsFromSignatures(
      minhashSignatures(docs, id, text).localCheckpoint(true), threshold)

  /** Candidate near-dup pairs from an already-MATERIALIZED signature
    * table (doc, sig) — [[minhashPairs]] minus the signature
    * derivation. Callers that also probe the same signatures elsewhere
    * (CorpusPipeline's day N: within-increment pairs AND the
    * cross-boundary [[incrementalPairs]] probe) compute them ONCE;
    * the caller owns materialization (checkpoint/persisted table) —
    * an unmaterialized lazy frame would re-derive from text on every
    * one of the three reads below. */
  /** Bucket-capped LSH band rows (doc, band, bh) over a signature
    * table — the shared candidate-generation input: every band row
    * whose (band, bh) bucket holds ≤ [[MaxBandBucket]] docs (the
    * degenerate-bucket defense both the self-join and the frontier
    * probe apply identically; the oracle replays the same cap). One
    * (band, bh)-keyed partial agg + a co-partitioned join back. */
  private[graft] def okBandRows(sigs: DataFrame): DataFrame = {
    val bandedAll = sigs
      .select(col("doc"), posexplode(bandHashes(col("sig"))).as(Seq("band", "bh")))
    val okBuckets = bandedAll.groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("__bn"))
      .filter(col("__bn") <= MaxBandBucket)
      .select(col("band"), col("bh"))
    bandedAll.join(okBuckets, Seq("band", "bh"))
  }

  def pairsFromSignatures(sigs: DataFrame, threshold: Double): DataFrame = {
    val base = sigs
    // Candidate generation shuffles only (doc, band, band-hash) — the
    // 32-entry signatures do NOT ride through the self-join (a doc
    // colliding in all 8 bands would ship its signature 8× per
    // partner). Distinct-ing the bare id pairs first also means the
    // Jaccard estimate runs once per unique pair, not once per
    // colliding band.
    val banded = okBandRows(base)
    val cand = banded.select(col("doc").as("doc_a"), col("band"), col("bh"))
      .join(banded.select(col("doc").as("doc_b"), col("band"), col("bh")),
        Seq("band", "bh"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    cand
      .join(base.select(col("doc").as("doc_a"), col("sig").as("sig_a")), Seq("doc_a"))
      .join(base.select(col("doc").as("doc_b"), col("sig").as("sig_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        estJaccard(col("sig_a"), col("sig_b")).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** Incremental near-dup detection — the daily-increment production
    * shape: a small NEW batch probed against the (persisted) corpus
    * signature table, instead of re-running the corpus×corpus
    * self-join every day. The corpus NEVER shuffles: its banded hashes
    * derive map-side and meet the BROADCAST batch band table; verified
    * candidates join their corpus signatures back through a second
    * broadcast. Candidate volume is bounded by |batch| × bucket
    * occupancy, so the C×C quadratic risk minhashPairs caps with
    * MaxBandBucket cannot arise — one side is always the increment.
    * At 100 TB the corpus signature table is persisted output of a
    * prior run (here the caller materializes it) scanned twice,
    * shuffled never.
    *
    * @return (batch_doc, corpus_doc, est_jaccard) — batch docs with a
    *         corpus near-dup at or above `threshold` */
  def incrementalPairs(corpusSigs: DataFrame, batchSigs: DataFrame,
      threshold: Double): DataFrame = {
    val cBand = corpusSigs.select(col("doc").as("corpus_doc"),
      posexplode(bandHashes(col("sig"))).as(Seq("band", "bh")))
    val bBand = batchSigs.select(col("doc").as("batch_doc"),
      posexplode(bandHashes(col("sig"))).as(Seq("band", "bh")))
    val cand = cBand.join(broadcast(bBand), Seq("band", "bh"))
      .select(col("batch_doc"), col("corpus_doc")).distinct()
    val candSig = cand.join(
      batchSigs.select(col("doc").as("batch_doc"), col("sig").as("bsig")),
      Seq("batch_doc"))
    corpusSigs.select(col("doc").as("corpus_doc"), col("sig").as("csig"))
      .join(broadcast(candSig), Seq("corpus_doc"))
      .select(col("batch_doc"), col("corpus_doc"),
        estJaccard(col("bsig"), col("csig")).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** 64-bit SimHash per document from whitespace tokens: per bit j,
    * sign of sum over tokens of ±1 by bit j of the token's md5.
    * Bit j lives in hex nibble j/4 of the digest (16 nibble columns
    * decoded once per token, then 64 codegen'd bit sums in one
    * partial+final HashAggregate); bit columns reassembled with
    * bitwise-or of Scala-constant powers of two. */
  def simhash(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val tokenized = rebalance(docs).select(id.as("doc"),
      explode(TextOps.tokens(text)).as("tok"))
      .withColumn("h64", graft.ext.expr.Md5Prefix64.of(col("tok")))
    // nibble p == hex char p+1 of md5 == bits [4*(15-p), 4*(15-p)+4)
    // of the big-endian 64-bit prefix — pure codegen arithmetic
    val nibbles = tokenized.select(col("doc") +:
      (0 until 16).map(p =>
        shiftrightunsigned(col("h64"), 4 * (15 - p)).bitwiseAND(15)
          .cast("int").as(s"n$p")): _*)
    val bitSums = (0 until 64).map { j =>
      sum(when(shiftright(col(s"n${j / 4}"), j % 4).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"b$j")
    }
    val summed = nibbles.groupBy(col("doc")).agg(bitSums.head, bitSums.tail: _*)
    val sh = (0 until 64).map { j =>
      // 1L << 63 is Long.MinValue — the two's-complement high bit, the
      // same value the oracle adds as (-9223372036854775807 - 1)
      when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    summed.select(col("doc"), sh.as("simhash"))
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Edge count at or below which connected components run as exact
    * union-find on the driver instead of an iterative distributed
    * algorithm. 4M edges is 64 MB of raw (long, long) payload, but the
    * driver-heap bill at the threshold edge is several hundred MB once
    * JVM overhead is counted: the collected Array[Tuple2] (boxed longs,
    * ~48 B/edge), the union-find LongMap over up to 8M nodes (open
    * addressing at ≤½ load ⇒ 16M-slot key+value arrays, ~256 MB), and
    * the LocalRelation built from the label array. Well inside this
    * session's driver heap, and the same budget class as the IVF
    * routing table — but size driver memory accordingly before raising
    * the threshold.
    *
    * CC over LSH candidate pairs is a two-regime problem. The edge set
    * is the OUTPUT of dedup — a tiny fraction of the corpus (sf0.1:
    * 50k docs → ~6k pairs; even 1% pairwise duplication of a 100 TB /
    * 10^11-doc corpus routes to the distributed branch). Below the
    * threshold, an iterative distributed CC is all fixed cost: GraphX
    * Pregel and the DF loop each schedule 15-25 driver-blocking jobs
    * whose task time is microseconds — pure scheduler/barrier latency,
    * and the ONLY queries whose recorded bench time ever inflated
    * 10-30× under load while single-job queries stayed clean
    * (BENCH_r03: 115 s for a 4 s query). Driver union-find is ONE
    * collect job + O(E α(E)) local work — exact, deterministic, immune.
    * Above the threshold, GraphX Pregel (state O(V), co-partitioned
    * per-superstep joins) is the 100 TB branch. DedupSpec holds all
    * three implementations to identical labels on the same graphs. */
  val CoordinatorCCMaxEdges: Long = 4000000L

  /** Exact union-find (path compression; roots merged min-first) over a
    * collected edge list. Attaching the larger root under the smaller
    * makes every root the minimum of its component, so labels are
    * directly (node, min reachable id) — the same contract as the
    * distributed implementations and the DuckDB WITH RECURSIVE oracle. */
  private[ext] def unionFindLabels(edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var root = x
      while (parent.getOrElse(root, root) != root) root = parent(root)
      var cur = x
      while (cur != root) { val next = parent(cur); parent(cur) = root; cur = next }
      root
    }
    edges.foreach { case (x, y) =>
      if (!parent.contains(x)) parent(x) = x
      if (!parent.contains(y)) parent(y) = y
      val rx = find(x); val ry = find(y)
      if (rx < ry) parent(ry) = rx
      else if (ry < rx) parent(rx) = ry
    }
    // Snapshot the key set before the final resolution pass: find()
    // path-compresses (writes into the map) while we iterate. Today's
    // LongMap tolerates value-only updates mid-iteration, but that is
    // an implementation detail, not a contract.
    val nodes = parent.keysIterator.toArray
    nodes.map(n => (n, find(n)))
  }

  private def coordinatorGroups(spark: org.apache.spark.sql.SparkSession,
      edges: Array[(Long, Long)]): DataFrame =
    spark.createDataFrame(unionFindLabels(edges).toIndexedSeq)
      .toDF("node", "group")

  /** Collapse near-dup candidate pairs into dedup groups (connected
    * components). Two regimes (see [[CoordinatorCCMaxEdges]]): at or
    * below the threshold the edge list collects to the driver for exact
    * union-find (one job, no iteration); above it, GraphX
    * `connectedComponents` — Pregel min-label propagation with
    * per-superstep caching and cleanup handled by the library. The
    * Pregel branch is the 100 TB path: each superstep is one co-
    * partitioned join, state is O(vertices), and intermediate blocks are
    * unpersisted as supersteps retire (round 1's hand-rolled DataFrame
    * loop ran two driver-blocking jobs per iteration and pinned every
    * iteration's localCheckpoint — 50 s at sf0.1 on <1 MB of edges).
    *
    * @param pairs (a, b) undirected candidate edges
    * @param coordinatorMaxEdges union-find cutover (0 forces Pregel)
    * @return (node, group) — group = min doc id reachable
    */
  def dedupGroups(pairs: DataFrame, a: Column, b: Column,
      coordinatorMaxEdges: Long = CoordinatorCCMaxEdges): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val p = pairs.select(a.cast("long"), b.cast("long")).as[(Long, Long)]
      .localCheckpoint(true)
    val nEdges = p.count()
    if (nEdges <= coordinatorMaxEdges) return coordinatorGroups(spark, p.collect())
    // Partition the graph by edge volume, not by the session default:
    // Pregel pays per-superstep scheduling for every partition. ~50k
    // edges per partition; a 100 TB corpus' edge set gets the full
    // parallelism.
    val parts = math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong, nEdges / 50000L + 1L)).toInt
    val edgeRdd = p.rdd.map { case (x, y) => Edge(x, y, ()) }.coalesce(parts)
    val graph = Graph.fromEdges(edgeRdd, ())
    val cc = graph.connectedComponents()
    // Materialize the labels, then release every graph-side RDD — the
    // result must not keep Pregel's cached blocks alive in the session.
    val out = spark.createDataFrame(cc.vertices.map { case (n, g) => (n, g) })
      .toDF("node", "group").localCheckpoint(true)
    cc.unpersist(blocking = false)
    graph.unpersist(blocking = false)
    out
  }

  /** Pure-DataFrame connected components (iterative min-label
    * propagation), for engines/sessions without GraphX. Shares the
    * union-find coordinator cutover with [[dedupGroups]] (see
    * [[CoordinatorCCMaxEdges]]); the loop below is the above-threshold
    * branch. One driver-blocking job per iteration: the convergence
    * count runs over the just-persisted update (cache fill and count
    * share the job), and the previous iteration's cache is unpersisted
    * immediately — storage stays O(2 label frames) regardless of
    * iteration count.
    *
    * @param coordinatorMaxEdges union-find cutover (0 forces the loop)
    * @return (node, group); logs a warning if maxIter hit before
    *         convergence (labels would be split groups, never silent)
    */
  def dedupGroupsDF(pairs: DataFrame, a: Column, b: Column, maxIter: Int = 20,
      coordinatorMaxEdges: Long = CoordinatorCCMaxEdges): DataFrame = {
    val p = pairs.select(a.cast("long").as("pa"), b.cast("long").as("pb"))
      .localCheckpoint(true)
    if (p.count() <= coordinatorMaxEdges) {
      val spark = pairs.sparkSession
      import spark.implicits._
      return coordinatorGroups(spark, p.as[(Long, Long)].collect())
    }
    val edges0 = p.select(col("pa").as("src"), col("pb").as("dst"))
      .union(p.select(col("pb").as("src"), col("pa").as("dst")))
      .localCheckpoint(true)
    // Edge-volume-adaptive width (mirrors dedupGroups' GraphX coalesce):
    // iterating a few-thousand-edge graph at full session parallelism is
    // all scheduling overhead — every superstep pays per-task cost on
    // near-empty partitions. Shuffle-free coalesce; the sizing count is
    // a driver action on the just-checkpointed tiny frame (same pattern
    // as dedupGroups). No-op for genuinely large edge sets.
    val nEdges = edges0.count()
    val curParts = edges0.queryExecution.toRdd.getNumPartitions
    val parts = math.max(1L, math.min(curParts.toLong, nEdges / 50000L + 1L)).toInt
    val edges = if (parts < curParts) edges0.coalesce(parts) else edges0
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("group", col("node"))
    var cached: Option[org.apache.spark.rdd.RDD[_]] = None
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val neighborMin = edges
        .join(labels, col("dst") === col("node"))
        .groupBy(col("src"))
        .agg(min(col("group")).as("ngroup"))
      // NOTE: path halving (adopting the label's label via a labels
      // self-join) was tried here and REVERTED: it cut rounds to 3 but
      // added a third join/shuffle stage per round, which cost more in
      // AQE stage latency than the saved rounds returned (7.0 s vs
      // 4.7 s median at sf0.1). On a real cluster with deep chains the
      // trade flips — the GraphX path (dedupGroups) is the scale
      // answer; this loop optimizes for the shallow near-dup graphs it
      // actually serves.
      val updatedPlan = labels.select(col("node"), col("group").as("old"))
        .join(neighborMin, col("node") === col("src"), "left")
        .select(col("node"), col("old"),
          least(col("old"), coalesce(col("ngroup"), col("old"))).as("group"))
      // Truncate the iteration's plan at an RDD boundary. `labels`
      // appears TWICE in updatedPlan (neighbor-min join + left join), so
      // carrying the previous iteration's logical plan forward doubles
      // the analyzed tree per round — analysis/cache-canonicalization
      // cost grows 2^i and a ~12-round (diameter-12) graph stalls the
      // DRIVER, not the executors. Re-rooting on a persisted
      // InternalRow RDD (PlanBridge.rerootPersisted) keeps every
      // round's plan O(1) and caches compact UnsafeRows — no
      // InternalRow→Row→InternalRow round-trip, no deserialized-object
      // storage. Persist-then-count still fills the cache and counts
      // changed labels in the same single action.
      val (updated, rdd) =
        org.apache.spark.sql.graftbridge.PlanBridge.rerootPersisted(updatedPlan)
      val changed = updated.filter(col("group") =!= col("old")).count()
      cached.foreach(_.unpersist(blocking = false))
      cached = Some(rdd)
      labels = updated.select(col("node"), col("group"))
      converged = changed == 0
      i += 1
    }
    if (!converged)
      System.err.println(
        s"[graft] dedupGroupsDF: NOT converged after $maxIter iterations — " +
          "labels may split components; raise maxIter")
    val out = labels.localCheckpoint(true)
    cached.foreach(_.unpersist(blocking = false))
    out
  }

  /** EXACT all-pairs set-similarity join with prefix filtering — the
    * AllPairs/PPJoin shape (Chaudhuri et al. ICDE 2006 prefix-filter
    * lemma; Bayardo et al. WWW 2007): every doc pair whose word-level
    * n-gram Jaccard ≥ thrNum/thrDen, with NO approximation — the exact
    * complement to [[minhashPairs]] (probabilistic recall) for
    * thresholds where certainty matters (legal dedup, eval-set
    * decontamination).
    *
    * Candidate generation: shingles are globally ordered by
    * (df ascending, shingle) — rarest first; each doc indexes only its
    * PREFIX (the first |d| − ceil(t·|d|) + 1 shingles), and two docs
    * are candidates iff their prefixes share a shingle. The lemma
    * guarantees completeness: J(A,B) ≥ t ⇒ |A∩B| ≥ ceil(t·max(|A|,|B|))
    * ⇒ the prefixes intersect. A size filter (den·min ≥ num·max) and
    * pair-distinct run before the verify. All threshold tests are
    * exact integer cross-multiplies (den·|A∩B| ≥ num·|A∪B|, ceil via
    * (num·len + den − 1) div den) — no float boundary anywhere, so
    * both engines agree bit-for-bit on membership.
    *
    * 100 TB shape: the shingle-set frame materializes once (at scale:
    * the persisted signature table) and is the only corpus-sized
    * state; df ranks ride one (doc, shingle) exchange + a per-doc
    * window over the same partitioning; the candidate self-join is
    * keyed by PREFIX shingles, whose buckets are df-bounded from the
    * rare end of the vocabulary — the df-ascending order is the
    * bucket-size defense (a doc's hottest shingles never enter the
    * index). Verify ships shingle arrays only for surviving candidate
    * ids. Lengths ≤ ~2×10⁴ shingles keep every integer product well
    * inside int64.
    */
  def similarityJoin(docs: DataFrame, id: Column, text: Column,
                     thrNum: Int, thrDen: Int, n: Int = 3): DataFrame = {
    val ds = hashedShingleSets(docs, id, text, n)
    val cand = similarityCandidates(ds, thrNum, thrDen)
    verifyJaccard(ds, cand, thrNum, thrDen)
  }

  /** [[similarityJoin]] with the exact intersection/union CARDINALITIES
    * kept on each pair instead of the rounded ratio — the frame a
    * threshold SWEEP re-cuts without re-running the join (any
    * threshold ≥ thrNum/thrDen is `ni·den ≥ nu·num` over this
    * output, exact integers). */
  def similarityJoinCounts(docs: DataFrame, id: Column, text: Column,
                           thrNum: Int, thrDen: Int,
                           n: Int = 3): DataFrame = {
    val ds = hashedShingleSets(docs, id, text, n)
    similarityCandidates(ds, thrNum, thrDen)
      .join(ds.select(col("doc").as("doc_a"), col("sh").as("sh_a"),
        col("len").as("na")), Seq("doc_a"))
      .join(ds.select(col("doc").as("doc_b"), col("sh").as("sh_b"),
        col("len").as("nb")), Seq("doc_b"))
      .withColumn("ni",
        graft.ext.expr.SortedSetOps.intersectCount(col("sh_a"), col("sh_b")))
      .withColumn("nu", col("na") + col("nb") - col("ni"))
      .filter(col("ni") * thrDen >= col("nu") * thrNum)
      .select(col("doc_a"), col("doc_b"), col("ni"), col("nu"))
  }

  /** Candidate pairs (post prefix/size/positional filter, pre-verify)
    * — exposed so SCALE.md's worst-case probes can record candidate
    * volume against true output size (the joins' degradation claim is
    * output-boundedness, which only this count can evidence). */
  private[graft] def similarityCandidates(ds: DataFrame, thrNum: Int,
                                          thrDen: Int): DataFrame = {
    val (_, prefix) = shingleIndex(ds, thrNum, thrDen)
    prefix.select(col("s"), col("doc").as("doc_a"),
        col("len").as("len_a"), col("rn").as("rn_a"))
      .join(prefix.select(col("s"), col("doc").as("doc_b"),
        col("len").as("len_b"), col("rn").as("rn_b")), Seq("s"))
      .filter(col("doc_a") < col("doc_b"))
      // size filter: J ≥ t ⇒ min/max ≥ t, as den·min ≥ num·max
      .filter(least(col("len_a"), col("len_b")) * thrDen >=
        greatest(col("len_a"), col("len_b")) * thrNum)
      // PPJoin positional filter: through a token at (1-based) ranks
      // (rn_a, rn_b) of the df-sorted lists, the overlap can reach at
      // most 1 + min(len_a − rn_a, len_b − rn_b); J ≥ t needs
      // |A∩B| ≥ ceil(t/(1+t)·(|A|+|B|)). A pair survives if ANY shared
      // prefix token leaves that reachable — exact integers again.
      .filter(lit(1) + least(col("len_a") - col("rn_a"),
          col("len_b") - col("rn_b")) >=
        expr(s"($thrNum * (len_a + len_b) + ${thrNum + thrDen - 1}) " +
          s"div ${thrNum + thrDen}"))
      .select(col("doc_a"), col("doc_b")).distinct()
  }

  /** The exact-Jaccard verify over a candidate pair set. */
  private def verifyJaccard(ds: DataFrame, cand: DataFrame, thrNum: Int,
                            thrDen: Int): DataFrame =
    cand
      .join(ds.select(col("doc").as("doc_a"), col("sh").as("sh_a"),
        col("len").as("na")), Seq("doc_a"))
      .join(ds.select(col("doc").as("doc_b"), col("sh").as("sh_b"),
        col("len").as("nb")), Seq("doc_b"))
      .withColumn("ni",
        graft.ext.expr.SortedSetOps.intersectCount(col("sh_a"), col("sh_b")))
      .withColumn("nu", col("na") + col("nb") - col("ni"))
      .filter(col("ni") * thrDen >= col("nu") * thrNum)
      .select(col("doc_a"), col("doc_b"),
        round(col("ni").cast("double") / col("nu"), 4).as("jaccard"))

  /** EXACT containment (overlap-similarity) join — every pair where
    * |A∩B| / min(|A|,|B|) ≥ thrNum/thrDen over the hashed n-gram
    * shingle sets. The asymmetric-size complement to
    * [[similarityJoin]]: a 50-shingle excerpt quoted inside a
    * 5000-shingle document has Jaccard ≈ 0.01 (invisible to any
    * Jaccard threshold) but containment 1.0 — the quote/excerpt
    * detector an eval-decontamination pass needs (contam_check tests
    * 8-gram MEMBERSHIP; this scores pairwise containment).
    *
    * Candidates: the prefix-filter lemma applies to the SMALLER set
    * (C ≥ t ⇒ |A∩B| ≥ ceil(t·|A|) for |A| ≤ |B|), so each doc's
    * rarest-first prefix (p = |d| − ceil(t·|d|) + 1) probes the FULL
    * inverted index, restricted to partners with len ≥ its own — no
    * pair with containment ≥ t can escape (the oracle is brute force,
    * re-proving completeness at every SF). Verify is the exact
    * integer cross-multiply den·|A∩B| ≥ num·min(|A|,|B|).
    *
    * 100 TB shape: same frames as [[similarityJoin]] (one materialized
    * signature table, one prefix slice); the candidate join probes
    * prefix × full-index, so its buckets are df-bounded on the prefix
    * side — a doc's hottest shingles never probe. Output pairs are
    * id-ordered (doc_a < doc_b) with the symmetric min-normalized
    * score, so equal-size pairs emit exactly once.
    */
  def containmentJoin(docs: DataFrame, id: Column, text: Column,
                      thrNum: Int, thrDen: Int, n: Int = 3): DataFrame = {
    val ds = hashedShingleSets(docs, id, text, n)
    val cand = containmentCandidates(ds, thrNum, thrDen)
    cand
      .join(ds.select(col("doc").as("doc_a"), col("sh").as("sh_a"),
        col("len").as("na")), Seq("doc_a"))
      .join(ds.select(col("doc").as("doc_b"), col("sh").as("sh_b"),
        col("len").as("nb")), Seq("doc_b"))
      .withColumn("ni",
        graft.ext.expr.SortedSetOps.intersectCount(col("sh_a"), col("sh_b")))
      .filter(col("ni") * thrDen >= least(col("na"), col("nb")) * thrNum)
      .select(col("doc_a"), col("doc_b"),
        round(col("ni").cast("double") / least(col("na"), col("nb")), 4)
          .as("containment"))
  }

  /** Containment candidate pairs (prefix probing the full index,
    * pre-verify) — see [[similarityCandidates]] for why this is
    * exposed. */
  private[graft] def containmentCandidates(ds: DataFrame, thrNum: Int,
                                           thrDen: Int): DataFrame = {
    val (exploded, rawPrefix) = shingleIndex(ds, thrNum, thrDen)
    val prefix = rawPrefix
      .select(col("s"), col("doc").as("doc_p"), col("len").as("len_p"))
    prefix
      .join(exploded.select(col("s"), col("doc").as("doc_f"),
        col("len").as("len_f")), Seq("s"))
      .filter(col("doc_p") =!= col("doc_f"))
      // the lemma binds the smaller set's prefix; ties probe from the
      // lower id only, so every unordered pair surfaces exactly once
      .filter(col("len_p") < col("len_f") ||
        (col("len_p") === col("len_f") && col("doc_p") < col("doc_f")))
      .select(least(col("doc_p"), col("doc_f")).as("doc_a"),
        greatest(col("doc_p"), col("doc_f")).as("doc_b"))
      .distinct()
  }

  /** (doc, sh: array<long>, len) — distinct 60-bit hashed n-gram
    * shingle sets, the signature table both exact similarity joins
    * read. Hashes come from the ShingleMd5 codegen kernel (one JVM
    * call per doc; bit-identical to md5Hash60 over the joined window,
    * the repo's shared oracle convention) — NOT string arrays. Three
    * wins: no interpreted HOF lambda (the string form re-ran
    * tokenization per element_at, O(len²)/doc — 30 of 39 s at sf0.1,
    * SCALE.md), 8-byte set elements instead of ~25-byte strings
    * through every shuffle, and long equality in the intersects.
    * Set similarity over the hashed sets ≡ over the string sets up to
    * 2⁻⁶⁰ collisions, and both engines hash identically, so every
    * comparison stays exact cross-engine. Eagerly materialized: the
    * frame feeds the index build and both verify sides (at 100 TB it
    * is the persisted signature table). */
  private[graft] def hashedShingleSets(docs: DataFrame, id: Column,
                                       text: Column, n: Int): DataFrame =
    docs
      // round 21: sortDistinct (ascending distinct) instead of
      // array_distinct — same element set; the order buys the verify
      // stage its two-pointer intersect kernel (SortedSetOps). The
      // empty-set drop filters on the TOKEN count (n_toks ≥ n ⇔
      // windows ≥ 1 ⇔ sh non-empty), BEFORE the kernel: a filter on
      // the computed column re-evaluates the kernel below the
      // pushed-down predicate (guide §4.4; measured 2× on the minhash
      // twin of this shape).
      .select(id.as("doc"), TextOps.tokens(text).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc"), graft.ext.expr.SortedSetOps.sortDistinct(
        graft.ext.expr.ShingleMd5.shingleMd5(col("toks"), n)).as("sh"))
      .withColumn("len", size(col("sh")).cast("long"))
      .localCheckpoint(true)

  /** Inverted index over [[hashedShingleSets]] output plus its
    * rarest-first prefix slice at p = |d| − ceil(t·|d|) + 1 (ceil in
    * exact integers so both engines agree). Returns
    * (exploded full index (doc, len, s), prefix (s, doc, len, rn)).
    * The prefix is eagerly materialized — it is consumed by both
    * candidate-join sides (self-join) or by the probe side
    * (containment), and is the only frame those joins touch. */
  private def shingleIndex(ds: DataFrame, thrNum: Int,
                           thrDen: Int): (DataFrame, DataFrame) = {
    val exploded = ds.select(col("doc"), col("len"), explode(col("sh")).as("s"))
    val dfc = exploded.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc")).orderBy(col("df"), col("s"))
    val prefix = exploded.join(dfc, Seq("s"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <=
        col("len") - expr(s"(($thrNum * len + $thrDen - 1) div $thrDen)") + 1)
      .select(col("s"), col("doc"), col("len"), col("rn"))
      .localCheckpoint(true)
    (exploded, prefix)
  }

  /** Exact word-level n-gram Jaccard between paired docs (set
    * semantics: distinct shingles). */
  def ngramJaccard(shinglesA: Column, shinglesB: Column): Column = {
    val inter = size(array_intersect(shinglesA, shinglesB))
    val union = size(array_distinct(concat(shinglesA, shinglesB)))
    round(inter.cast("double") / union, 4)
  }

  /** Clusters larger than this are re-anchor-split before the
    * within-cluster pair join in [[semanticDrops]] — the semantic-dedup
    * analog of [[MaxBandBucket]]. An n-row cluster contributes n²/2
    * candidate pairs, so one over-full cluster (a dense region of
    * embedding space) can dominate the whole join at corpus scale; the
    * split bounds every join bucket at ~cap rows → ≤ cap²/2 pairs.
    * Pairs that land in different sub-clusters of a split cluster are
    * not compared (SemDeDup is approximate by construction — the
    * cluster assignment itself already misses cross-cluster near-dups);
    * the DuckDB oracle applies the SAME deterministic split, so nothing
    * is silently dropped from the correctness contract. Test corpora
    * stay below the cap (largest sf0.1 cluster = 301), so the split is
    * the identity at test SF and engages from ~3× up. */
  val MaxSemCluster = 1000

  /** SemDeDup-style semantic dedup core (Abbas et al. 2023 motivate
    * cluster-then-prune): integer-quantized embeddings → coarse
    * clusters (argmin integer squared-euclidean to `nAnchors`
    * deterministically-chosen anchors — lowest md5 of vec_id; k-means
    * centroids aren't cross-engine-reproducible, hash-sampled anchors
    * are) → within-cluster near-dup pairs (cos ≥ 0.9 as
    * 100·dot² ≥ 81·‖a‖²·‖b‖² with dot > 0 — no float compares) → drop
    * all but the lowest id.
    *
    * 100 TB shape: anchors broadcast (assignment rides the scan);
    * cluster sizes are a tiny agg (≤ nAnchors rows) broadcast back, so
    * the corpus never shuffles before the pair join; oversized clusters
    * re-anchor-split into ceil(n/cap) deterministic sub-clusters
    * (vec_id mod nsplit), so the (cluster, sub) self-join is bounded at
    * ~cap rows per bucket — no quadratic blowup regardless of how
    * embedding mass concentrates.
    *
    * @param corpus (vec_id: long, q: array<long>) — quantized vectors
    */
  def semanticDrops(corpus: DataFrame, nAnchors: Int = 8,
                    cap: Int = MaxSemCluster): DataFrame = {
    val anchors = corpus
      .withColumn("h", md5Hash60(col("vec_id").cast("string")))
      .orderBy(col("h"), col("vec_id")).limit(nAnchors)
      .select(col("vec_id").as("anchor_id"), col("q").as("aq"))
    val assigned = corpus.crossJoin(broadcast(anchors))
      .select(col("vec_id"), col("q"), col("anchor_id"),
        VectorOps.idist2(col("q"), col("aq")).as("d2"))
      .groupBy(col("vec_id"))
      .agg(
        min_by(col("anchor_id"), struct(col("d2"), col("anchor_id")))
          .as("cluster"),
        first(col("q")).as("q"))
      // self-norms once per vector, not three dots per candidate pair
      .withColumn("nrm", VectorOps.idot(col("q"), col("q")))
    // Re-anchor split: per-cluster counts (≤ nAnchors rows) broadcast
    // back; ceil-divide via exact integers so both engines agree.
    val sizes = assigned.groupBy(col("cluster")).agg(count(lit(1)).as("cn"))
    val split = assigned.join(broadcast(sizes), Seq("cluster"))
      .withColumn("sub",
        pmod(col("vec_id"),
          floor((col("cn") + lit(cap - 1).cast("long")) / lit(cap))
            .cast("long")))
      .select(col("cluster"), col("sub"), col("vec_id"), col("q"),
        col("nrm"))
    val a = split.select(col("cluster"), col("sub"), col("vec_id").as("ka"),
      col("q").as("qa"), col("nrm").as("na"))
    val b = split.select(col("cluster"), col("sub"),
      col("vec_id").as("dropped_id"), col("q").as("qb"), col("nrm").as("nb"))
    a.join(b, Seq("cluster", "sub")).filter(col("ka") < col("dropped_id"))
      .select(col("cluster"), col("ka"), col("dropped_id"),
        VectorOps.idot(col("qa"), col("qb")).as("dot"),
        col("na"), col("nb"))
      .filter(col("dot") > 0 &&
        col("dot").cast("decimal(38,0)") * col("dot") * 100 >=
          col("na").cast("decimal(38,0)") * col("nb") * 81)
      .groupBy(col("dropped_id"))
      .agg(min(col("ka")).as("kept_id"),
        count(lit(1)).as("n_similar"),
        min(col("cluster")).as("cluster"))
  }
}
