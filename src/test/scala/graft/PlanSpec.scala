package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guards: the physical plans the engine promises
  * (pushdown reaching parquet scans, broadcast joins for dims, no
  * cartesian products) — the `.explain` audits, as assertions.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("pricing_summary pushes the shipdate filter into the parquet scan") {
    val p = plan("pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
  }

  test("pricing_summary prunes to exactly the needed columns") {
    val p = plan("pricing_summary")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_quantity") && readSchema.contains("l_shipdate"))
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_comment"))
  }

  test("dim_join uses broadcast hash joins, not shuffles, for dimensions") {
    val p = plan("dim_join")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("topk_latest plans a TakeOrderedAndProject, not a global sort") {
    val p = plan("topk_latest")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("json_extract scans only event_id and props") {
    val p = plan("json_extract")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("props") && !readSchema.contains("user_id"))
  }

  test("latest_per_key aggregates with max_by — no window sort") {
    val p = plan("latest_per_key")
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"))
    assert(!p.contains("Window"), "should not plan a window operator")
  }

  test("SQL-surface query compiles to the same result as the DataFrame form") {
    val sqlRows = SparkEntry.queries("sql_tumbling_agg")(spark, sf)
      .collect().map(_.toString).sorted
    val dfRows = SparkEntry.queries("tumbling_agg")(spark, sf)
      .collect().map(_.toString).sorted
    assert(sqlRows.sameElements(dfRows))
  }

  test("anomaly_runs: both window functions share ONE sort and shuffle") {
    // lag() and the running sum use the same partitioning/ordering, so
    // the plan pays one Sort and one window Exchange (plus the final
    // aggregate's). The rn(key) − rn(key,flag) textbook form partitions
    // two different ways: 2 sorts, 3 exchanges — the regression guard.
    val p = plan("anomaly_runs")
    def n(tok: String) = p.sliding(tok.length).count(_ == tok)
    assert(n("Sort [") == 1, s"expected one Sort, got ${n("Sort [")}:\n$p")
    assert(n("Exchange hashpartitioning") <= 2,
      s"expected ≤2 shuffles, got ${n("Exchange hashpartitioning")}:\n$p")
  }

  test("rebalance adds no Exchange when input already meets parallelism") {
    val target = spark.sessionState.conf.numShufflePartitions
    val wide = spark.range(0, 1000, 1, target).toDF("id")
    val out = graft.ext.Dedup.rebalance(wide)
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"),
      "rebalance must be a no-op at >= session parallelism")
    val narrow = spark.range(0, 1000, 1, 1).toDF("id")
    val fixed = graft.ext.Dedup.rebalance(narrow)
    assert(fixed.queryExecution.executedPlan.toString.contains("Exchange"),
      "rebalance must widen a single-partition input")
    assert(fixed.rdd.getNumPartitions == target)
  }

  test("minhash signature plan: one kernel eval, no aggregate, no sort") {
    // Round 21: the fused MinhashSigTokens kernel replaced the
    // explode + 32-way min aggregate outright, so the round-8
    // SortAggregate regression this test used to guard is
    // structurally impossible. New invariants: the kernel appears
    // EXACTLY once (a filter on its output would re-evaluate it below
    // the pushed-down predicate — guide §4.4, measured 2×), and the
    // plan carries no aggregate and no sort at all.
    import org.apache.spark.sql.functions.col
    val docs = queries.DedupQueries.withNearDups(Tables.documents(spark, sf))
    val p = graft.ext.Dedup.minhashSignatures(docs, col("doc_id"), col("text"))
      .queryExecution.executedPlan.toString
    assert("minhash_sig_tokens".r.findAllIn(p).length == 1, p)
    assert(!p.contains("Aggregate"), p)
    assert(!p.contains("Sort "), p)
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // The 100 TB shape: fact ⋈ selectively-filtered dim as a shuffle
    // join should semi-join-prune fact rows BEFORE the exchange
    // (Spark's InjectRuntimeFilter — default-on, but gated by size
    // thresholds sized for clusters). Relax the thresholds to prove the
    // plan shape materializes for our join form at test scale; at real
    // scale the defaults fire on their own.
    import org.apache.spark.sql.functions.col
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set(keys(0), "0")
      conf.set(keys(1), "-1") // force a shuffle join; bloom needs one
      val orders = Tables.orders(spark, sf)
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = Tables.lineitem(spark, sf)
        .join(orders, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_quantity"), col("o_orderpriority"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("might_contain"),
        s"expected a bloom-filter semi-join probe on the fact scan side:\n$p")
      assert(joined.count() > 0)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("partitioned lake scans prune partitions dynamically from a dim filter") {
    // K1/K2's payoff at 100 TB: a date-partitioned lake table joined to
    // a selectively-filtered dimension must scan ONLY the partitions the
    // dim's keys reach (Catalyst's dynamic partition pruning — the scan
    // gets a runtime IN-subquery partition filter instead of reading all
    // days). Assert the `dynamicpruning` expression lands in the scan.
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("dpp").toString
    Tables.events(spark, sf)
      .withColumn("day", date_format(timestamp_micros(Tables.tsUs), "yyyy-MM-dd"))
      .write.mode("overwrite").partitionBy("day").parquet(s"$dir/lake")
    // The dim must come off storage (a literal frame constant-folds into
    // a STATIC partition filter — good, but not the runtime path under
    // test) and its filter column must be unknowable at plan time.
    spark.read.parquet(s"$dir/lake").select(col("day")).distinct()
      .withColumn("w", length(col("day")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/dim")
    val dim = spark.read.parquet(s"$dir/dim").filter(col("w") % 97L === 10L)
    val joined = spark.read.parquet(s"$dir/lake")
      .join(dim, "day")
      .groupBy(col("day")).agg(sum(col("value") * col("w")).as("v"))
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning"),
      s"expected a dynamic partition-pruning filter on the lake scan:\n$p")
    assert(joined.count() ==
      spark.read.parquet(s"$dir/lake").select("day").distinct().count())
  }

  test("rank_suite: both window specs share ONE exchange (two sorts)") {
    // wTies and wTotal partition identically (user_id) and differ only
    // in ordering — Catalyst must reuse the hash exchange and pay a
    // second Sort, never a second shuffle.
    val p = plan("rank_suite")
    def n(tok: String) = p.sliding(tok.length).count(_ == tok)
    assert(n("Exchange hashpartitioning") == 1,
      s"expected one shuffle, got ${n("Exchange hashpartitioning")}:\n$p")
    assert(n("Sort [") == 2, s"expected two sorts, got ${n("Sort [")}:\n$p")
  }

  test("range_avg plans a RANGE frame over one exchange + one sort") {
    val p = plan("range_avg")
    def n(tok: String) = p.sliding(tok.length).count(_ == tok)
    assert(p.contains("RangeFrame"), s"expected a RANGE window frame:\n$p")
    assert(n("Exchange hashpartitioning") == 1 && n("Sort [") == 1,
      s"expected 1 exchange + 1 sort:\n$p")
  }

  test("pack_sequences: one shard exchange, one per-shard sort, no global sort") {
    val p = plan("pack_sequences")
    def n(tok: String) = p.sliding(tok.length).count(_ == tok)
    assert(n("Exchange hashpartitioning") == 1,
      s"expected one hash exchange on shard:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"a global sort would serialize the corpus:\n$p")
    assert(n("Sort [") == 1, s"expected one per-shard sort:\n$p")
  }

  test("cube_agg expands grouping sets over broadcast-joined dims") {
    val p = plan("cube_agg")
    assert(p.contains("Expand"), s"CUBE should plan an Expand:\n$p")
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      s"dims must broadcast:\n$p")
  }

  test("contam_check broadcasts the eval shingle set against the train side") {
    val p = plan("contam_check")
    assert(p.contains("BroadcastHashJoin"),
      s"eval set must broadcast — the train side never shuffles text:\n$p")
  }

  test("cust_order_dist: outer join then two shrinking aggregates, no broadcast of the fact") {
    val p = plan("cust_order_dist")
    // left outer on custkey — both sides are unbounded at scale, so a
    // shuffle join (not a broadcast of orders) is the correct plan
    assert(p.contains("LeftOuter"), p)
    // the priority filter pushes to the orders scan
    assert(p.contains("PushedFilters: [IsNotNull(o_orderpriority), Not(EqualTo(o_orderpriority"), p)
  }

  test("small_qty_revenue: one fact scan, brand broadcast, stats from a window not a self-join") {
    val p = plan("small_qty_revenue")
    // the part dimension reaches lineitem as a broadcast
    assert(p.contains("BroadcastHashJoin"), p)
    // the brand predicate pushes into the part scan
    assert(p.contains("EqualTo(p_brand,Brand#1)"), p)
    // the correlated aggregate decorrelates onto the SAME partkey
    // shuffle as the probe rows: exactly one lineitem scan, no
    // sort-merge self-join
    assert(p.linesIterator.count(_.contains("lineitem.parquet")) === 1, p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("Window"), p)
  }

  test("brand_revenue: OR-split residual prunes the part scan before the broadcast") {
    val p = plan("brand_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
    // Catalyst must derive the part-only disjunction
    // (brand₁∧size)∨(brand₂∧size)∨(brand₃∧size) and evaluate it ON THE
    // PART SCAN — only qualifying parts reach the broadcast build side.
    val partScanFilter = p.linesIterator
      .filter(_.contains("p_brand")).mkString("\n")
    assert(partScanFilter.contains("Brand#12") &&
      partScanFilter.contains("Brand#34"), p)
    // and the lineitem-side quantity disjunction survives post-join
    assert(p.contains("l_quantity"), p)
  }

  test("dedup_incremental: corpus side meets the batch only through broadcasts") {
    val p = plan("dedup_incremental")
    // the production contract: the corpus signature table is probed by
    // the broadcast batch (band match + verify), never shuffle-joined
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the only Exchange is the tiny candidate distinct — never keyed by
    // the corpus doc id alone
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.forall(_.contains("batch_doc")),
      s"corpus-keyed exchange leaked:\n${exchanges.mkString("\n")}")
  }

  test("gap_interp scans events once and joins never (lead/sequence shape)") {
    // same contract as gap_fill: raw rows cross exactly one exchange
    // (the bucket aggregate); gap rows are GENERATED from lead()+
    // sequence(), never joined against a dense grid
    val p = plan("gap_interp")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1, p)
    assert(!p.contains("Join"), p)
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 2, p)
  }

  test("fuzzy_match: block sizes broadcast back; no cartesian anywhere") {
    val p = plan("fuzzy_match")
    // the per-block counts (bounded by the key space, not the corpus)
    // come back via broadcast; the candidate join is the (blk, sub)
    // equi-join — a cartesian/BNLJ would mean the blocking broke
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  for (q <- Seq("simjoin_ngram", "containment_join"))
    test(s"$q: equi-joins only, all passes over materialized frames") {
      val p = plan(q)
      // blocking is real: a cartesian/BNLJ would mean the prefix-index
      // equi-join degenerated
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), p)
      // the shingle-set and prefix-index frames are eagerly
      // checkpointed — the final plan reads those materialized blocks,
      // never the parquet source again (0 source re-scans across the
      // df agg, window, candidate and verify consumers)
      assert(p.linesIterator.count(_.contains("Scan parquet")) == 0, p)
      assert(p.contains("ExistingRDD"), p)
    }

  test("classifier_auc: the cumulative window rides the bucket-keyed aggregate") {
    val p = plan("classifier_auc")
    val lines = p.linesIterator.toVector
    val winIdx = lines.indexWhere(_.contains("Window ["))
    assert(winIdx >= 0, p)
    // the window's input subtree (printed below it) must be the
    // bucket-grouped aggregate — ≤ AucBuckets rows by construction —
    // never the raw held-out score frame
    val aggIdx = lines.indexWhere(l =>
      l.contains("HashAggregate(keys=[bucket#") ||
        l.contains("SortAggregate(key=[bucket#"), winIdx)
    assert(aggIdx > winIdx,
      s"no bucket-keyed aggregate feeds the cumulative window:\n$p")
  }

  test("quality_classifier: the NB model reaches scoring via broadcast only") {
    val p = plan("quality_classifier")
    // the capped-vocab weight table and the totals/prior are the
    // MODEL — they must broadcast to the (doc,term) frame, never
    // shuffle it
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("pps_sample: stratum totals broadcast back; the keep test rides the scan") {
    val p = plan("pps_sample")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("phrase_detect: top-50 via TakeOrdered; totals broadcast") {
    val p = plan("phrase_detect")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("contam_expand: BFS over materialized frames, equi-joins only") {
    // seeds/pairs/hop1 are eagerly checkpointed (the eval-shingle
    // broadcast probe runs inside those sub-jobs — same split as the
    // simjoin guards); the final plan must read ONLY the materialized
    // frames and compose them with equi-joins/anti-joins — a
    // cartesian would mean the frontier join degenerated
    val p = plan("contam_expand")
    assert(p.contains("ExistingRDD"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("LeftAnti"), p) // the min-hop set subtraction
  }

  for (q <- Seq("bpe_encode", "ngram_novelty", "char_entropy", "trust_rank",
      "dedup_recall"))
    test(s"$q: equi-joins only — no cartesian anywhere") {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), p)
    }

  test("footer-only aggregates: min/max/count push down to the parquet scan") {
    // With v2 parquet + aggregate pushdown, MIN/MAX/COUNT over a table
    // are answered from row-group footer statistics — zero data pages
    // read. At 100 TB this turns profiling sweeps (profile_table's
    // cheap half) into metadata operations. The engine leaves the
    // session default (v1) alone and opts in per use.
    val conf = spark.conf
    val prevV1 = conf.getOption("spark.sql.sources.useV1SourceList")
    val prevPd = conf.getOption("spark.sql.parquet.aggregatePushdown")
    try {
      conf.set("spark.sql.sources.useV1SourceList", "")
      conf.set("spark.sql.parquet.aggregatePushdown", "true")
      import org.apache.spark.sql.functions.{count, lit, max, min}
      val df = spark.read.parquet(s"$sf/lineitem.parquet")
        .agg(min("l_quantity"), max("l_quantity"), count(lit(1)))
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("PushedAggregation: [MIN(l_quantity), MAX(l_quantity), COUNT(*)]"),
        s"aggregates must reach the scan:\n$p")
      val r = df.head
      assert(r.getLong(2) === 6000L) // sf0.001 lineitem row count
    } finally {
      prevV1.fold(conf.unset("spark.sql.sources.useV1SourceList"))(
        conf.set("spark.sql.sources.useV1SourceList", _))
      prevPd.fold(conf.unset("spark.sql.parquet.aggregatePushdown"))(
        conf.set("spark.sql.parquet.aggregatePushdown", _))
    }
  }

  test("forecast_revenue: all three range predicates reach the parquet scan") {
    val p = plan("forecast_revenue")
    val scan = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(scan.contains("GreaterThanOrEqual(l_shipda"), s"shipdate lower bound:\n$p")
    assert(scan.contains("IsNotNull(l_discount)") && scan.contains("IsNotNull(l_quantity)"),
      s"discount/quantity predicates must push:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_tax"),
      s"scan must prune to the 2 projected + 2 filter columns:\n$readSchema")
  }

  test("returned_customers: returnflag and quarter prune at the scans; top-20 via TakeOrdered") {
    val p = plan("returned_customers")
    assert(p.contains("TakeOrderedAndProject"), s"limit must not plan a global sort:\n$p")
    assert(p.contains("EqualTo(l_returnflag,R)"),
      s"returnflag filter must reach the lineitem scan:\n$p")
    assert(p.contains("LessThan(o_orderdate") || p.contains("LessThan(o_orderdate,1997-10"),
      s"order-date quarter must prune below the join:\n$p")
  }

  test("top_supplier: one lineitem pass; the global max broadcasts back") {
    // The revenue view is eagerly localCheckpoint'ed, so BOTH consumers
    // (argmax filter + its own max) read the materialized ExistingRDD —
    // the executed plan must contain NO lineitem scan (it already
    // happened, once) and the 1-row max must come back as a broadcast.
    val p = plan("top_supplier")
    val lineitemScans = p.linesIterator.count(_.contains("lineitem.parquet"))
    assert(lineitemScans == 0,
      s"the revenue view must be pre-materialized, got $lineitemScans lineitem scans:\n$p")
    assert(p.sliding("Scan ExistingRDD".length).count(_ == "Scan ExistingRDD") == 2,
      s"both consumers must read the checkpointed view:\n$p")
    assert(p.contains("BroadcastExchange"), s"1-row max must broadcast, not shuffle:\n$p")
  }

  test("min_cost_supplier: dims broadcast; correlated min is a window, not a second fact scan") {
    val p = plan("min_cost_supplier")
    // key-specific: the parts join in particular must be the broadcast
    // one (a bare contains() would pass on the nation joins alone)
    assert("BroadcastHashJoin \\[l_partkey".r.findFirstIn(p).isDefined,
      s"filtered parts must broadcast onto the cost frame:\n$p")
    // eurSupp is a JOIN OUTPUT (supplier⋈nation): static size-only
    // stats multiply past the threshold, so pre-AQE it plans ONE
    // SortMergeJoin — AQE converts it at runtime while the frame fits,
    // and at real scale (20% of supplier) SMJ is the honest choice.
    // No hint forces it either way (round-8 de-hint audit).
    assert(p.sliding("SortMergeJoin".length).count(_ == "SortMergeJoin") <= 1,
      s"only the supplier-side join may plan a shuffle join:\n$p")
    assert(p.linesIterator.count(_.contains("lineitem.parquet")) == 1,
      s"exactly one lineitem scan:\n$p")
    assert(p.contains("Window"), s"per-part min must be a window over the offer frame:\n$p")
  }

  test("value_concentration: one pre-materialized per-part view; global threshold broadcasts back") {
    // The supplier broadcast happens inside the localCheckpoint
    // materialization (same convention as top_supplier), so the final
    // plan must show only checkpointed-view consumers — zero lineitem
    // re-scans — and the 1-row (sum, count) arriving by broadcast.
    val p = plan("value_concentration")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the 1-row (sum, count) must broadcast:\n$p")
    assert(p.linesIterator.count(_.contains("lineitem.parquet")) == 0,
      s"per-part view is pre-materialized; no re-scan:\n$p")
    assert(p.sliding("Scan ExistingRDD".length).count(_ == "Scan ExistingRDD") == 2,
      s"both consumers must read the checkpointed view:\n$p")
  }

  test("excess_suppliers: semi-join chain — no row duplication joins, shipdate pushed down") {
    val p = plan("excess_suppliers")
    assert(p.contains("LeftSemi"), s"both qualification levels must be semi-joins:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"),
      s"shipdate range must reach the lineitem scan:\n$p")
    assert(!p.contains("SortMergeJoin"), s"part filter and supplier gate broadcast:\n$p")
  }

  test("substring_dedup: both aggregates partial+final; count join is a hash join") {
    val p = plan("substring_dedup")
    assert(p.contains("partial_count"), s"per-hash count must map-side combine:\n$p")
    assert(p.contains("partial_sum"), s"doc rollup must map-side combine:\n$p")
    assert(p.contains("HashJoin"), s"the count join must hash, not sort:\n$p")
  }

  test("dsir_weights: per-term delta frames broadcast onto the tf frame") {
    val p = plan("dsir_weights")
    assert(p.contains("BroadcastHashJoin"), s"dlp must broadcast onto tf:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no sort join at this scale:\n$p")
  }

  test("link_rank: one nested plan with a map-side-combined agg per iteration") {
    // The rank-state joins legitimately exchange on (id, long) rows —
    // no join-strategy assert; what must hold is that each of the 5
    // unrolled contribution aggregates combines map-side, so shuffle
    // volume per round is bounded by distinct dst, not edges.
    val p = plan("link_rank")
    assert(p.sliding("partial_sum".length).count(_ == "partial_sum") >= 5,
      s"every iteration's contribution agg must map-side combine:\n$p")
  }

  test("pq_topk: LUT and rerank candidates broadcast; candidate cut is a TakeOrdered") {
    val p = plan("pq_topk")
    assert(p.contains("BroadcastHashJoin"), s"LUT/candidate joins must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"nothing here justifies a shuffle join:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"the rerank-candidate cut must be a bounded top-k, not a global sort:\n$p")
  }

  test("product_profit: all dims broadcast; single orderkey shuffle is the only big exchange") {
    val p = plan("product_profit")
    assert(p.sliding("BroadcastHashJoin".length).count(_ == "BroadcastHashJoin") >= 2,
      s"part and supplier⋈nation frames must broadcast:\n$p")
    assert(p.linesIterator.count(_.contains("lineitem.parquet")) == 1,
      s"exactly one lineitem scan:\n$p")
  }

  test("supplier_variety: blacklist is a broadcast anti-join; parts broadcast onto the fact") {
    val p = plan("supplier_variety")
    assert(p.contains("LeftAnti"), s"the exclusion must be an anti-join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"parts and blacklist must broadcast:\n$p")
    val readSchema = p.linesIterator.find(_.contains("lineitem.parquet"))
      .flatMap(_ => p.linesIterator.find(l => l.contains("ReadSchema") && l.contains("l_partkey")))
    assert(readSchema.exists(l => !l.contains("l_extendedprice")),
      s"the fact scan must prune to join keys only:\n$p")
  }

  test("bloom_contam: filter and eval set broadcast — the probe rides the train scan") {
    val p = plan("bloom_contam")
    assert(p.contains("BroadcastHashJoin"),
      s"the exact eval join must broadcast:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the 1-row filter must broadcast, not shuffle:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the train side must never shuffle for either probe:\n$p")
  }

  test("nation_volume: pruned dims broadcast by SIZE (no hint); one orderkey shuffle") {
    val p = plan("nation_volume")
    assert(p.sliding("BroadcastHashJoin".length).count(_ == "BroadcastHashJoin") >= 2,
      s"the 2-nation-pruned supplier and customer must broadcast at this SF:\n$p")
    // lineitem⋈orders is the one fact-fact join: pre-AQE it plans a
    // SortMergeJoin (AQE may convert at runtime); nothing else may.
    assert(p.sliding("SortMergeJoin".length).count(_ == "SortMergeJoin") <= 1,
      s"only lineitem⋈orders may plan a shuffle join at this SF:\n$p")
  }

  test("cms_freq: top-50 cut is a TakeOrdered; the sketch broadcasts onto it") {
    val p = plan("cms_freq")
    assert(p.contains("TakeOrderedAndProject"),
      s"the top-frequency cut must be a bounded top-k, not a global sort:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the 1-row sketch must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"nothing here justifies a shuffle join:\n$p")
  }

  test("unpivot_metrics: the melt is a map-side Expand over the pivot agg") {
    val p = plan("unpivot_metrics")
    assert(p.contains("Expand"),
      s"unpivot must plan an Expand, not a union of per-metric scans:\n$p")
    assert(!p.contains("Join") && !p.contains("Union"),
      s"the round-trip adds no join/union beyond the pivot's own aggregate:\n$p")
  }

  test("autocorr: the aggregate reuses the lag window's partitioning — one exchange") {
    val p = plan("autocorr")
    assert(p.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning") == 1,
      s"groupBy(user_id) must reuse the window's hashpartitioning(user_id):\n$p")
    assert(p.contains("partial_sum"), s"sums must combine map-side:\n$p")
  }

  test("assoc_rules: pairs explode map-side from the basket arrays, no self-join of items") {
    val p = plan("assoc_rules")
    assert(p.contains("Generate explode(slice("),
      s"pair generation must be the array slice-explode, not an items self-join:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the 1-row basket count must broadcast, never cartesian:\n$p")
  }

  test("graph_triangles: wedges close with a LEFT SEMI probe") {
    val p = plan("graph_triangles")
    assert(p.contains("LeftSemi"),
      s"the closing-edge membership test must be a semi join, not inner+distinct:\n$p")
  }

  test("corpus_pipeline: one corpus scan total; every stage derives from the checkpointed seams") {
    val st = graft.ext.CorpusPipeline.build(graft.Tables.documents(spark, sf))
    // The corpus parquet was scanned ONCE — into the checkpointed
    // base during build(). Every stage plan must read checkpoint RDD
    // blocks, never the file again: a "Scan parquet" in any stage
    // means that stage re-derives the corpus from disk.
    for ((name, df) <- Seq(
        "afterQuality" -> st.afterQuality,
        "afterUrlDedup" -> st.afterUrlDedup,
        "afterExactDedup" -> st.afterExactDedup,
        "afterNearDedup" -> st.afterNearDedup,
        "afterDecontam" -> st.afterDecontam,
        "packed" -> st.packed)) {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Scan parquet"),
        s"$name re-scans the corpus parquet instead of the checkpointed seam:\n$p")
    }
    val p = st.packed.queryExecution.executedPlan.toString
    // stage 5-7 shapes: eval shingles + contaminated set + mixture
    // weights all meet the corpus through broadcasts; nothing plans a
    // cartesian
    assert(p.sliding("BroadcastHashJoin".length)
      .count(_ == "BroadcastHashJoin") >= 3,
      s"eval probe, contamination anti-join, and weights must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("corpus_pipeline_incremental: day N never rescans the base corpus; state probes broadcast") {
    val st = graft.ext.CorpusPipeline
      .buildIncrementalStages(graft.Tables.documents(spark, sf))
    // The ONLY parquet scan in the whole day-N run happens inside the
    // day-N−1 build (state construction stands in for reading the
    // prior run's saved tables). Every day-N stage plan must read
    // checkpoint RDD blocks — a "Scan parquet" in any of them would
    // mean day N re-derived the 100 TB base corpus from disk, the
    // exact full-recompute defect this capstone removes.
    for ((name, df) <- Seq(
        "afterUrlDedup" -> st.afterUrlDedup,
        "afterExactDedup" -> st.afterExactDedup,
        "afterNearDedup" -> st.afterNearDedup,
        "afterDecontam" -> st.afterDecontam,
        "retroContam" -> st.retroContam,
        "packed" -> st.packed)) {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Scan parquet"),
        s"$name re-scans the corpus parquet on day N:\n$p")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$name:\n$p")
      // No exchange carries document text: within-increment dedup
      // keys are canon-URL / md5 / id frames, state probes broadcast
      // the increment-bounded key set, packing rides (doc_id,
      // n_tokens). A text#-keyed exchange would mean documents
      // started shuffling by payload.
      val exchanges = p.linesIterator
        .filter(_.contains("Exchange hashpartitioning")).toSeq
      assert(exchanges.forall(l => !l.contains("text#")),
        s"$name shuffles on document text:\n${exchanges.mkString("\n")}")
    }
    // the url/exact-key state probes and the survivor retraction joins
    // are all broadcast-side: the corpus-sized state frames never
    // shuffle (dedup_incremental's contract, applied pipeline-wide)
    for ((name, df) <- Seq("afterUrlDedup" -> st.afterUrlDedup,
        "afterExactDedup" -> st.afterExactDedup)) {
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
        s"$name state probe must broadcast:\n$p")
    }
  }

  test("ks_drift / psi_drift: raw rows collapse in a map-side-combined agg first") {
    // The 1-row midpoint broadcast legitimately plans a BNLJ; what
    // must hold is that the first pass over raw events is a
    // partial+final HashAggregate (the compressed-histogram move) so
    // the window/join tail rides distinct values, not rows.
    for (name <- Seq("ks_drift", "psi_drift")) {
      val p = plan(name)
      assert(p.sliding("partial_sum".length).count(_ == "partial_sum") >= 2,
        s"$name must map-side combine the (key, value) histogram:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name:\n$p")
    }
  }

  test("hits_scores: all six half-round aggregates map-side combine") {
    val p = plan("hits_scores")
    assert(p.sliding("partial_sum".length).count(_ == "partial_sum") >= 6,
      s"each mutual-reinforcement half-round must combine map-side:\n$p")
  }

  test("feature_mi: vocab cut is a TakeOrdered; totals broadcast onto the term frame") {
    val p = plan("feature_mi")
    assert(p.contains("TakeOrderedAndProject"),
      s"the df-vocab and MI cuts must be bounded top-k, not global sorts:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("label_prop: mode selection aggregates (partial max), no per-node window sort") {
    val p = plan("label_prop")
    assert(p.sliding("partial_max".length).count(_ == "partial_max") >= 3,
      s"each round's argmax must be a partial-aggregable struct max:\n$p")
    assert(!p.contains("Window"),
      s"the per-node mode must not plan a window sort:\n$p")
  }

  // ---- round 11 ------------------------------------------------------

  test("winsorize / burst_detect / event_transitions: raw rows collapse before any window") {
    // equidepth_hist_scale's two-level discipline: the ONLY pass over
    // raw events is a partial+final count aggregate; windows then ride
    // the compressed (key, quantum/day) frame. winsorize materializes
    // its histogram at a checkpoint seam (two consumers), so its
    // guard is the seam itself plus no cartesian; burst_detect's
    // single-plan form must show the map-side combine directly.
    // event_transitions' window legitimately runs on raw rows (it
    // NEEDS per-event order) but must not multiply sorts.
    val pw = plan("winsorize")
    assert(pw.contains("Scan ExistingRDD"),
      s"winsorize must read the checkpointed histogram seam:\n$pw")
    assert(!pw.contains("CartesianProduct"), pw)
    val pb = plan("burst_detect")
    assert(pb.sliding("partial_count".length).count(_ == "partial_count") >= 1,
      s"burst_detect must map-side combine the (type, day) frame:\n$pb")
    assert(!pb.contains("CartesianProduct"), pb)
    val pt = plan("event_transitions")
    assert(pt.sliding("Sort ".length).count(_ == "Sort ") <= 2,
      s"one per-user ordered pass (plus at most the agg sort):\n$pt")
    assert(!pt.contains("CartesianProduct"), pt)
  }

  test("funnel_windowed: later stages join USER-sized frames — events never self-join") {
    val p = plan("funnel_windowed")
    // three filtered min-aggs over events; each later-stage join keys
    // on the user frame. No stage may plan a cartesian product, and
    // the per-stage rollups must map-side combine.
    assert(p.sliding("partial_min".length).count(_ == "partial_min") >= 2,
      s"per-stage earliest-anchor mins must combine map-side:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("rag_pipeline: documents chunk once behind the seam; queries broadcast; TopKPerKey cuts") {
    val p = plan("rag_pipeline")
    // The text corpus is chunked ONCE into the checkpointed seam —
    // the serving plan must never re-scan documents.parquet (a scan
    // here would mean a retrieval stage re-derives chunks from raw
    // text); embeddings feed the single parent-vector pass.
    val scans = p.linesIterator.filter(_.contains("Scan parquet")).toSeq
    assert(!scans.exists(_.contains("documents")),
      s"a retrieval stage re-scans the document corpus:\n${scans.mkString("\n")}")
    // per-path candidate cuts are bounded heaps; fusion and the nDCG
    // cells ride per-query top-10 frames joined back by broadcast
    assert(p.contains("TopKPerKey"),
      s"candidate cuts must be bounded heaps:\n$p")
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("hard_negatives: broadcast query frame, bounded TopKPerKey heaps") {
    val p = plan("hard_negatives")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the tiny query frame must broadcast:\n$p")
    assert(p.contains("TopKPerKey") || p.contains("TakeOrdered"),
      s"candidate cuts must be bounded heaps, not global sorts:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // matryoshka_recall checkpoints its shared scoring pass (three
    // consumers) — its final plan only shows the 10-row overlap joins;
    // the no-cartesian guard still applies.
    val pm = plan("matryoshka_recall")
    assert(pm.contains("Scan ExistingRDD"),
      s"matryoshka_recall must reuse the checkpointed scoring pass:\n$pm")
    assert(!pm.contains("CartesianProduct"), pm)
  }

  test("substring_scrub: window rides only removed occurrences; reconstruction joins spans per doc") {
    val p = plan("substring_scrub")
    // the keep rule is one partial+final min-struct agg per hash
    assert(p.sliding("partial_min".length).count(_ == "partial_min") >= 1,
      s"first-occurrence rule must combine map-side:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("kcore_decomp: rounds ride checkpointed survivor frames; no cartesian on data") {
    // each peel round checkpoints its survivor frame, so the final
    // plan reads the last round's seam; the 1-row `unstable` build is
    // a legitimate broadcast cross — a CartesianProduct (non-broadcast)
    // is not.
    val p = plan("kcore_decomp")
    assert(p.contains("Scan ExistingRDD"),
      s"kcore must read the checkpointed survivor/degree seams:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }


  test("CdcCuts cut derivation is one map-side projection on the scan") {
    // The round-14 kernel computes each doc's whole cut array in ONE
    // eval riding the scan; the pre-kernel shape exploded one row per
    // character and reassembled with groupBy+collect_set through an
    // exchange. (The registry query's own plan hides this stage behind
    // its checkpoint seams, so the guard inspects the derivation
    // directly — same frame shape as cdc_chunks' cut stage.)
    import org.apache.spark.sql.functions._
    val p = graft.Tables.documents(spark, sf)
      .filter(length(col("text")) >= 8)
      .select(col("doc_id"),
        graft.ext.expr.CdcCuts.cdcCuts(col("text"), 8, 64L).as("cps"))
      .queryExecution.executedPlan.toString
    assert(p.contains("cdc_cuts"), "CdcCuts kernel missing from plan")
    assert(!p.contains("Exchange") && !p.contains("collect_set") &&
      !p.contains("Generate"),
      s"cut derivation must stay map-side, got:\n$p")
    // the "*(n)" prefix is toString's whole-stage-codegen marker
    assert(p.contains("*(1) Project"), "kernel must inline into codegen")
  }

  test("seasonal_decompose: totals never rescan the corpus; no row-level window") {
    val p = plan("seasonal_decompose")
    def n(tok: String) = p.sliding(tok.length).count(_ == tok)
    // The corpus scan lives behind the ≤24-row checkpoint seam; the
    // visible plan (output + totals re-aggregate) reads NO parquet —
    // a second FileScan here would mean the totals branch re-planned
    // the corpus scan.
    assert(n("FileScan parquet") == 0,
      s"expected zero visible scans, got ${n("FileScan parquet")}:\n$p")
    assert(!p.contains("Window"), s"no window belongs here:\n$p")
  }

  test("mannwhitney_u: the midrank window rides the compressed histogram") {
    val p = plan("mannwhitney_u")
    def n(tok: String) = p.sliding(tok.length).count(_ == tok)
    // scan → (y) hash agg → single-partition window over ≤|distinct
    // centi values| rows → final agg: exactly one events scan and the
    // aggregate exchanges; the Window exists but ONLY above the
    // compressed frame (its child contains the HashAggregate).
    assert(n("FileScan parquet") == 1)
    assert(p.contains("Window"), "midrank window expected")
    val winIdx = p.indexOf("Window")
    assert(p.indexOf("HashAggregate", winIdx) > winIdx,
      s"window must sit above the compressing aggregate:\n$p")
  }

  test("eval metrics plan no gram exchange: clipped overlap is map-side") {
    // Round-20 kernel form: ref and cand live on one row, so the
    // clipped n-gram statistics derive per row (ClippedOverlap) —
    // no gram explode, no gram-keyed count exchange, no clipped join.
    // rouge_n/chrf_eval are per-doc map-side outputs; bleu_corpus adds
    // only its one global partial+final aggregate.
    for (q <- Seq("rouge_n", "chrf_eval", "bleu_corpus")) {
      val p = plan(q)
      def n(tok: String) = p.sliding(tok.length).count(_ == tok)
      assert(n("Exchange hashpartitioning") == 0,
        s"$q: expected zero hash exchanges, got:\n$p")
      assert(!p.contains("Generate explode"),
        s"$q: gram explode reappeared:\n$p")
      assert(p.contains("clipped_overlap"),
        s"$q: kernel missing from plan:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q: no cartesian:\n$p")
    }
  }
}
