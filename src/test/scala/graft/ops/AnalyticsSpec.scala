package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ext.{InvertedIndex, QualityFilter}

/** Round-5 analytics operators: gap fill, trend slope, funnel/cohort
  * logic, inverted index, quality filter — known-answer cases on tiny
  * literal frames (the DuckDB oracle gates the corpus-scale behavior).
  */
class AnalyticsSpec extends SparkSpec {
  import spark.implicits._

  private val H = 3600000000L // 1 hour in micros

  test("gap_fill densifies the grid and forward-fills gaps") {
    // key 1: observations at hours 0, 3 (gap at 1, 2); key 2: single hour.
    val df = Seq(
      (1L, 0L * H + 5L, 10.0), (1L, 0L * H + 6L, 20.0),
      (1L, 3L * H + 1L, 40.0),
      (2L, 7L * H + 2L, 7.5)
    ).toDF("k", "tus", "v")
    val out = GapFill.hourlyFill(df, Seq(col("k")), col("tus"), col("v"), H)
      .orderBy(col("k"), col("bucket_us"))
      .select(col("k"), col("bucket_us"), col("n_events"), col("avg_value"), col("filled_value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]), r.getDouble(4)))

    assert(out === Seq(
      (1L, 0L, 2L, Some(15.0), 15.0),
      (1L, H, 0L, None, 15.0),      // gap: carried forward
      (1L, 2 * H, 0L, None, 15.0),  // gap: still carried
      (1L, 3 * H, 1L, Some(40.0), 40.0),
      (2L, 7 * H, 1L, Some(7.5), 7.5)))
  }

  test("gap_fill plans one scan, no join; raw rows cross one exchange") {
    // the lead/sequence design: the input is scanned once and crosses
    // only the bucket-aggregate exchange (as map-side partials); the
    // second exchange repartitions the collapsed keys×buckets frame for
    // the lead() window. Gap rows are generated, never joined — a
    // grid-and-join formulation shows a second scan of the input and a
    // join here (it did, before this design replaced it).
    val df = Seq((1L, 5L, 1.0)).toDF("k", "tus", "v")
    val plan = GapFill.hourlyFill(df, Seq(col("k")), col("tus"), col("v"), H)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 2, plan)
    assert(!plan.contains("Join"), plan)
    assert("LocalTableScan".r.findAllIn(plan).size === 1, plan)
  }

  test("gap_interp linearly interpolates gap buckets with HALF_UP centi math") {
    // key 1: 10.0 at h0, 40.0 at h3 → gaps at h1/h2 interpolate to
    // 20.0/30.0. keys 2/3: a 1-centi delta over 2 hours forces the
    // half-way case in both directions — HALF_UP is away from zero.
    val df = Seq(
      (1L, 0L * H + 5L, 10.0),
      (1L, 3L * H + 1L, 40.0),
      (2L, 0L * H, 1.00), (2L, 2L * H, 1.01),
      (3L, 0L * H, 1.01), (3L, 2L * H, 1.00)
    ).toDF("k", "tus", "v")
    val out = GapFill.hourlyInterp(df, Seq(col("k")), col("tus"), col("v"), H)
      .orderBy(col("k"), col("bucket_us"))
      .select(col("k"), col("bucket_us"), col("observed"), col("interp_cx"),
        col("interp_value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getLong(3),
        r.getDouble(4)))
    assert(out === Seq(
      (1L, 0L, true, 1000L, 10.0),
      (1L, H, false, 2000L, 20.0),
      (1L, 2 * H, false, 3000L, 30.0),
      (1L, 3 * H, true, 4000L, 40.0),
      (2L, 0L, true, 100L, 1.0),
      (2L, H, false, 101L, 1.01), // +0.5 centi rounds away from zero
      (2L, 2 * H, true, 101L, 1.01),
      (3L, 0L, true, 101L, 1.01),
      (3L, H, false, 100L, 1.0),  // −0.5 centi rounds away from zero
      (3L, 2 * H, true, 100L, 1.0)))
  }

  test("trend slope recovers an exact linear relationship") {
    // y = 3x + 7 exactly → slope 3.0 regardless of x spacing.
    val pts = Seq((1L, 0L), (1L, 2L), (1L, 5L), (1L, 11L))
      .map { case (k, x) => (k, x, 3 * x + 7) }
    val out = Trend.slope(pts.toDF("k", "x", "y"),
      Seq(col("k")), col("x"), col("y")).collect().head
    assert(out.getAs[Double]("slope") === 3.0)
    assert(out.getAs[Long]("n") === 4L)
  }

  test("trend slope is null for degenerate groups") {
    // constant x (den = 0) and single-point groups have no defined slope.
    val df = Seq((1L, 4L, 10L), (1L, 4L, 20L), (2L, 9L, 1L)).toDF("k", "x", "y")
    val rows = Trend.slope(df, Seq(col("k")), col("x"), col("y"))
      .orderBy(col("k")).collect()
    assert(rows.forall(_.isNullAt(rows.head.fieldIndex("slope"))))
  }

  test("trend slope detects a negative drift") {
    val pts = Seq.tabulate(10)(i => (1L, i.toLong, 1000L - 5 * i))
    val out = Trend.slope(pts.toDF("k", "x", "y"),
      Seq(col("k")), col("x"), col("y")).collect().head
    assert(out.getAs[Double]("slope") === -5.0)
  }

  test("first-touch funnel counts respect event ordering") {
    // u1: signup→click→purchase (full funnel); u2: click BEFORE signup
    // (not converted); u3: signup only; u4: no signup at all.
    val e = Seq(
      (1L, 100L, "signup"), (1L, 200L, "click"), (1L, 300L, "purchase"),
      (2L, 100L, "click"), (2L, 200L, "signup"), (2L, 300L, "purchase"),
      (3L, 100L, "signup"),
      (4L, 100L, "view")
    ).toDF("user_id", "tus", "event_type")
    val per = e.groupBy(col("user_id")).agg(
      min(when(col("event_type") === "signup", col("tus"))).as("s"),
      min(when(col("event_type") === "click", col("tus"))).as("c"),
      min(when(col("event_type") === "purchase", col("tus"))).as("p"))
    val out = per.agg(
      count(lit(1)).as("n_users"),
      count(col("s")).as("n_signup"),
      sum(when(col("s") < col("c"), 1L).otherwise(0L)).as("n_click_after"),
      sum(when(col("s") < col("c") && col("c") < col("p"), 1L).otherwise(0L))
        .as("n_purchase_after")).collect().head
    assert((out.getLong(0), out.getLong(1), out.getLong(2), out.getLong(3))
      === ((4L, 3L, 1L, 1L)))
  }

  test("inverted index: exact df, capped deterministic postings") {
    val docs = (1L to 30L).map(i => (i, if (i % 3 == 0) "alpha beta" else "alpha"))
      .toDF("doc_id", "text")
    val out = InvertedIndex.build(docs, col("doc_id"), col("text"), k = 5, minDf = 2L)
      .orderBy(col("term")).collect()
    val byTerm = out.map(r => r.getString(0) -> ((r.getLong(1), r.getString(2)))).toMap
    // alpha appears in all 30 docs — df exact, postings capped to the 5
    // smallest ids.
    assert(byTerm("alpha") === ((30L, "1,2,3,4,5")))
    // beta in every 3rd doc — under the cap, full sorted list.
    assert(byTerm("beta") === ((10L, "3,6,9,12,15")))
  }

  test("inverted index drops sub-minDf terms") {
    val docs = Seq((1L, "rare common"), (2L, "common")).toDF("doc_id", "text")
    val terms = InvertedIndex.build(docs, col("doc_id"), col("text"), k = 5, minDf = 2L)
      .select(col("term")).as[String].collect().toSeq
    assert(terms === Seq("common"))
  }

  test("quality filter rules fire on the right pathologies") {
    val cases = Seq(
      (1L, "a perfectly ordinary sentence with enough words here"), // clean
      (2L, "too few"),                                        // too_short
      (3L, "lots of dots here we go ....................."),  // high_punct
      (4L, "ok ok supercalifragilisticexpialidociousreduplicated ok notenoughwordstofail" +
        " pneumonoultramicroscopicsilicovolcanoconiosis longtokensdominatethemeanlength"),
      (5L, "a b c d e f g h i j"))                            // 1-char words → word_len
    val out = cases.toDF("doc_id", "text")
      .select(col("doc_id"),
        QualityFilter.keep(col("text")).as("keep"),
        QualityFilter.reasons(col("text")).as("reasons"))
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getString(2)))).toMap
    assert(out(1L) === ((true, "")))
    assert(out(2L) === ((false, "too_short")))
    assert(out(3L)._1 === false)
    assert(out(3L)._2.contains("high_punct"))
    assert(out(4L) === ((false, "word_len")))
    assert(out(5L) === ((false, "word_len")))
  }

  test("pointer doubling flattens chains, forests, and depth up to 2^rounds") {
    // chain 1→2→4→8→16 (node→parent), a second root 3 with child 9,
    // and an isolated root 5.
    val edges = Seq(
      (16L, Some(8L)), (8L, Some(4L)), (4L, Some(2L)), (2L, Some(1L)),
      (1L, None), (9L, Some(3L)), (3L, None), (5L, None))
      .toDF("node", "parent")
    val out = Hierarchy.rootAndDepth(edges, rounds = 3) // covers depth ≤ 8
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out === Map(
      16L -> ((1L, 4L)), 8L -> ((1L, 3L)), 4L -> ((1L, 2L)), 2L -> ((1L, 1L)),
      1L -> ((1L, 0L)), 9L -> ((3L, 1L)), 3L -> ((3L, 0L)), 5L -> ((5L, 0L))))
  }

  test("pointer doubling covers a 40-deep chain in 6 rounds") {
    val chain = (1L to 40L).map(i =>
      (i, if (i == 1) None else Some(i - 1))).toDF("node", "parent")
    val out = Hierarchy.rootAndDepth(chain, rounds = 6)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(40L) === ((1L, 39L)))
    assert(out.values.forall(_._1 == 1L))
  }

  test("table_checksum is partition/order-insensitive and change-sensitive") {
    def sum61(rows: Seq[(Long, String)], parts: Int): (Long, Long) = {
      val df = rows.toDF("k", "v").repartition(parts)
      val h = graft.ext.Dedup.md5Hash60(concat_ws("|", col("k"), col("v")))
      val r = df.select(h.as("h"))
        .agg(count(lit(1)).as("n"),
          pmod(sum(col("h").cast("decimal(38,0)")), lit(2305843009213693951L))
            .cast("long").as("c"))
        .head()
      (r.getLong(0), r.getLong(1))
    }
    val rows = (1L to 500L).map(i => (i, s"payload$i"))
    val base = sum61(rows, 1)
    assert(sum61(rows.reverse, 8) === base) // order + layout insensitive
    assert(sum61(rows.updated(3, (4L, "tampered")), 8) !== base)
  }

  test("dangling parent ids surface as roots instead of dropping nodes") {
    // node 3's parent 99 has no row — upstream contract violation; the
    // left hop join must keep node 3 (root=99, depth 1), never lose it.
    val edges = Seq((1L, None), (2L, Some(1L)), (3L, Some(99L)))
      .map { case (n, p) => (n, p) }.toDF("node", "parent")
    val out = Hierarchy.rootAndDepth(edges, rounds = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out.keySet === Set(1L, 2L, 3L))
    assert(out(1L) === ((1L, 0L)))
    assert(out(2L) === ((1L, 1L)))
    assert(out(3L) === ((99L, 1L)))
  }

  test("ewma fold matches hand computation and ignores input partitioning") {
    import org.apache.spark.sql.SparkSession
    // Same shape as the registry query: flatMapSortedGroups = the
    // engine's spillable secondary sort delivers the ordered iterator;
    // the fold itself is streaming O(1) state — no toVector.
    def run(s: SparkSession, parts: Int): Map[Long, Double] = {
      import s.implicits._
      val df = Seq((1L, 10L, 1L, 10.0), (1L, 20L, 2L, 20.0), (1L, 30L, 3L, 30.0),
        (2L, 10L, 4L, 5.0))
        .toDF("user_id", "tus", "event_id", "value").repartition(parts)
      df.as[(Long, Long, Long, Double)]
        .groupByKey(_._1)
        .flatMapSortedGroups(col("tus"), col("event_id")) { (k, it) =>
          var n = 0L; var acc = 0.0
          it.foreach { r => acc = if (n == 0L) r._4 else 0.9 * acc + 0.1 * r._4; n += 1 }
          Iterator.single((k, acc))
        }.collect().toMap
    }
    val one = run(spark, 1)
    // 10 → .9*10+.1*20 = 11 → .9*11+.1*30 = 12.9
    assert(math.abs(one(1L) - 12.9) < 1e-12)
    assert(one(2L) === 5.0) // single reading: the fold is its identity
    assert(run(spark, 8) === one) // sort inside the engine, not the shuffle
  }

  test("ewma plan sorts within partitions — no per-key materialization") {
    // The registry query must get its order from the engine's external
    // (spillable) sort, visible as a SortExec below the group-map node
    // — the scale-safe contract: a hot key with billions of events
    // streams through the fold instead of materializing a Vector.
    val plan = graft.queries.AnalyticsQueries
      .queries("ewma")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Sort ["), s"expected a SortExec in:\n$plan")
    assert(plan.toLowerCase.contains("tus"), s"sort keys missing tus:\n$plan")
  }

  test("equidepth_hist_scale sorts only the compressed histogram, and bins evenly") {
    val df = graft.queries.AnalyticsQueries.queries("equidepth_hist_scale")(spark, sf)
    // scale contract: NO sort over raw rows — the one Sort sits above
    // the quantizing HashAggregate, so it orders (type, quantum)
    // histogram rows whose cardinality is flat in table size. In the
    // printed tree, a node's inputs are the LATER lines (AQE wraps the
    // plan, so string assertions instead of collect()).
    val lines = df.queryExecution.executedPlan.toString.linesIterator.toVector
    val sortIdx = lines.indexWhere(_.contains("Sort ["))
    assert(sortIdx >= 0, s"expected the histogram sort in:\n${lines.mkString("\n")}")
    assert(lines(sortIdx).contains("q#"),
      s"sort key should be the quantum, got:\n${lines(sortIdx)}")
    assert(lines.drop(sortIdx).exists(l =>
      l.contains("HashAggregate") && l.contains("count")),
      "the quantizing aggregate must sit BELOW the sort")
    // and no raw-row total ordering anywhere (the exact form's
    // (value, event_id) ntile sort would reference event_id)
    assert(!lines.exists(_.contains("event_id")),
      "raw-row total-order sort leaked into the scale plan")
    // and the bins are genuinely equi-depth-ish: per type, every
    // decile holds > 0 rows and the largest/smallest bin ratio stays
    // small on the gaussian test data (quantization can only move a
    // single quantum's worth of rows across a boundary).
    val rows = df.collect()
    val byType = rows.groupBy(_.getString(0))
    byType.foreach { case (_, bins) =>
      assert(bins.length === 10)
      val ns = bins.map(_.getAs[Long]("n"))
      assert(ns.min > 0)
      assert(ns.max.toDouble / ns.min <= 2.0,
        s"very skewed bins: ${ns.mkString(",")}")
    }
  }

  test("incremental MV refresh equals full recompute on any split") {
    val rows = Seq(
      (1L, "a", 10.0), (1L, "a", 20.0), (1L, "b", 5.0),
      (2L, "a", 7.0), (2L, "a", 1.0), (2L, "b", 100.0), (2L, "b", 2.5))
    val df = rows.toDF("day", "typ", "value")
    val keys = Seq("day", "typ")
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.select(col("day"), col("typ"), col("n"),
        col("sum_v").cast("double"), col("min_v"), col("max_v"))
        .collect().map(_.toSeq).sortBy(_.toString)
    val full = Incremental.partials(df, keys, "value")
    for (splitAt <- Seq(0, 3, 7)) { // empty-history, mid, empty-increment
      val (a, b) = rows.splitAt(splitAt)
      val merged = Incremental.merge(
        Incremental.partials(a.toDF("day", "typ", "value"), keys, "value"),
        Incremental.partials(b.toDF("day", "typ", "value"), keys, "value"),
        keys)
      assert(canon(merged) === canon(full), s"split at $splitAt diverged")
    }
  }

  test("hll daily sketches union to near-exact distinct counts") {
    // sketch per (key, day) then union per key must track the exact
    // distinct count across days (HLL++ error ~1.6% at default lgK;
    // assert 5%) — users deliberately overlap across days so the union
    // must dedup, not add.
    val rows = for {
      day <- 0 until 5; u <- 0 until (100 + 10 * day)
    } yield (day.toLong, u.toLong)
    val df = rows.toDF("day", "user_id")
    val daily = df.groupBy(col("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val est = daily.agg(
      hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      .collect().head.getLong(0)
    val exact = rows.map(_._2).distinct.size // = 140
    assert(math.abs(est - exact) <= exact * 0.05, s"est $est vs exact $exact")
  }

  test("approx percentiles land inside their ±2% rank brackets") {
    // The registry query embeds the bound (approx pct between the
    // exact percentiles at p∓0.02) as boolean cells the DuckDB oracle
    // asserts TRUE — the same cells are asserted here on the live
    // corpus, so a sketch regression fails both gates.
    val rows = graft.SparkEntry.queries("approx_quantiles")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    for (r <- rows; c <- Seq("p25_ok", "p50_ok", "p90_ok"))
      assert(r.getAs[Boolean](c), s"${r.getString(0)} $c")
  }

  test("quality filter reasons list multiple failures in rule order") {
    // one glued mega-token: under 5 words AND mean length over 15.
    val out = Seq((1L, "aglueddocumentwithallwhitespaceremoved"))
      .toDF("doc_id", "text")
      .select(QualityFilter.keep(col("text")).as("keep"),
        QualityFilter.reasons(col("text")).as("reasons"))
      .collect().head
    assert(out.getBoolean(0) === false)
    assert(out.getString(1) === "too_short,word_len")
  }

  test("delta-join IVM: four quadrants reproduce the full join exactly") {
    // hand-built fact/dim with deltas on BOTH sides, including the
    // awkward quadrant (old fact row joining a NEW dim row).
    val fact = Seq((1L, 10.0, 1), (1L, 20.0, 1), (2L, 5.0, 1),
      (2L, 7.0, 2), (3L, 9.0, 2)).toDF("k", "v", "epoch")
    val dim = Seq((1L, "a", 1), (2L, "b", 2), (3L, "c", 2))
      .toDF("k", "grp", "depoch")
    def joined(f: org.apache.spark.sql.DataFrame,
        d: org.apache.spark.sql.DataFrame) =
      Incremental.partials(f.join(d, "k"), Seq("grp"), "v")
    val standing = joined(fact.filter(col("epoch") === 1),
      dim.filter(col("depoch") === 1))
    val refreshed = Incremental.deltaJoinTerms(
        fact.filter(col("epoch") === 1), fact.filter(col("epoch") === 2),
        dim.filter(col("depoch") === 1), dim.filter(col("depoch") === 2),
        joined)
      .foldLeft(standing)(Incremental.merge(_, _, Seq("grp")))
    val full = joined(fact, dim)
    val norm = (df: org.apache.spark.sql.DataFrame) => df
      .select(col("grp"), col("n"), col("sum_v").cast("string"))
      .collect().map(_.toString).sorted.toSeq
    assert(norm(refreshed) == norm(full),
      "incremental refresh must be indistinguishable from the full join")
    // the b-group proves the old-fact⋈new-dim quadrant contributed:
    // fact rows (2, 5.0) epoch 1 and (2, 7.0) epoch 2 join dim k=2
    // which only exists in the NEW dim delta.
    assert(norm(full).exists(_.contains("b")), "quadrant coverage")
  }

  test("autocorr matches a driver-side recompute bit-for-bit") {
    // Independent code path: collect the raw events, sort and fold in
    // plain Scala, evaluate the SAME fixed IEEE-double tree — the
    // query's unrounded r_lag1 must agree to the last bit.
    val out = graft.queries.AnalyticsQueries.queries("autocorr")(spark, sf)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6),
        if (r.isNullAt(7)) None else Some(r.getDouble(7))))).toMap
    val raw = graft.Tables.events(spark, sf)
      .select(col("user_id"), expr("ts div 1000").as("tus"),
        col("event_id"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val expected = raw.groupBy(_._1).flatMap { case (u, rows) =>
      val ys = rows.sortBy(r => (r._2, r._3))
        .map(r => math.floor(r._4 * 100 + 0.5).toLong)
      val pairs = ys.zip(ys.drop(1))
      if (pairs.isEmpty) None
      else {
        val n = pairs.length.toLong
        val sx = pairs.map(_._1).sum; val sy = pairs.map(_._2).sum
        val sxy = pairs.map(p => p._1 * p._2).sum
        val sxx = pairs.map(p => p._1 * p._1).sum
        val syy = pairs.map(p => p._2 * p._2).sum
        val num = n.toDouble * sxy.toDouble - sx.toDouble * sy.toDouble
        val den1 = n.toDouble * sxx.toDouble - sx.toDouble * sx.toDouble
        val den2 = n.toDouble * syy.toDouble - sy.toDouble * sy.toDouble
        val r = if (den1 > 0 && den2 > 0)
          Some(num / math.sqrt(den1 * den2)) else None
        Some(u -> ((n, sx, sy, sxy, sxx, syy, r)))
      }
    }
    assert(out === expected)
    assert(out.values.forall(_._7.forall(r => r >= -1.0 && r <= 1.0)),
      "Pearson r stays in [-1, 1]")
  }

  test("assoc_rules matches a brute-force driver recompute") {
    val out = graft.queries.AnalyticsQueries.queries("assoc_rules")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    val li = graft.Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val baskets = li.distinct.groupBy(_._1).values
      .map(_.map(_._2).toSet)
      .filter(s => s.size >= 2 &&
        s.size <= graft.queries.BusinessQueries.MaxBasketItems)
      .toSeq
    val nB = baskets.size.toLong
    val ic = baskets.flatten.groupBy(identity).map { case (i, xs) =>
      i -> xs.size.toLong }
    val pc = scala.collection.mutable.Map.empty[(Long, Long), Long]
      .withDefaultValue(0L)
    for (b <- baskets; s = b.toSeq.sorted;
         i <- s.indices; j <- (i + 1) until s.size)
      pc((s(i), s(j))) += 1
    val expected = pc.toMap.collect { case ((a, b), nab) if nab >= 2 =>
      val (na, nb) = (ic(a), ic(b))
      // Long / on non-negatives truncates exactly like `div` and `//`
      (a, b) -> ((nab, na, nb,
        nab * 1000000L / na, nab * nB * 1000000L / (na * nb)))
    }
    assert(out === expected)
    assert(out.nonEmpty, "sf0.001 has co-occurring pairs with support >= 2")
  }

  test("unpivot_metrics is the exact melt of pivot_events' counts") {
    val melted = graft.queries.ParityQueries.queries("unpivot_metrics")(
      spark, sf)
    val users = graft.Tables.events(spark, sf)
      .select("user_id").distinct().count()
    assert(melted.count() == 5L * users,
      "every user melts to exactly one row per metric")
    // folding the long form back (sum over metrics) recovers each
    // user's total event count — the reshape lost nothing.
    val totals = melted.groupBy(col("user_id"))
      .agg(sum(col("n")).as("total"))
    val direct = graft.Tables.events(spark, sf)
      .groupBy(col("user_id")).agg(count(lit(1)).as("total"))
    assert(totals.except(direct).isEmpty && direct.except(totals).isEmpty)
  }
}
