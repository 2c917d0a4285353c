package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SkewRetentionSpec extends SparkSpec {
  import spark.implicits._

  test("salted aggregation equals the direct aggregation (skew path)") {
    val df = graft.Tables.events(spark, sf)
    val directRows = df.groupBy(col("event_type"))
      .agg(round(avg(col("value")), 4).as("avg_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"),
        count(lit(1)).as("count_readings"))
      .collect()
    val direct = directRows.map(r => r.getString(0) ->
      ((r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))).toMap
    assert(directRows.length == direct.size, "one direct row per key")
    val saltedRows = Skew.saltedStandardAggs(df, Seq(col("event_type")), col("value"))
      .collect()
    val salted = saltedRows.map(r => r.getString(0) ->
      ((r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))).toMap
    assert(saltedRows.length == salted.size, "one row per key after the salt merge")
    assert(salted.keySet == direct.keySet)
    salted.foreach { case (k, (a, mn, mx, c)) =>
      val (da, dmn, dmx, dc) = direct(k)
      assert(c == dc && mn == dmn && mx == dmx, s"key $k")
      assert(math.abs(a - da) <= 0.0001, s"avg for $k: $a vs $da")
    }
  }

  test("salted join equals the direct join on a skewed key distribution") {
    // a deliberately skewed fact side: 90% of rows share one key
    val facts = spark.range(10000).selectExpr(
      "CASE WHEN id % 10 < 9 THEN 0 ELSE id % 50 END AS k", "id AS payload")
    val build = spark.range(50).selectExpr("id AS k", "concat('dim', id) AS name")
    val direct = facts.join(build, Seq("k"))
      .selectExpr("k", "payload", "name")
    val salted = Skew.saltedJoin(facts, build, "k")
      .selectExpr("k", "payload", "name")
    assert(salted.count() == direct.count())
    assert(salted.exceptAll(direct).isEmpty && direct.exceptAll(salted).isEmpty)
  }

  test("AQE splits a skewed join partition at runtime (skew=true) — no manual salting") {
    // The built-in complement to Skew.saltedJoin: with adaptive
    // skew-join handling on, a sort-merge join whose hot key dwarfs
    // the advisory partition size is split AT RUNTIME — the final
    // adaptive plan marks the join `skew=true`. Thresholds are lowered
    // so a test-sized hot key (90% of 40k rows on one key, padded
    // payloads) crosses them; production keeps the defaults.
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      // md5-derived payload: shuffle map sizes are COMPRESSED bytes, so
      // a constant pad would deflate below the skew threshold
      val facts = spark.range(40000).selectExpr(
        "CASE WHEN id % 10 < 9 THEN 0 ELSE id % 50 END AS k",
        "repeat(md5(CAST(id AS STRING)), 4) AS payload")
      val build = spark.range(50).selectExpr("id AS k", "concat('dim', id) AS name")
      val joined = facts.join(build, Seq("k"))
      // execute THIS Dataset (count() would build a different,
      // payload-pruned QueryExecution) so its adaptive plan finalizes
      // with the padded payload crossing the shuffle
      assert(joined.collect().length == 40000)
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"AQE must mark the hot partition's join skew=true:\n$p")
      // metric-level proof (not just the plan marker): the final
      // adaptive plan's shuffle reads report how many partitions were
      // detected skewed and how many splits they fanned into
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}
      val finalPlan = joined.queryExecution.executedPlan.collectFirst {
        case a: AdaptiveSparkPlanExec => a.executedPlan
      }.getOrElse(joined.queryExecution.executedPlan)
      // query stages are leaf wrappers — recurse through their plans
      def collectReads(p: SparkPlan): Seq[AQEShuffleReadExec] = p.collect {
        case r: AQEShuffleReadExec => Seq(r)
        case q: QueryStageExec => collectReads(q.plan)
      }.flatten
      val reads = collectReads(finalPlan)
      assert(reads.nonEmpty, s"expected AQEShuffleRead nodes:\n$finalPlan")
      def m(name: String): Long =
        reads.flatMap(_.metrics.get(name).map(_.value)).sum
      val (skewed, splits) = (m("numSkewedPartitions"), m("numSkewedSplits"))
      assert(skewed >= 1, s"numSkewedPartitions=$skewed:\n$finalPlan")
      assert(splits > skewed,
        s"a skewed partition must fan out into >1 split " +
          s"(numSkewedSplits=$splits, numSkewedPartitions=$skewed)")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("approx_count_distinct is within its error bound of exact") {
    val e = graft.Tables.events(spark, sf)
    val exact = e.agg(countDistinct(col("user_id"))).as[Long].head()
    val approx = e.agg(approx_count_distinct(col("user_id"))).as[Long].head()
    assert(math.abs(approx - exact).toDouble / exact < 0.1,
      s"approx $approx vs exact $exact")
  }

  test("parquet source streams new files incrementally (A2 stream path)") {
    val dir = Files.createTempDirectory("graft-psrc").toString
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$dir/t")
    val src = graft.io.ParquetSource(s"$dir/t")
    val name = s"psrc${System.nanoTime()}"
    val q = src.readStream(spark).writeStream
      .outputMode("append").format("memory").queryName(name)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.table(name).count() == 1)
    assert(src.probe(spark))
    assert(!graft.io.ParquetSource("/nonexistent/nope").probe(spark))
  }

  test("partition-drop retention removes only expired day directories (K3)") {
    val dir = Files.createTempDirectory("graft-ret").toString
    val rows = Seq(
      ("2025-01-01T00:00:00", 1.0), ("2025-01-02T00:00:00", 2.0),
      ("2025-02-01T00:00:00", 3.0))
      .toDF("iso", "value")
      .withColumn("timestamp", to_timestamp_ntz(regexp_replace(col("iso"), "T", " ")))
      .drop("iso")
    val sink = graft.io.LakeSink(s"$dir/lake")
    sink.write(Ingest.withDateParts(rows, col("timestamp")))
    assert(sink.read(spark).count() == 3)

    val dropped = Retention.dropExpiredPartitions(
      s"$dir/lake", java.time.LocalDate.of(2025, 1, 15))
    assert(dropped == 2) // both January days expired
    assert(sink.read(spark).count() == 1)
    assert(new java.io.File(s"$dir/lake/year=2025/month=2/day=1").exists())
  }
}
