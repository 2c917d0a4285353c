package graft

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.util.QueryExecutionListener

class BenchSpec extends SparkSpec {

  test("a query that throws is reported as failed; the minima, detail and stdout line are still written") {
    val out = Files.createTempDirectory("graft-bench").toString
    val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "boom" -> ((_, _) => sys.error("boom")),
      "ok" -> ((s, _) => s.range(3).toDF("id")))
    val stdout = new ByteArrayOutputStream()
    val failed = Console.withOut(stdout) {
      Bench.suite(spark, sf, queries, out, Bench.Passes(runs = 1, sleepSec = 1, probes = 0, extra = 0))
    }
    assert(failed === Seq("boom"))
    assert(stdout.toString.contains(""""n_failed":1,"failed":["boom"]"""), stdout.toString)
    val minima = Files.readString(Paths.get(out, Bench.minimaName(sf, spark.sparkContext.defaultParallelism)))
    assert(minima.contains("\"ok\":") && !minima.contains("\"boom\""), minima)
    assert(Files.readString(Paths.get(out, "BENCH_DETAIL.json")).contains("RuntimeException: boom"))
  }

  test("the timed action writes the query's full output to the noop sink; the minima file names the cores") {
    val out = Files.createTempDirectory("graft-bench").toString
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        actions.add(funcName -> qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    // the noop sink's table, written to by a V2 write command
    def noopTable(qe: QueryExecution): Seq[String] = qe.analyzed.collect {
      case w: V2WriteCommand => w.table }.collect { case r: DataSourceV2Relation => r.table.name() }
    spark.listenerManager.register(listener)
    try {
      Console.withOut(new ByteArrayOutputStream()) {
        Bench.suite(spark, sf, Seq("ok" -> ((s, _) => s.range(3).toDF("id"))), out,
          Bench.Passes(runs = 1, sleepSec = 1, probes = 0, extra = 0))
      }
      // listeners run on the listener bus, after the action returns
      val deadline = System.nanoTime() + 30000000000L
      while (!actions.asScala.exists(a => noopTable(a._2).nonEmpty) && System.nanoTime() < deadline)
        Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    assert(actions.asScala.flatMap(a => noopTable(a._2)).toSeq === Seq("noop-table"))
    assert(!actions.asScala.exists(_._1 == "count"), actions.asScala.map(_._1))
    val cores = spark.sparkContext.defaultParallelism
    assert(Files.exists(Paths.get(out, s"BENCH_MINIMA_sf0.001_c$cores.json")))
  }
}
