package graft

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

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
    val minima = Files.readString(Paths.get(out, "BENCH_MINIMA_sf0.001.json"))
    assert(minima.contains("\"ok\":") && !minima.contains("\"boom\""), minima)
    assert(Files.readString(Paths.get(out, "BENCH_DETAIL.json")).contains("RuntimeException: boom"))
  }
}
