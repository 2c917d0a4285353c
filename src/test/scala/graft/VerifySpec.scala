package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

class VerifySpec extends SparkSpec {

  test("a query that throws is listed in failures.txt; the others are written") {
    val out = Files.createTempDirectory("graft-verify").toString
    val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
      "ok" -> ((s, _) => s.range(3).toDF("id")),
      "boom" -> ((_, _) => sys.error("boom")))
    assert(Verify.dump(spark, sf, out, queries) === Seq("boom"))
    assert(Files.readString(Paths.get(out, "failures.txt")) === "boom\n")
    assert(spark.read.parquet(s"$out/ok").count() === 3)
    assert(Verify.dump(spark, sf, out, queries - "boom").isEmpty)
    assert(Files.readString(Paths.get(out, "failures.txt")) === "")
  }
}
