package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.internal.StaticSQLConf

import graft.ops.Ingest
import graft.stream.Pipeline

/** The engine-wide settings [[GraftSession]] applies beyond plain
  * SQL confs: the generated-class cache size, one executor classloader
  * for every session, and the two loggers it raises to ERROR. */
class GraftSessionSpec extends SparkSpec with LowStatePartitions {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** One whole-stage shape per `i`: the literals are inlined into the
    * generated code, so each `i` compiles its own class. */
  private def shape(i: Int, session: SparkSession = spark): Array[Long] =
    session.range(0, 16, 1, 1).selectExpr(s"id * ${i + 3} + $i AS x")
      .filter(s"x % ${i + 2} <> 1").collect().map(_.getLong(0))

  test("a plan shape compiles once, even after more than 100 other shapes") {
    assert(spark.conf.get(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key).toInt ===
      GraftSession.CodegenCacheEntries)
    val first = shape(0)
    val before = compiles
    (1 to 200).foreach(shape(_))
    assert(compiles - before > 100, "the other shapes must fill past the default cache")
    val again = compiles
    assert(shape(0).toSeq === first.toSeq)
    assert(compiles === again, "re-running the first shape recompiled it")
  }

  private val Isolation = "spark.sql.artifact.isolation.enabled"

  test("sessions are not artifact-isolated") {
    assert(spark.conf.get(Isolation) === "false")
    assert(spark.newSession().conf.get(Isolation) === "false")
  }

  test("a shape already run compiles nothing when run again in a new session") {
    val first = shape(1000)
    val before = compiles
    assert(shape(1000, spark.newSession()).toSeq === first.toSeq)
    assert(compiles === before, "the new session recompiled the shape")
  }

  test("a second stream drain over the same files, from a fresh checkpoint, compiles nothing") {
    val dir = Files.createTempDirectory("graft-session").toString
    def line(ts: String, machine: String, v: Double) =
      s"""{"timestamp":"2025-01-01T$ts","machine_id":"$machine","sensor_type":"temperature","value":$v}"""
    Files.createDirectories(Paths.get(s"$dir/topic"))
    Files.write(Paths.get(s"$dir/topic/f-0.json"),
      Seq(line("10:00:10", "CNC-001", 85.5), line("10:00:40", "LATHE-002", 1.4)).asJava)
    Files.write(Paths.get(s"$dir/topic/f-1.json"),
      Seq(line("10:02:30", "CNC-001", 86.1), line("10:03:30", "CNC-001", 86.4)).asJava)
    // One drain into its own sinks and checkpoint: its raw and
    // finalized-window row counts.
    def drain(run: String): (Long, Long) = {
      val src = Ingest.decode(
        spark.readStream.option("maxFilesPerTrigger", 1).text(s"$dir/topic")
          .withColumnRenamed("value", "raw"), col("raw"))
      val (rq, aq) = Pipeline.run(spark, src,
        _.write.mode("append").parquet(s"$dir/$run/raw"),
        _.write.mode("append").parquet(s"$dir/$run/agg"), s"$dir/$run/ckpt")
      rq.awaitTermination()
      aq.awaitTermination()
      (spark.read.parquet(s"$dir/$run/raw").count(), spark.read.parquet(s"$dir/$run/agg").count())
    }
    val first = drain("a")
    assert(first._1 === 4 && first._2 > 0, first)
    val before = compiles
    assert(drain("b") === first)
    assert(compiles === before, "the second drain recompiled the stream's classes")
  }

  test("the quieted loggers are at ERROR") {
    Seq("org.apache.spark.sql.execution.window.WindowExec",
      "org.apache.spark.rdd.MapPartitionsRDD").foreach { name =>
      assert(LogManager.getLogger(name).getLevel === Level.ERROR, name)
    }
  }

  test("a query rebuilt after its local checkpoints are unpersisted returns the same rows") {
    // Clearing state between queries unpersists locally checkpointed
    // RDDs (the MapPartitionsRDD warning); the engine rebuilds each
    // query, so the next build checkpoints afresh.
    val sc = spark.sparkContext
    def run() = SparkEntry.queries("assoc_rules")(spark, sf).collect().map(_.toString).sorted
    val first = run()
    assert(first.nonEmpty)
    assert(sc.getPersistentRDDs.nonEmpty, "assoc_rules checkpoints its basket frame")
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    assert(run().toSeq === first.toSeq)
  }
}
