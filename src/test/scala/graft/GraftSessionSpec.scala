package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.LeafNode
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.internal.StaticSQLConf
import org.apache.spark.sql.util.QueryExecutionListener

import graft.ops.Ingest
import graft.stream.Pipeline

/** A plan no strategy plans: running it fails in planning. */
case class Unplannable() extends LeafNode {
  override def output: Seq[Attribute] = Nil
}

/** A listener that throws on every failed query. */
class ThrowingListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = ()
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    throw new IllegalStateException("thrown by the listener")
}

/** The engine-wide settings [[GraftSession]] applies beyond plain
  * SQL confs: the generated-class cache size, one executor classloader
  * for every session, the loggers it raises to ERROR and the three
  * messages it drops by text. */
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

  /** The (logger, message) pairs logged at WARN or above while `body`
    * runs and, if `awaited` is given, after it until a message
    * containing `awaited` is seen (at most 30 s). */
  private def logged(awaited: String = "")(body: => Unit): Seq[(String, String)] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val capture = new AbstractAppender("graft-capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(e.getLoggerName -> e.getMessage.getFormattedMessage)
    }
    capture.start()
    val ctx = LoggerContext.getContext(false)
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(capture, Level.WARN, null)
    ctx.updateLoggers()
    try {
      body
      val deadline = System.nanoTime() + 30000000000L
      while (awaited.nonEmpty && !seen.asScala.exists(_._2.contains(awaited)) &&
          System.nanoTime() < deadline)
        Thread.sleep(50)
    } finally {
      root.removeAppender(capture.getName)
      ctx.updateLoggers()
      capture.stop()
    }
    seen.asScala.toSeq
  }

  test("a stateful stream logs neither AQE warning; those loggers' other warnings get through") {
    val logs = logged() {
      val dir = Files.createTempDirectory("graft-aqe").toString
      Files.createDirectories(Paths.get(s"$dir/topic"))
      Files.write(Paths.get(s"$dir/topic/f-0.json"), Seq(
        """{"timestamp":"2025-01-01T10:00:10","machine_id":"CNC-001","sensor_type":"temperature","value":85.5}""",
        """{"timestamp":"2025-01-01T10:03:30","machine_id":"CNC-001","sensor_type":"temperature","value":86.4}"""
      ).asJava)
      assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
      val src = Ingest.decode(spark.readStream.text(s"$dir/topic"), col("value"))
      var aggRows = 0L
      val (rq, aq) = Pipeline.run(spark, src, _ => (), b => aggRows += b.count(), s"$dir/ckpt")
      rq.awaitTermination()
      aq.awaitTermination()
      assert(aggRows > 0, "the stateful query finalized no window")
      GraftSession.QuietMessages.foreach { case (logger, text) =>
        LogManager.getLogger(logger).warn(s"$text (logged directly)")
        LogManager.getLogger(logger).warn(s"another warning from $logger")
      }
    }
    GraftSession.QuietMessages.foreach { case (logger, _) =>
      val aqe = logs.filter { case (l, m) =>
        l == logger && (m.contains("AQE") || m.contains("spark.sql.adaptive.enabled"))
      }
      assert(aqe.isEmpty, aqe)
      assert(logs.contains(logger -> s"another warning from $logger"), logs)
    }
  }

  test("after an observe, a query that fails in planning logs no second trace from Spark's " +
      "observation listener; another listener's error still gets through") {
    val bus = "org.apache.spark.sql.util.ExecutionListenerBus"
    val thrown = "Listener ThrowingListener threw an exception"
    val observed = Observation("rows")
    assert(spark.range(5).observe(observed, count(lit(1)).as("n")).collect().length === 5)
    assert(observed.get("n") === 5L)
    val thrower = new ThrowingListener
    // Listeners run on the listener bus, in the order they were
    // registered: the observation listener before this one.
    val logs = logged(awaited = thrown) {
      spark.listenerManager.register(thrower)
      intercept[Exception](PlanBridge.ofRows(spark, Unplannable()).collect())
    }
    spark.listenerManager.unregister(thrower)
    assert(logs.contains(bus -> thrown), logs)
    assert(!logs.exists(_._2.contains("Listener Listener threw")), logs)
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
