package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.internal.StaticSQLConf

/** The engine-wide settings [[GraftSession]] applies beyond plain
  * SQL confs: the generated-class cache size and the two loggers it
  * raises to ERROR. */
class GraftSessionSpec extends SparkSpec {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** One whole-stage shape per `i`: the literals are inlined into the
    * generated code, so each `i` compiles its own class. */
  private def shape(i: Int): Array[Long] =
    spark.range(0, 16, 1, 1).selectExpr(s"id * ${i + 3} + $i AS x")
      .filter(s"x % ${i + 2} <> 1").collect().map(_.getLong(0))

  test("a plan shape compiles once, even after more than 100 other shapes") {
    assert(spark.conf.get(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key).toInt ===
      GraftSession.CodegenCacheEntries)
    val first = shape(0)
    val before = compiles
    (1 to 200).foreach(shape)
    assert(compiles - before > 100, "the other shapes must fill past the default cache")
    val again = compiles
    assert(shape(0).toSeq === first.toSeq)
    assert(compiles === again, "re-running the first shape recompiled it")
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
