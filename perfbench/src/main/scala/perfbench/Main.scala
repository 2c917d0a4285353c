package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run in one JVM:
  *
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir> [cores]
  *
  * Sets up three times (session start, input generation, warm-up) and
  * keeps the last session, measures for `seconds`, checks the outputs
  * and writes `run.json` into the work dir. The runner turns that
  * record into metrics. With trace on, a traced measurement (listeners
  * attached, spans recorded) sits between two untraced ones.
  */
object Main {
  val Setups = 3

  def main(args: Array[String]): Unit = {
    val Array(name, seedS, secondsS, traceS, work) = args.take(5)
    val cores = if (args.length > 5) args(5).toInt else 4
    LiveHeap.watch()
    val ctx = Ctx(work, seedS.toLong, secondsS.toInt, cores)
    new File(work).mkdirs()
    val w: Workload = name match {
      case "iiot_backfill"      => new Backfill(ctx)
      case "analytics_registry" => new Registry(ctx)
      case other                => sys.error(s"unknown workload $other")
    }
    val out = mutable.LinkedHashMap[String, Any]("workload" -> name, "seed" -> ctx.seed)
    var spark: SparkSession = null
    val setups = (1 to Setups).map { i =>
      if (spark != null) spark.stop()
      val t0 = Clock.ms()
      spark = ctx.session(cores)
      val tSession = Clock.ms()
      w.generate(spark, i)
      val tGen = Clock.ms()
      w.warmUp(spark)
      val t1 = Clock.ms()
      System.err.println(f"[perfbench] setup $i: session ${tSession - t0}%.0f ms, " +
        f"inputs ${tGen - tSession}%.0f ms, warm-up ${t1 - tGen}%.0f ms")
      (t1 - t0) / 1e3
    }
    out("setup_s") = setups

    val tMeasure = Clock.ms()
    if (traceS == "1") {
      // Untraced measurements before and after the traced one, so the
      // tracing overhead is not confounded with further warm-up.
      out("untraced") = w.measure(spark)
      val tracer = new Tracer(spark)
      val compiles0 = Codegen.compiles
      val compileMs0 = Codegen.compileMs
      Spans.runId = s"$name-${ctx.seed}"
      Spans.enabled = true
      val t0 = Clock.ms()
      out("traced") = Spans("run.measure")(w.measure(spark))
      val wallS = (Clock.ms() - t0) / 1e3
      Spans.enabled = false
      val layers = mutable.LinkedHashMap[String, Any]()
      layers ++= tracer.tasks.snapshot(wallS, cores)
      val (agg, raw) = tracer.progress.progress.partition(_.stateOperators.nonEmpty)
      layers ++= ProgressLog.metrics("raw", raw, wallS * 1e3)
      layers ++= ProgressLog.metrics("agg", agg, wallS * 1e3)
      layers("queries.codegen_compiles") = (Codegen.compiles - compiles0).toDouble
      layers("queries.codegen_compile_s") = (Codegen.compileMs - compileMs0) / 1e3
      out("jobs_by_phase") = tracer.tasks.phases
      tracer.detach()
      out("untraced_after") = w.measure(spark)
      out("layers") = layers
      out("spans") = Spans.all.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end, "run" -> Spans.runId))
    } else {
      out("measured") = w.measure(spark)
    }
    System.err.println(f"[perfbench] measured ${Clock.ms() - tMeasure}%.0f ms")
    val tChecks = Clock.ms()
    out("checks") = w.check(spark).map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail))
    System.err.println(f"[perfbench] checks ${Clock.ms() - tChecks}%.0f ms")
    if (traceS == "1") out("single_core") = w.singleCore(spark)
    out("peak_rss_mb") = peakRssMb()
    out("peak_heap_mb") = LiveHeap.peakMb
    Files.writeString(Paths.get(work, "run.json"), Json.render(out))
    SparkSession.getActiveSession.foreach(_.stop())
  }

  /** The JVM's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** The largest heap use right after a garbage collection over the run,
  * in MB: the data the program held, without the garbage the collector
  * had not yet reclaimed, so it does not move with the collector's heap
  * sizing as the resident set does. */
object LiveHeap {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import scala.jdk.CollectionConverters._
  import com.sun.management.GarbageCollectionNotificationInfo

  @volatile private var peak = 0L
  private lazy val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  def watch(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(new NotificationListener {
      def handleNotification(n: Notification, handback: AnyRef): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { peak = math.max(peak, used) }
        }
    }, null, null)
    case _ => ()
  }

  def peakMb: Double = peak / (1024.0 * 1024.0)
}

final case class Check(name: String, ok: Boolean, detail: String)

final case class Ctx(work: String, seed: Long, seconds: Int, cores: Int) {
  def session(n: Int): SparkSession = {
    val s = graft.GraftSession.builder("perfbench")
      .master(s"local[$n]")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.shuffle.partitions", n.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def dir(parts: String*): String = (work +: parts).mkString("/")
}

trait Workload {
  /** Writes this setup's inputs; `round` names a fresh directory. */
  def generate(spark: SparkSession, round: Int): Unit
  def warmUp(spark: SparkSession): Unit
  /** Runs for the context's seconds and returns the raw observations. */
  def measure(spark: SparkSession): Map[String, Any]
  /** Output checks on what measure produced. */
  def check(spark: SparkSession): Seq[Check]
  /** The single-threaded baseline, where the workload has one. */
  def singleCore(spark: SparkSession): Map[String, Any] = Map.empty
}

/** Sink callbacks that land each micro-batch in its own directory and
  * record when the write returned, by the micro-batch id. */
final class BatchSink(val root: String) {
  val returned = new java.util.concurrent.ConcurrentHashMap[Long, Double]()
  @volatile var calls = 0L
  @volatile var ms = 0.0

  def write(b: DataFrame): Unit = Spans("io.sink") {
    val id = Option(b.sparkSession.sparkContext.getLocalProperty("streaming.sql.batchId"))
      .map(_.toLong).getOrElse(calls)
    val t0 = Clock.ms()
    graft.io.LakeSink(f"$root/batch-$id%06d", partitionCols = Nil).append(b)
    val t1 = Clock.ms()
    returned.put(id, t1)
    synchronized { calls += 1; ms += t1 - t0 }
  }

  def returnedMap: Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    returned.asScala.map { case (k, v) => k.toString -> v.doubleValue }.toMap
  }
}

object Disk {
  /** (files, bytes) of the data files under a directory. */
  def usage(path: String): (Long, Long) = {
    val root = new File(path)
    if (!root.exists()) (0L, 0L)
    else {
      val files = Files.walk(root.toPath).filter(p => Files.isRegularFile(p)).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .filter { p => val n = p.getFileName.toString; !n.startsWith(".") && !n.startsWith("_") }
      (files.length.toLong, files.map(p => Files.size(p)).sum)
    }
  }
}
