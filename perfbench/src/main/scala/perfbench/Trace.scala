package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Monotonic milliseconds since the JVM's first call, shared by every
  * recorder in the run so generator, sink and span times compare. */
object Clock {
  private val base = System.nanoTime()
  def ms(): Double = (System.nanoTime() - base) / 1e6
}

/** In-memory span recorder. Off by default: untraced runs pay one
  * volatile read per layer call. Parents follow the calling thread,
  * and threads started inside a span (the stream execution threads
  * that call the sinks) inherit it. */
object Spans {
  final case class Span(id: Long, parent: Long, name: String, start: Double, end: Double)

  @volatile var enabled = false
  @volatile var runId = ""
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = new InheritableThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      stack.set(id :: outer)
      val start = Clock.ms()
      try body
      finally {
        done.add(Span(id, outer.headOption.getOrElse(0L), name, start, Clock.ms()))
        stack.set(outer)
      }
    }

  def all: Seq[Span] = done.asScala.toSeq.sortBy(_.id)
}

/** Spark task and job totals from a listener. */
final class TaskTally extends SparkListener {
  val jobs, stages, tasks = new LongAdder
  val runMs, cpuNs, gcMs = new LongAdder
  val shuffleWrite, shuffleRead, spill, input, output = new LongAdder

  val jobsByPhase = new java.util.concurrent.ConcurrentHashMap[String, LongAdder]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.increment()
    Option(e.properties).flatMap(p => Option(p.getProperty(TaskTally.Phase))).foreach { ph =>
      jobsByPhase.computeIfAbsent(ph, _ => new LongAdder).increment()
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.increment()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      runMs.add(m.executorRunTime)
      cpuNs.add(m.executorCpuTime)
      gcMs.add(m.jvmGCTime)
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      input.add(m.inputMetrics.bytesRead)
      output.add(m.outputMetrics.bytesWritten)
    }
  }

  def phases: Map[String, Long] =
    jobsByPhase.asScala.map { case (k, v) => k -> v.sum() }.toMap

  /** Totals, after the listener bus has drained. */
  def snapshot(wallS: Double, cores: Int): Map[String, Double] = {
    TaskTally.settle(() => tasks.sum() + jobs.sum() + stages.sum())
    val run = runMs.sum() / 1e3
    Map(
      "spark.jobs" -> jobs.sum().toDouble,
      "spark.stages" -> stages.sum().toDouble,
      "spark.tasks" -> tasks.sum().toDouble,
      "spark.task_run_s" -> run,
      "spark.task_cpu_s" -> cpuNs.sum() / 1e9,
      "spark.core_busy_frac" -> (if (wallS > 0) run / (wallS * cores) else 0.0),
      "spark.shuffle_write_bytes" -> shuffleWrite.sum().toDouble,
      "spark.shuffle_read_bytes" -> shuffleRead.sum().toDouble,
      "spark.spill_bytes" -> spill.sum().toDouble,
      "spark.gc_s" -> gcMs.sum() / 1e3,
      "spark.input_bytes" -> input.sum().toDouble,
      "spark.output_bytes" -> output.sum().toDouble)
  }
}

object TaskTally {
  /** Local property naming the benchmark phase a job belongs to. */
  val Phase = "perfbench.phase"

  /** The listener bus is asynchronous: wait until a counter stops moving. */
  def settle(counter: () => Long): Unit = {
    var last = -1L
    var still = 0
    val deadline = System.nanoTime() + 5000000000L
    while (still < 3 && System.nanoTime() < deadline) {
      Thread.sleep(20)
      val now = counter()
      if (now == last) still += 1 else { still = 0; last = now }
    }
  }
}

/** Every progress report of every streaming query, by query name. */
final class ProgressLog extends StreamingQueryListener {
  private val seen = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    seen.add(e.progress)
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def progress: Seq[StreamingQueryProgress] = seen.asScala.toSeq
}

object ProgressLog {
  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** `stream.<label>.*` totals over one query's progress reports. */
  def metrics(label: String, ps: Seq[StreamingQueryProgress], wallMs: Double): Map[String, Double] = {
    def sum(f: StreamingQueryProgress => Double) = ps.map(f).sum
    val ops = ps.flatMap(_.stateOperators)
    val trigger = sum(dur(_, "triggerExecution"))
    val last = ps.lastOption.map(_.stateOperators.toSeq).getOrElse(Nil)
    val p = s"stream.$label."
    Map(
      p + "batches" -> ps.count(_.numInputRows > 0).toDouble,
      p + "trigger_ms" -> trigger,
      p + "busy_frac" -> (if (wallMs > 0) trigger / wallMs else 0.0),
      p + "latest_offset_ms" -> sum(dur(_, "latestOffset")),
      p + "get_batch_ms" -> sum(dur(_, "getBatch")),
      p + "planning_ms" -> sum(dur(_, "queryPlanning")),
      p + "add_batch_ms" -> sum(dur(_, "addBatch")),
      p + "wal_commit_ms" -> sum(q => dur(q, "walCommit") + dur(q, "commitOffsets")),
      p + "state_commit_ms" -> ops.map(_.commitTimeMs.toDouble).sum,
      p + "state_rows" -> last.map(_.numRowsTotal.toDouble).sum,
      p + "state_bytes" -> ops.map(_.memoryUsedBytes.toDouble).foldLeft(0.0)(math.max),
      p + "rows_dropped_late" -> ops.map(_.numRowsDroppedByWatermark.toDouble).sum)
  }

  /** Late-dropped rows from a query's own retained progress. */
  def droppedLate(ps: Seq[StreamingQueryProgress]): Long =
    ps.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
}

/** The traced run's listeners, attached to one session. */
final class Tracer(spark: SparkSession) {
  val tasks = new TaskTally
  val progress = new ProgressLog
  spark.sparkContext.addSparkListener(tasks)
  spark.streams.addListener(progress)

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(tasks)
    spark.streams.removeListener(progress)
  }
}

/** Spark's own codegen compile counters (process-wide). */
object Codegen {
  import org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
  def compiles: Long = METRIC_COMPILATION_TIME.getCount
  /** Mean of the sampled compile times (ms) times the compile count. */
  def compileMs: Double = METRIC_COMPILATION_TIME.getSnapshot.getMean * compiles
}
