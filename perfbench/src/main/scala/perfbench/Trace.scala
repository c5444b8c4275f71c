package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Records what one benchmark run did.
  *
  * Two parts. The streaming progress log is always on, because the
  * end-to-end freshness figures are computed from it (batch id, trigger
  * start, trigger duration and source end offset per micro-batch). The
  * rest exists only when tracing is on: spans the driver opens around
  * its calls into each layer, planner phase times from each
  * QueryExecution's tracker, task and job counters from a SparkListener,
  * codegen compile time and JVM heap and GC.
  * Everything is held in memory and written once, when the run ends.
  */
final class Recorder(val tracing: Boolean) {
  private val origin = System.nanoTime()
  private def nowMs: Double = (System.nanoTime() - origin) / 1e6

  // (layer, name, start ms, end ms, depth) relative to the recorder origin
  private val spans = new ConcurrentLinkedQueue[(String, String, Double, Double, Int)]()
  private val depth = new ThreadLocal[Int] { override def initialValue(): Int = 0 }

  /** Time `body` as a span of `layer`; a plain call when tracing is off. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!tracing) body
    else {
      val d = depth.get
      depth.set(d + 1)
      val t0 = nowMs
      try body
      finally {
        spans.add((layer, name, t0, nowMs, d))
        depth.set(d)
      }
    }

  val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val progressListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators.map(s => Map[String, Any](
        "rows_total" -> s.numRowsTotal, "memory_bytes" -> s.memoryUsedBytes,
        "commit_ms" -> s.commitTimeMs,
        "dropped_by_watermark" -> s.numRowsDroppedByWatermark)).toSeq
      progress.add(Map(
        "query" -> p.name, "batch" -> p.batchId,
        "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "rows" -> p.numInputRows,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        "end_offsets" -> p.sources.map(_.endOffset).toSeq,
        "state" -> ops))
    }
  }

  // ---- tracing-only counters -------------------------------------------
  val planner = Map("analysis" -> new AtomicLong, "optimization" -> new AtomicLong,
    "planning" -> new AtomicLong)
  @volatile private var measuring = false
  private val c = Seq("qe", "jobs", "stages", "tasks", "scan_bytes", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "task_cpu_ns", "task_run_ms", "gc_ms",
    "sched_wait_ms").map(_ -> new AtomicLong).toMap

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (measuring) {
        c("qe").incrementAndGet()
        qe.tracker.phases.foreach { case (phase, s) =>
          planner.get(phase).foreach(_.addAndGet(s.durationMs)) }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = c("jobs").incrementAndGet()
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = c("stages").incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      c("tasks").incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        c("scan_bytes").addAndGet(m.inputMetrics.bytesRead)
        c("shuffle_read_bytes").addAndGet(m.shuffleReadMetrics.totalBytesRead)
        c("shuffle_write_bytes").addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c("spill_bytes").addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        c("task_cpu_ns").addAndGet(m.executorCpuTime)
        c("task_run_ms").addAndGet(m.executorRunTime)
        c("gc_ms").addAndGet(m.jvmGCTime)
        // the Spark UI's scheduler delay: task wall time not spent
        // deserializing, running or shipping the result
        val info = e.taskInfo
        val wall = info.finishTime - info.launchTime
        val delay = wall - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
        c("sched_wait_ms").addAndGet(math.max(0L, delay))
      }
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.streams.addListener(progressListener)
    if (tracing) {
      spark.listenerManager.register(qeListener)
      spark.sparkContext.addSparkListener(sparkListener)
    }
  }

  // ---- codegen and JVM ----------------------------------------------------
  private def compileSnapshot: (Long, Long) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getValues.sum)
  }
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum
  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType.toString == "Heap memory")

  private var mark: Map[String, Long] = Map.empty
  private var markMs = 0.0

  /** Start of the measured region: counters are reported relative to it. */
  def begin(): Unit = {
    val (n, ms) = compileSnapshot
    heapPools.foreach(_.resetPeakUsage())
    mark = c.map { case (k, v) => k -> v.get } ++ planner.map { case (k, v) => k -> v.get } ++
      Map("compiles" -> n, "compile_ms" -> ms, "jvm_gc_ms" -> gcMs)
    markMs = nowMs
    measuring = true
  }

  /** Counters accumulated since [[begin]]. */
  def delta(): Map[String, Double] = {
    // the listener bus is asynchronous: let it drain before reading
    Thread.sleep(500)
    measuring = false
    val (n, ms) = compileSnapshot
    val cur = c.map { case (k, v) => k -> v.get } ++ planner.map { case (k, v) => k -> v.get } ++
      Map("compiles" -> n, "compile_ms" -> ms, "jvm_gc_ms" -> gcMs)
    cur.map { case (k, v) => k -> (v - mark.getOrElse(k, 0L)).toDouble } ++ Map(
      "heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0,
      "wall_ms" -> (nowMs - markMs))
  }

  def spanList: Seq[Map[String, Any]] = spans.asScala.toSeq.sortBy(_._3).map {
    case (layer, name, t0, t1, d) =>
      Map("layer" -> layer, "name" -> name, "start_ms" -> t0, "end_ms" -> t1, "depth" -> d)
  }
}
