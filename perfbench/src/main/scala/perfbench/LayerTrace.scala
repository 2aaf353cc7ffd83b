package perfbench

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-query layer observations, taken from outside the program through
  * Spark's public observers only: a `SparkListener` (jobs, stages, tasks,
  * cached blocks), a `QueryExecutionListener` (one event per Dataset
  * action, with its `QueryPlanningTracker` phases and executed plan),
  * `CodegenMetrics`/`CodeGenerator.compileTime` and
  * `SparkContext.getPersistentRDDs`.
  *
  * Listener events arrive asynchronously; [[end]] waits until every
  * started job and stage has ended and the bus has gone quiet before it
  * reads the counters, outside the timed region.
  *
  * Raw counters only: run.py derives the interval union, driver gap,
  * parallelism and ratios from them. */
final class LayerTrace(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {

  private val sc = spark.sparkContext
  private val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val stageSpans = mutable.ArrayBuffer.empty[Seq[Long]]
  private val rddBlocks = mutable.Map.empty[String, Long]
  private var cachedBytes = 0L
  private var cachedPeak = 0L
  private var buildEndMs = Long.MaxValue
  private var openJobs = 0
  private var openStages = 0
  private var actions = 0
  @volatile private var lastEventNs = System.nanoTime()
  private var compiles0 = 0L
  private var compileNs0 = 0L

  def attach(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Start a query: zero the counters. The caller has just dropped every
    * cache, so cached-block accounting restarts from nothing as well. */
  def begin(): Unit = synchronized {
    counts.clear()
    stageSpans.clear()
    rddBlocks.clear()
    cachedBytes = 0L
    cachedPeak = 0L
    buildEndMs = Long.MaxValue
    actions = 0
    compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    compileNs0 = CodeGenerator.compileTime
  }

  /** The `SparkEntry.queries(..)` call has returned; later jobs belong to
    * the materializing action. */
  def markBuildEnd(): Unit = synchronized { buildEndMs = System.currentTimeMillis() }

  /** Finish a query and return its raw layer counters. */
  def end(): Map[String, Any] = {
    awaitQuiet()
    synchronized {
      Map(
        "eager_actions" -> math.max(0, actions - 1),
        "jobs" -> counts("jobs"), "eager_jobs" -> counts("eager_jobs"),
        "stages" -> counts("stages"), "tasks" -> counts("tasks"),
        "stage_spans" -> stageSpans.toSeq,
        "analysis_s" -> counts("analysis_ms") / 1e3,
        "optimization_s" -> counts("optimization_ms") / 1e3,
        "planning_s" -> counts("planning_ms") / 1e3,
        "codegen_compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0),
        "codegen_s" -> (CodeGenerator.compileTime - compileNs0) / 1e9,
        "task_run_s" -> counts("task_run_ms") / 1e3,
        "task_cpu_s" -> counts("task_cpu_ns") / 1e9,
        "task_gc_s" -> counts("task_gc_ms") / 1e3,
        "shuffle_write_mb" -> counts("shuffle_write_b") / 1048576.0,
        "shuffle_read_mb" -> counts("shuffle_read_b") / 1048576.0,
        "spill_mb" -> counts("spill_b") / 1048576.0,
        "input_mb" -> counts("input_b") / 1048576.0,
        "input_rows" -> counts("input_rows"),
        "output_mb" -> counts("output_b") / 1048576.0,
        "cache_scans" -> counts("cache_scans"),
        "persisted_after" -> sc.getPersistentRDDs.size,
        "cached_mb_peak" -> cachedPeak / 1048576.0)
    }
  }

  private def awaitQuiet(): Unit = {
    val deadline = System.nanoTime() + 10_000_000_000L
    def settled = synchronized(openJobs == 0 && openStages == 0 && actions > 0) &&
      System.nanoTime() - lastEventNs > 50_000_000L
    while (!settled && System.nanoTime() < deadline) Thread.sleep(5)
  }

  private def event(f: => Unit): Unit = {
    synchronized(f)
    lastEventNs = System.nanoTime()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = event {
    openJobs += 1
    counts("jobs") += 1
    if (e.time < buildEndMs) counts("eager_jobs") += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = event { openJobs -= 1 }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = event { openStages += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = event {
    openStages -= 1
    counts("stages") += 1
    val info = e.stageInfo
    for (s <- info.submissionTime; c <- info.completionTime) stageSpans += Seq(s, c)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = event {
    counts("tasks") += 1
    val m = e.taskMetrics
    if (m != null) {
      counts("task_run_ms") += m.executorRunTime
      counts("task_cpu_ns") += m.executorCpuTime
      counts("task_gc_ms") += m.jvmGCTime
      counts("shuffle_write_b") += m.shuffleWriteMetrics.bytesWritten
      counts("shuffle_read_b") += m.shuffleReadMetrics.totalBytesRead
      counts("spill_b") += m.diskBytesSpilled
      counts("input_b") += m.inputMetrics.bytesRead
      counts("input_rows") += m.inputMetrics.recordsRead
      counts("output_b") += m.outputMetrics.bytesWritten
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = event {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val size = b.memSize + b.diskSize
      cachedBytes += size - rddBlocks.getOrElse(b.blockId.name, 0L)
      if (size == 0) rddBlocks.remove(b.blockId.name) else rddBlocks(b.blockId.name) = size
      cachedPeak = math.max(cachedPeak, cachedBytes)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    action(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    action(qe)

  private def action(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val scans = collectWithSubqueries(qe.executedPlan) { case s: InMemoryTableScanExec => s }.size
    event {
      actions += 1
      for (p <- Seq("analysis", "optimization", "planning"))
        counts(s"${p}_ms") += phases.get(p).map(_.durationMs).getOrElse(0L)
      counts("cache_scans") += scans
    }
  }
}
