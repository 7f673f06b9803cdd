package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One timed call from the harness into a repo module's public
  * function. `childNanos` is the time spent in spans opened inside it,
  * so `nanos - childNanos` is the layer's self time. */
final case class Span(layer: String, key: String, startMs: Long,
    endMs: Long, nanos: Long, childNanos: Long) {
  def selfNanos: Long = nanos - childNanos
  def covers(t: Long): Boolean = t >= startMs && t <= endMs
}

/** Spans kept in memory; a no-op pass-through while `on` is false so
  * untraced passes run the same code without the bookkeeping. The
  * harness calls the library from one thread, so a plain stack is
  * enough. */
final class Spans {
  @volatile var on = false
  private val done = ArrayBuffer.empty[Span]
  private val open = ArrayBuffer.empty[Array[Long]]

  def apply[T](layer: String, key: String)(body: => T): T =
    if (!on) body
    else {
      val children = Array(0L)
      open += children
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val dt = System.nanoTime() - t0
        open.remove(open.length - 1)
        if (open.nonEmpty) open.last(0) += dt
        done += Span(layer, key, startMs, System.currentTimeMillis(), dt,
          children(0))
      }
    }

  def take(): Seq[Span] = { val r = done.toList; done.clear(); r }
}

/** Task-level record of one finished task (times in ms, epoch). */
final case class TaskRec(stage: Int, launchMs: Long, finishMs: Long,
    waitMs: Long, runMs: Long, cpuMs: Double, gcMs: Long,
    shuffleWrite: Long, shuffleRead: Long, spill: Long, written: Long)

/** Scheduler events: job starts, stage completions, task metrics. */
final class ExecListener extends SparkListener {
  val jobStarts = ArrayBuffer.empty[Long]
  val stageEnds = ArrayBuffer.empty[Long]
  val tasks = ArrayBuffer.empty[TaskRec]
  private val submitted = scala.collection.mutable.Map.empty[(Int, Int), Long]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { jobStarts += e.time }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val i = e.stageInfo
      submitted((i.stageId, i.attemptNumber())) =
        i.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageEnds += e.stageInfo.completionTime
        .getOrElse(System.currentTimeMillis())
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      val sub = submitted.getOrElse((e.stageId, e.stageAttemptId),
        info.launchTime)
      tasks += TaskRec(e.stageId, info.launchTime, info.finishTime,
        math.max(0L, info.launchTime - sub), m.executorRunTime,
        m.executorCpuTime / 1e6, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.outputMetrics.bytesWritten)
    }
  }

  def clear(): Unit = synchronized {
    jobStarts.clear(); stageEnds.clear(); tasks.clear()
  }
}

/** Planning phases of every executed query, from its
  * QueryPlanningTracker: (analysis start ms, analysis, optimization,
  * planning ms). */
final class PlanListener extends QueryExecutionListener {
  val phases = ArrayBuffer.empty[(Long, Long, Long, Long)]

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val p = qe.tracker.phases
    def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
    val start = p.values.map(_.startTimeMs).minOption
      .getOrElse(System.currentTimeMillis())
    synchronized {
      phases += ((start, ms("analysis"), ms("optimization"), ms("planning")))
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  def clear(): Unit = synchronized { phases.clear() }
}

/** One streaming micro-batch ("fold") of a drain. */
final case class Fold(query: String, startMs: Long, durMs: Long,
    planMs: Long, addBatchMs: Long, inputRows: Long, stateRows: Long)

/** Progress of every streaming query: the fold latencies of
  * stream_ingest come from here. */
final class FoldListener extends StreamingQueryListener {
  val folds = ArrayBuffer.empty[Fold]

  override def onQueryStarted(
      e: StreamingQueryListener.QueryStartedEvent): Unit = ()

  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    def d(k: String): Long =
      Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    synchronized {
      folds += Fold(p.id.toString, start, p.batchDuration,
        d("queryPlanning"), d("addBatch"), p.numInputRows,
        p.stateOperators.map(_.numRowsTotal).sum)
    }
  }

  override def onQueryIdle(
      e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  def take(): Seq[Fold] = synchronized {
    val r = folds.toList; folds.clear(); r
  }
}

/** Samples heap use every few ms while running; `peakMb` is the
  * largest sample since the last `reset`. */
final class HeapSampler extends Thread("perfbench-heap") {
  setDaemon(true)
  @volatile private var peak = 0L
  @volatile private var stopped = false
  private val mem = ManagementFactory.getMemoryMXBean

  override def run(): Unit =
    while (!stopped) {
      val used = mem.getHeapMemoryUsage.getUsed
      if (used > peak) peak = used
      Thread.sleep(5)
    }

  def peakMb: Double = peak / 1048576.0
  def finish(): Unit = { stopped = true; join() }
}

/** GC totals of the JVM, for before/after deltas. */
object Gc {
  def snapshot(): (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime).sum, beans.map(_.getCollectionCount).sum)
  }
}

/** The listeners a traced run registers, and the rollup of one traced
  * pass into per-layer metrics. */
final class Tracer(spark: SparkSession, cores: Int) {
  val exec = new ExecListener
  val plans = new PlanListener
  spark.sparkContext.addSparkListener(exec)
  spark.listenerManager.register(plans)

  def reset(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    exec.clear(); plans.clear()
  }

  /** Per-layer metrics of one traced pass spanning [fromMs, toMs]. */
  def rollup(spans: Seq[Span], fromMs: Long, toMs: Long,
      passS: Double): Map[String, Double] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val (tasks, jobs, stages) = exec.synchronized(
      (exec.tasks.toList, exec.jobStarts.toList, exec.stageEnds.toList))
    val phases = plans.synchronized(plans.phases.toList)
    val inPass = (t: Long) => t >= fromMs && t <= toMs
    val passTasks = tasks.filter(t => inPass(t.launchMs))
    val entry = spans.filter(_.layer == "SparkEntry")
    val execute = spans.filter(_.layer == "spark.execute")
    val executeTasks = passTasks.filter(t => execute.exists(_.covers(t.launchMs)))
    val executeMs = execute.map(_.nanos).sum / 1e6
    val passPhases = phases.filter(p => inPass(p._1))
    val selfByLayer = spans.groupBy(_.layer).view
      .mapValues(_.map(_.selfNanos).sum / 1e9).toMap
    val self = Layers.all.map(l => s"self_s.$l" -> selfByLayer.getOrElse(l, 0.0))
    Map(
      "entry.build_ms" -> entry.map(_.nanos).sum / 1e6,
      "entry.build_jobs" -> jobs.count(t => entry.exists(_.covers(t))).toDouble,
      "plan.analysis_ms" -> passPhases.map(_._2).sum.toDouble,
      "plan.optimization_ms" -> passPhases.map(_._3).sum.toDouble,
      "plan.planning_ms" -> passPhases.map(_._4).sum.toDouble,
      "exec.jobs" -> jobs.count(inPass).toDouble,
      "exec.stages" -> stages.count(inPass).toDouble,
      "exec.tasks" -> passTasks.size.toDouble,
      "exec.task_run_ms" -> passTasks.map(_.runMs).sum.toDouble,
      "exec.task_cpu_ms" -> passTasks.map(_.cpuMs).sum,
      "exec.gc_ms" -> passTasks.map(_.gcMs).sum.toDouble,
      "exec.task_wait_ms" -> passTasks.map(_.waitMs).sum.toDouble,
      "exec.shuffle_write_bytes" -> passTasks.map(_.shuffleWrite).sum.toDouble,
      "exec.shuffle_read_bytes" -> passTasks.map(_.shuffleRead).sum.toDouble,
      "exec.spill_bytes" -> passTasks.map(_.spill).sum.toDouble,
      "exec.core_busy_ratio" ->
        (if (executeMs > 0) executeTasks.map(_.runMs).sum / (executeMs * cores)
         else 0.0),
      "self_s.unattributed" -> (passS - selfByLayer.values.sum),
    ) ++ self ++ Layers.tables.map(t => s"tables.resolve_ms.$t" ->
      spans.filter(s => s.layer == "sources.Tables" && s.key == t)
        .map(_.nanos).sum / 1e6)
  }

  /** Bytes written by tasks that ended inside `span`. */
  def bytesWritten(span: Span): Long = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    exec.synchronized(exec.tasks.toList)
      .filter(t => span.covers(t.finishMs)).map(_.written).sum
  }
}

/** Layers of a timed pass, each named for the repo module the harness
  * calls (`spark.execute`: Spark planning and running the plan a call
  * returned). The index stores are called inside SparkEntry rows in a
  * pass; their own spans come from [[IndexReplay]]. */
object Layers {
  val all: Seq[String] = Seq("SparkEntry", "sources.Tables",
    "operators.WordCount", "sinks.FormattedTextSink",
    "streaming.EventStreams", "spark.execute")
  val tables: Seq[String] = Seq("documents", "embeddings", "events",
    "lineitem", "orders")
}
