package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
import org.apache.spark.sql.execution.FileSourceScanExec

import scala.collection.mutable

/** One timed call into a layer. Times are ms since the epoch, taken from
 * the monotonic clock (see [[Clock]]). */
final case class Span(id: Int, parent: Int, name: String, layer: String, iter: Int,
    startMs: Double, endMs: Double)

object Clock {
  private val offsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
  def nowMs: Double = System.nanoTime() / 1e6 + offsetMs
}

/** Spans kept in memory and written out when the run ends. A span that
 * tags jobs sets the job group `L:<layer>` on its thread, so
 * [[EngineCounters]] can attribute the span's tasks to its layer. */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1

  def record(parent: Int, name: String, layer: String, iter: Int, start: Double, end: Double): Int = {
    val id = nextId; nextId += 1
    spans += Span(id, parent, name, layer, iter, start, end)
    id
  }

  /** Run `body(id)` as span `id` of `layer`; nested spans name `id` as parent. */
  def span[T](parent: Int, name: String, layer: String, iter: Int, tagJobs: Boolean = true)(
      body: Int => T): T = {
    val id = nextId; nextId += 1
    if (tagJobs) sc.setJobGroup(s"${EngineCounters.Prefix}$layer", name)
    val t0 = Clock.nowMs
    try body(id)
    finally {
      spans += Span(id, parent, name, layer, iter, t0, Clock.nowMs)
      if (tagJobs) sc.clearJobGroup()
    }
  }
}

/** Outside-in engine counters: task metrics summed per layer, where a
 * job's layer comes from its job group (`L:<layer>`, set by [[Tracer]])
 * or, for a streaming query's own jobs, from [[streamLayer]] while it is
 * set. Jobs of any other group are ignored. Events arrive on the single
 * listener-bus thread; read the totals only after the bus has drained
 * (after `SparkContext.stop`). */
final class EngineCounters extends SparkListener {
  import EngineCounters._

  @volatile var streamRunId: String = ""
  @volatile var streamLayer: String = ""

  val byLayer = mutable.Map.empty[String, Array[Double]]
  private val stageLayer = mutable.Map.empty[Int, String]
  private val stageSubmitted = mutable.Map.empty[Int, Long]

  private def add(layer: String, idx: Int, v: Double): Unit =
    byLayer.getOrElseUpdate(layer, new Array[Double](Names.length))(idx) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group: String = Option(e.properties).map(_.getProperty(JobGroupKey)).orNull
    val layer =
      if (group == null) null
      else if (group.startsWith(Prefix)) group.stripPrefix(Prefix)
      else if (group == streamRunId && streamLayer.nonEmpty) streamLayer
      else null
    if (layer != null) {
      add(layer, Jobs, 1)
      e.stageIds.foreach(stageLayer(_) = layer)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(stageSubmitted(e.stageInfo.stageId) = _)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageLayer.get(e.stageInfo.stageId).foreach(add(_, Stages, 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = stageLayer.get(e.stageId).foreach { l =>
    val m = e.taskMetrics
    val info = e.taskInfo
    add(l, Tasks, 1)
    if (m != null) {
      add(l, ShuffleWrite, m.shuffleWriteMetrics.bytesWritten.toDouble)
      add(l, ShuffleRead, m.shuffleReadMetrics.totalBytesRead.toDouble)
      add(l, Spill, (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add(l, Input, m.inputMetrics.bytesRead.toDouble)
      add(l, CpuS, m.executorCpuTime / 1e9)
      add(l, GcS, m.jvmGCTime / 1e3)
      // waiting = queued for a core after the stage was submitted, plus
      // the part of the task's life not spent running it
      val queued = stageSubmitted.get(e.stageId).map(info.launchTime - _).getOrElse(0L)
      val overhead = info.duration - m.executorRunTime
      add(l, WaitS, (math.max(0L, queued) + math.max(0L, overhead)) / 1e3)
    }
  }
}

object EngineCounters {
  val Prefix = "L:"
  /** The local property `SparkContext.setJobGroup` sets. */
  val JobGroupKey = "spark.jobGroup.id"
  val Names = Vector("jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "input_bytes", "executor_cpu_s", "gc_s", "task_wait_s")
  val Jobs = 0; val Stages = 1; val Tasks = 2; val ShuffleWrite = 3; val ShuffleRead = 4
  val Spill = 5; val Input = 6; val CpuS = 7; val GcS = 8; val WaitS = 9
}

/** Node counts of an executed (possibly adaptive) plan, subqueries and
 * query stages included; a reused exchange is not counted twice. */
object PlanCounts extends AdaptiveSparkPlanHelper {
  def scans(plan: SparkPlan): Int = collectWithSubqueries(plan) {
    case s: FileSourceScanExec => s
    case s: DataSourceV2ScanExecBase => s
  }.size

  def expressionCount(plan: SparkPlan, className: String): Int =
    collectWithSubqueries(plan) { case p => p }
      .map(_.expressions.map(_.collect { case e if e.getClass.getName == className => e }.size).sum)
      .sum
}
