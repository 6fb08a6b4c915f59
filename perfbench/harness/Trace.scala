package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the benchmark: run → pass → job →
  * {construct, action, reclaim} (a check pass has `check` in place of
  * `action`). Times are epoch nanoseconds (a wall clock anchored once,
  * advanced by `System.nanoTime`), so they line up with the millisecond
  * timestamps Spark puts on jobs, stages and tasks. CPU is the process's
  * own plus its reaped children's, read at both ends. */
final class Span(val id: Long, val parent: Long, val name: String,
    val startNs: Long, val cpuStart: Double) {
  @volatile var endNs: Long = -1L
  var cpuEnd: Double = cpuStart
  val attrs = mutable.LinkedHashMap.empty[String, Any]
  def seconds: Double = (endNs - startNs) / 1e9
  def cpuSeconds: Double = cpuEnd - cpuStart
  def contains(epochMs: Long): Boolean =
    epochMs * 1000000L >= startNs && epochMs * 1000000L <= endNs
}

/** In-memory span recorder. Spans are always recorded (a few objects per
  * job); nothing is written until the run ends. The innermost open span's
  * id is published as a Spark local property before each call into the
  * program, so every Spark job the call launches carries it. */
final class Tracer(sc: SparkContext) {
  private val anchorNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = anchorNs + System.nanoTime()

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var nextId = 0L

  def open(name: String): Span = {
    val parent = stack.headOption.map(_.id).getOrElse(-1L)
    val s = new Span(nextId, parent, name, now(), Proc.cpuSeconds())
    nextId += 1
    spans += s
    stack.push(s)
    sc.setLocalProperty(Tracer.SpanProperty, s.id.toString)
    s
  }

  def close(s: Span): Span = {
    s.endNs = now()
    s.cpuEnd = Proc.cpuSeconds()
    require(stack.pop() eq s, s"span ${s.name} closed out of order")
    sc.setLocalProperty(Tracer.SpanProperty,
      stack.headOption.map(_.id.toString).orNull)
    s
  }

  def span[T](name: String)(body: Span => T): T = {
    val s = open(name)
    try body(s) finally close(s)
  }

  def children(id: Long): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** Self time per span name: each span's duration minus its children's. */
  def selfSeconds: Map[String, Double] =
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.seconds - children(s.id).map(_.seconds).sum).sum
    }
}

object Tracer {
  val SpanProperty = "perfbench.span"
}

/** Task-level facts the traced run keeps, one per finished task. */
final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long,
    mapTask: Boolean, runMs: Long, cpuNs: Long, deserMs: Long,
    shuffleWriteBytes: Long, shuffleReadBytes: Long, shuffleRecords: Long,
    fetchWaitMs: Long, shuffleWriteNs: Long, spillDisk: Long, spillMem: Long,
    peakExec: Long, inputBytes: Long, inputRecords: Long)

final case class StageRec(stageId: Int, span: Long, submitMs: Long,
    completeMs: Long)

/** Per-action planning record from `QueryPlanningTracker`. */
final case class PlanRec(startMs: Long, analysisMs: Long,
    optimizationMs: Long, planningMs: Long, fallbackExprs: Int)

/** Collects Spark's own layers for the traced passes only: jobs, stages
  * and tasks attach to a bench span through [[Tracer.SpanProperty]];
  * planning records attach by time (the query-execution callback runs on
  * the listener bus thread, where the property is not visible). Attached
  * with [[attach]] and removed with [[detach]], so untraced passes run
  * with no benchmark listener at all. */
final class LayerListener extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  val jobSpan = mutable.Map.empty[Int, Long]         // Spark job → span
  val stageSpan = mutable.Map.empty[Int, Long]       // stage → span
  val stages = mutable.ArrayBuffer.empty[StageRec]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  val plans = mutable.ArrayBuffer.empty[PlanRec]

  private def spanOf(p: java.util.Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.SpanProperty)))
      .map(_.toLong).getOrElse(-1L)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val s = spanOf(e.properties)
    jobSpan(e.jobId) = s
    e.stageIds.foreach(id => stageSpan.getOrElseUpdate(id, s))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      stages += StageRec(i.stageId, stageSpan.getOrElse(i.stageId, -1L),
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null && info != null) {
      val sr = m.shuffleReadMetrics
      val sw = m.shuffleWriteMetrics
      tasks += TaskRec(e.stageId, info.launchTime, info.finishTime,
        e.taskType == "ShuffleMapTask", m.executorRunTime,
        m.executorCpuTime, m.executorDeserializeTime, sw.bytesWritten,
        sr.totalBytesRead, sw.recordsWritten, sr.fetchWaitTime,
        sw.writeTime, m.diskBytesSpilled, m.memoryBytesSpilled,
        m.peakExecutionMemory, m.inputMetrics.bytesRead,
        m.inputMetrics.recordsRead)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
    val start = ph.values.map(_.startTimeMs).minOption
      .getOrElse(System.currentTimeMillis())
    var fallbacks = 0
    foreach(qe.executedPlan) { p =>
      p.expressions.foreach(_.foreach {
        case _: CodegenFallback => fallbacks += 1
        case _ => ()
      })
    }
    synchronized {
      plans += PlanRec(start, ms("analysis"), ms("optimization"),
        ms("planning"), fallbacks)
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  def attach(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(spark: org.apache.spark.sql.SparkSession): Unit = {
    org.apache.spark.graftshim.ListenerShim.waitUntilEmpty(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}
