package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark-side counters of one span (a phase of one operation). */
final class SpanCounters {
  val jobs = new LongAdder
  val stages = new LongAdder
  val oneTaskStages = new LongAdder
  val tasks = new LongAdder
  val failedTasks = new LongAdder
  val cpuNs = new LongAdder
  val runMs = new LongAdder
  val shuffleBytes = new LongAdder
  val spillBytes = new LongAdder

  def toMap: Map[String, Long] = Map(
    "jobs" -> jobs.sum, "stages" -> stages.sum,
    "one_task_stages" -> oneTaskStages.sum, "tasks" -> tasks.sum,
    "failed_tasks" -> failedTasks.sum, "cpu_ns" -> cpuNs.sum,
    "run_ms" -> runMs.sum, "shuffle_bytes" -> shuffleBytes.sum,
    "spill_bytes" -> spillBytes.sum)
}

/** Attributes every Spark job, stage and task to the span that
  * launched it.
  *
  * The caller tags its thread with [[Tracer.SpanKey]] through
  * `SparkContext.setLocalProperty` before each phase; Spark copies the
  * thread's local properties into each job it submits (also from the
  * broadcast and subquery threads it forks), and the listener reads
  * the tag back from `SparkListenerJobStart.properties`. Untagged jobs
  * land in [[Tracer.Untagged]].
  */
final class Tracer extends SparkListener {
  import Tracer._

  private val spans = new ConcurrentHashMap[String, SpanCounters]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  /** Executor cpu of every task, tagged or not. */
  val allCpuNs = new AtomicLong

  def counters(span: String): SpanCounters =
    spans.computeIfAbsent(span, _ => new SpanCounters)

  def snapshot: Map[String, Map[String, Long]] =
    spans.asScala.iterator.map { case (k, v) => k -> v.toMap }.toMap

  def reset(): Unit = { spans.clear(); stageSpan.clear() }

  /** Sums of every counter over all spans, tagged or not. */
  def totals: Map[String, Long] =
    spans.values.asScala.map(_.toMap).foldLeft(Map.empty[String, Long]) { (acc, m) =>
      m.foldLeft(acc) { case (a, (k, v)) => a.updated(k, a.getOrElse(k, 0L) + v) }
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    val span =
      if (p == null) Untagged
      else Option(p.getProperty(SpanKey)).getOrElse(Untagged)
    counters(span).jobs.increment()
    e.stageIds.foreach(id => stageSpan.put(id, span))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val c = counters(stageSpan.getOrDefault(info.stageId, Untagged))
    c.stages.increment()
    if (info.numTasks == 1) c.oneTaskStages.increment()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counters(stageSpan.getOrDefault(e.stageId, Untagged))
    c.tasks.increment()
    if (!e.taskInfo.successful) c.failedTasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      c.cpuNs.add(m.executorCpuTime)
      allCpuNs.addAndGet(m.executorCpuTime)
      c.runMs.add(m.executorRunTime)
      c.shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
      c.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val Untagged = "untagged"

  /** Runs `body` with the calling thread tagged as `span`. */
  def within[A](sc: SparkContext, span: String)(body: => A): A = {
    val prior = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, span)
    try body finally sc.setLocalProperty(SpanKey, prior)
  }
}
