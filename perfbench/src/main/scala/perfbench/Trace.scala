package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call. `pass` is the measured pass it belongs to (-1 outside
  * the measured phase); times are JVM nanoTime, wall-clock ms for stage
  * overlap. */
final case class Span(id: Int, name: String, parent: Int, pass: Int, start: Long, startMs: Long) {
  var end: Long = start
  var endMs: Long = startMs
  def seconds: Double = (end - start) / 1e9
  def group: String = Tracer.GroupPrefix + id
}

object Tracer {
  val GroupPrefix = "perfbench-span-"
}

/** In-memory span recorder. Each span runs its Spark jobs under its own job
  * group, so [[StageListener]] can attribute task metrics to it. When
  * `enabled` is false every call is a plain pass-through. While
  * `recording` is false only root spans are kept, which leaves a pass
  * untraced apart from the job group that keeps its tasks attributed. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  var pass: Int = -1
  var recording: Boolean = true
  private var stack: List[Span] = Nil

  def span[T](name: String)(body: => T): T = {
    if (!enabled || (!recording && stack.nonEmpty)) return body
    val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), pass,
      System.nanoTime(), System.currentTimeMillis())
    spans += s
    stack = s :: stack
    sc.setJobGroup(s.group, name, interruptOnCancel = false)
    try body
    finally {
      s.end = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(p.group, p.name, interruptOnCancel = false)
        case None    => sc.clearJobGroup()
      }
    }
  }

  def children: Map[Int, Seq[Span]] = spans.toSeq.filter(_.parent >= 0).groupBy(_.parent)
  def roots: Seq[Span] = spans.toSeq.filter(_.parent < 0)

  /** All spans in the subtree of `s`, itself included. */
  def subtree(s: Span): Seq[Span] = {
    val kids = children
    def go(x: Span): Seq[Span] = x +: kids.getOrElse(x.id, Nil).flatMap(go)
    go(s)
  }

  def rootOf(s: Span): Span = {
    var cur = s
    while (cur.parent >= 0) cur = spans(cur.parent)
    cur
  }
}

/** Task totals of one job group, or of the whole run. */
final class TaskTotals {
  var cpuNs = 0L
  var runMs = 0L
  var tasks = 0L
  var stages = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L

  def +=(o: TaskTotals): Unit = {
    cpuNs += o.cpuNs; runMs += o.runMs; tasks += o.tasks; stages += o.stages
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes; inputBytes += o.inputBytes
  }
}

/** Spark listener that sums task metrics per job group and records every
  * stage's [submission, completion) window. Read it only after
  * [[org.apache.spark.PerfbenchBus.drain]]. */
final class StageListener extends SparkListener {
  val total = new TaskTotals
  private val byGroup = mutable.HashMap.empty[String, TaskTotals]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val windows = mutable.ArrayBuffer.empty[(Long, Long)]

  private def acc(g: String): TaskTotals = byGroup.getOrElseUpdate(g, new TaskTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime) windows += ((s, c))
    val g = stageGroup.getOrElse(i.stageId, "")
    acc(g).stages += 1
    total.stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m == null) return
    val g = stageGroup.getOrElse(e.stageId, "")
    for (t <- Seq(acc(g), total)) {
      t.cpuNs += m.executorCpuTime
      t.runMs += m.executorRunTime
      t.tasks += 1
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      t.inputBytes += m.inputMetrics.bytesRead
    }
  }

  def group(g: String): TaskTotals = synchronized(byGroup.getOrElse(g, new TaskTotals))
  def unattributed: TaskTotals = group("")
  def stageWindows: Seq[(Long, Long)] = synchronized(windows.toSeq)

  /** Totals over the given spans' own job groups. */
  def sum(spans: Seq[Span]): TaskTotals = {
    val t = new TaskTotals
    spans.foreach(s => t += group(s.group))
    t
  }
}

/** Driver-JVM garbage-collection time and heap high-water mark. In local
  * mode the executors share this JVM, so these cover task work too. */
object Jvm {
  def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  /** Sum of the heap pools' own peaks: an upper bound of the peak heap,
    * since the pools need not peak at the same moment. */
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
}
