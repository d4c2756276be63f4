package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** One timed call into a layer. Times are epoch milliseconds, the clock
  * Spark's job events use, so job intervals can be clipped to spans. */
final case class Span(id: Long, parent: Long, name: String, thread: String,
                      startMs: Long, startNs: Long) {
  @volatile var endMs: Long = 0L
  @volatile var endNs: Long = 0L
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span (jobs it started, their stages and
  * tasks), or to span 0 when no span was active. */
final class Work {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var peakExecBytes = 0L
  var filesRead = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_s" -> taskMs / 1e3,
    "shuffle_read_mb" -> shuffleReadBytes / 1e6,
    "shuffle_write_mb" -> shuffleWriteBytes / 1e6,
    "spill_mb" -> spillBytes / 1e6,
    "gc_s" -> gcMs / 1e3,
    "peak_exec_mb" -> peakExecBytes / 1e6,
    "files_read" -> filesRead,
    "job_s" -> Tracer.unionMs(jobIntervals.toSeq) / 1e3)
}

/** Span recorder. Disabled, `span` is a plain call: no listener, no local
  * property, no bookkeeping — the untimed path the end-to-end numbers
  * come from. Enabled, each span tags the Spark jobs its thread (and
  * threads it creates) starts with the local property [[Tracer.Key]], and
  * a listener sums their stages and task metrics per span. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val ids = new AtomicLong(0L)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = new InheritableThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val listener = if (enabled) Some(new SpanListener) else None
  listener.foreach(sc.addSparkListener)

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val sp = Span(id, stack.get.headOption.getOrElse(0L), name,
        Thread.currentThread.getName, System.currentTimeMillis(), System.nanoTime())
      val prev = sc.getLocalProperty(Tracer.Key)
      stack.set(id :: stack.get)
      sc.setLocalProperty(Tracer.Key, id.toString)
      try f
      finally {
        sp.endNs = System.nanoTime()
        sp.endMs = System.currentTimeMillis()
        stack.set(stack.get.tail)
        sc.setLocalProperty(Tracer.Key, prev)
        done.add(sp)
      }
    }

  /** Every finished span with its own Spark work, its job time (union
    * of its jobs' intervals, descendants' jobs included) and its driver
    * gap (wall minus that job time), plus the job time of jobs no span
    * claimed. Waits for the listener bus to drain first. */
  def report(): Map[String, Any] = listener match {
    case None => Map.empty
    case Some(l) =>
      org.apache.spark.PerfbenchBus.drain(sc)
      val spans = done.asScala.toSeq.sortBy(_.id)
      val children = spans.groupBy(_.parent)
      def subtree(id: Long): Seq[Long] =
        id +: children.getOrElse(id, Nil).flatMap(c => subtree(c.id))
      val work = l.snapshot()
      val rows = spans.map { sp =>
        val jobs = subtree(sp.id).flatMap(i => work.get(i).toSeq.flatMap(_.jobIntervals))
          .map { case (a, b) => (math.max(a, sp.startMs), math.min(b, sp.endMs)) }
          .filter { case (a, b) => b > a }
        val jobS = Tracer.unionMs(jobs) / 1e3
        Map[String, Any]("id" -> sp.id, "parent" -> sp.parent, "name" -> sp.name,
          "thread" -> sp.thread, "start_ms" -> sp.startMs, "end_ms" -> sp.endMs,
          "wall_s" -> sp.wallS, "job_s" -> jobS,
          "driver_gap_s" -> math.max(0.0, sp.wallS - jobS),
          "work" -> work.get(sp.id).map(_.toMap).getOrElse(new Work().toMap))
      }
      Map("spans" -> rows,
        "unattributed" -> work.get(0L).map(_.toMap).getOrElse(new Work().toMap))
  }
}

object Tracer {
  val Key = "perfbench.span"

  /** Total length of the union of [start, end) millisecond intervals. */
  def unionMs(xs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    xs.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a
        curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** Attributes jobs, stages, tasks and scanned files to the span whose id
  * the job carries in its properties (0 = none). Runs on the listener
  * bus thread; [[snapshot]] copies under the same lock. */
private final class SpanListener extends SparkListener {
  private val work = mutable.HashMap.empty[Long, Work]
  private val stageSpan = mutable.HashMap.empty[Int, Long]
  private val jobSpan = mutable.HashMap.empty[Int, (Long, Long)]
  private val execSpan = mutable.HashMap.empty[Long, Long]
  private val execFiles = mutable.HashMap.empty[Long, Long]
  private val filesAccums = mutable.HashSet.empty[Long]

  private def w(span: Long): Work = work.getOrElseUpdate(span, new Work)

  private def prop(p: java.util.Properties, k: String): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(k)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = prop(e.properties, Tracer.Key).map(_.toLong).getOrElse(0L)
    jobSpan(e.jobId) = (span, e.time)
    e.stageInfos.foreach(si => stageSpan(si.stageId) = span)
    prop(e.properties, "spark.sql.execution.id").foreach(x =>
      execSpan.getOrElseUpdate(x.toLong, span))
    w(span).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (span, t0) =>
      w(span).jobIntervals += ((t0, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    w(stageSpan.getOrElse(e.stageInfo.stageId, 0L)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val x = w(stageSpan.getOrElse(e.stageId, 0L))
    x.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      x.taskMs += m.executorRunTime
      x.shuffleReadBytes += m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead
      x.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      x.spillBytes += m.diskBytesSpilled
      x.gcMs += m.jvmGCTime
      x.peakExecBytes = math.max(x.peakExecBytes, m.peakExecutionMemory)
    }
  }

  private def collectFileAccums(p: SparkPlanInfo): Unit = {
    p.metrics.filter(_.name == "number of files read").foreach(filesAccums += _.accumulatorId)
    p.children.foreach(collectFileAccums)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart => collectFileAccums(s.sparkPlanInfo)
      case a: SparkListenerSQLAdaptiveExecutionUpdate => collectFileAccums(a.sparkPlanInfo)
      case d: SparkListenerDriverAccumUpdates =>
        val n = d.accumUpdates.collect { case (id, v) if filesAccums(id) => v }.sum
        if (n > 0) execFiles(d.executionId) = execFiles.getOrElse(d.executionId, 0L) + n
      case _ =>
    }
  }

  def snapshot(): Map[Long, Work] = synchronized {
    execFiles.foreach { case (exec, n) => w(execSpan.getOrElse(exec, 0L)).filesRead += n }
    execFiles.clear()
    work.toMap
  }
}
