package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}

/** Spark work seen since the last [[reset]]: per-task aggregates (max
  * single-task peak execution memory, summed GC time and shuffle
  * write — Bench's per-row attribution) and, while `recordJobs` is on,
  * one `(jobId, startMs, endMs, description)` row per finished job
  * (RunQuery's `--jobs` table). */
private[graft] final class WorkListener extends SparkListener {
  @volatile var peakExecMem: Long = 0L
  @volatile var gcTimeMs: Long = 0L
  @volatile var shuffleWriteBytes: Long = 0L
  @volatile var recordJobs = false
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long, String)]()
  private val starts =
    new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()

  def reset(): Unit = {
    peakExecMem = 0L; gcTimeMs = 0L; shuffleWriteBytes = 0L
    jobs.clear()
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) {
      peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
      gcTimeMs += m.jvmGCTime
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }

  override def onJobStart(j: SparkListenerJobStart): Unit =
    if (recordJobs) starts.put(j.jobId,
      (j.time, Option(j.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .orElse(j.stageInfos.headOption.map(_.name)).getOrElse("")))

  override def onJobEnd(j: SparkListenerJobEnd): Unit = {
    val s = starts.remove(j.jobId)
    if (s != null) jobs.add((j.jobId, s._1, j.time, s._2))
  }
}
