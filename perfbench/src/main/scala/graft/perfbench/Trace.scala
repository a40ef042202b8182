package graft.perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark counters summed over the jobs of one span. */
case class Counters(
    jobs: Long = 0L,
    stages: Long = 0L,
    tasks: Long = 0L,
    schedDelayMs: Long = 0L,
    deserMs: Long = 0L,
    execRunMs: Long = 0L,
    execCpuMs: Long = 0L,
    bytesRead: Long = 0L,
    recordsRead: Long = 0L,
    shuffleBytes: Long = 0L,
    spillBytes: Long = 0L,
    jobSpanMs: Long = 0L,
    driverOnlyMs: Long = 0L)

/** Job- and task-level events of the whole run, kept per job so a span
  * can claim its jobs afterwards. Jobs are claimed by job group first and
  * by submission time second: AQE submits query stages from pool threads
  * whose call sites name no caller, so neither is enough alone.
  */
final class JobLog extends SparkListener {
  final class Job(val group: String, val startMs: Long) {
    var endMs: Long = -1L
    var completedStages = 0L
    var c = Counters()
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Job]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .orNull
    val j = new Job(group, e.time)
    e.stageIds.foreach(stageJob(_) = j)
    jobs(e.jobId) = j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.completedStages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    stageJob.get(e.stageId).foreach { j =>
      if (m != null) {
        // the UI's scheduler-delay decomposition (as DiagListener)
        val delay =
          if (info != null && info.finishTime > 0) {
            val gettingResult =
              if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime
              else 0L
            math.max(0L, (info.finishTime - info.launchTime) - m.executorRunTime -
              m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
          } else 0L
        val c = j.c
        j.c = c.copy(
          tasks = c.tasks + 1,
          schedDelayMs = c.schedDelayMs + delay,
          deserMs = c.deserMs + m.executorDeserializeTime,
          execRunMs = c.execRunMs + m.executorRunTime,
          execCpuMs = c.execCpuMs + m.executorCpuTime / 1000000L,
          bytesRead = c.bytesRead + m.inputMetrics.bytesRead,
          recordsRead = c.recordsRead + m.inputMetrics.recordsRead,
          shuffleBytes = c.shuffleBytes + m.shuffleWriteMetrics.bytesWritten,
          spillBytes = c.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  /** Jobs of span group `group`, plus jobs submitted in `[lo, hi]` that
    * carry no span's group (none, or one the program set itself), as
    * (start ms, end ms or -1, completed stages, counters).
    */
  def claim(group: String, lo: Long, hi: Long): Seq[(Long, Long, Long, Counters)] =
    synchronized {
      jobs.values.filter { j =>
        j.group == group || ((j.group == null || !j.group.startsWith(JobLog.Prefix)) &&
          j.startMs >= lo && j.startMs <= hi)
      }.map(j => (j.startMs, j.endMs, j.completedStages, j.c)).toSeq
    }
}

object JobLog {
  /** Job-group prefix of every span. */
  val Prefix = "perfbench-span-"
}

/** One traced call: its layer-qualified name, a tag grouping spans of
  * one pass or cycle, its wall time, and the Spark counters it caused.
  */
case class Span(name: String, tag: Int, wallMs: Double, counters: Counters)

/** Wraps each call the benchmark makes into a layer in a named span.
  * Disabled, `span` is a plain call: the untraced run registers no
  * listener and sets no job group, so it measures the program alone.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val log = new JobLog
  if (enabled) sc.addSparkListener(log)

  private case class Open(name: String, tag: Int, group: String,
      loMs: Long, hiMs: Long, wallMs: Double)
  private val pending = mutable.ArrayBuffer.empty[Open]
  private var seq = 0

  def span[T](name: String, tag: Int = 0)(body: => T): T =
    if (!enabled) body
    else {
      seq += 1
      val group = JobLog.Prefix + seq
      sc.setJobGroup(group, name, interruptOnCancel = false)
      val lo = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val wall = (System.nanoTime() - t0) / 1e6
        val hi = System.currentTimeMillis()
        sc.clearJobGroup()
        pending += Open(name, tag, group, lo, hi, wall)
      }
    }

  /** Resolve every span's counters. Call once, after the measured work:
    * it waits for the listener bus to deliver the run's events.
    */
  def spans(): Seq[Span] = {
    if (!enabled) return Nil
    org.apache.spark.graftbridge.SparkBridge.drainListenerBus(sc, 60000L)
    pending.toSeq.map { o =>
      val js = log.claim(o.group, o.loMs, o.hiMs)
      val intervals = js.map { case (start, end, _, _) => (start, if (end > 0) end else o.hiMs) }
      val sum = js.foldLeft(Counters()) { case (a, (_, _, stages, c)) =>
        Counters(a.jobs + 1, a.stages + stages, a.tasks + c.tasks,
          a.schedDelayMs + c.schedDelayMs, a.deserMs + c.deserMs,
          a.execRunMs + c.execRunMs, a.execCpuMs + c.execCpuMs,
          a.bytesRead + c.bytesRead, a.recordsRead + c.recordsRead,
          a.shuffleBytes + c.shuffleBytes, a.spillBytes + c.spillBytes)
      }
      Span(o.name, o.tag, o.wallMs, sum.copy(
        jobSpanMs = Stats.unionLength(intervals, o.loMs, o.hiMs),
        driverOnlyMs = Stats.driverOnly(intervals, o.loMs, o.hiMs)))
    }
  }

  def close(): Unit = if (enabled) sc.removeSparkListener(log)
}
