package graft.runner

import org.apache.spark.scheduler._

/** The engine's one metrics listener. It keeps two views of the same
  * TaskEnd payloads:
  *
  *  - per job group, the task-payload sums the event-log parser
  *    ([[EventLogMetrics]]) reads from a finished log — the same record
  *    type, so a live-vs-parsed gate is one `==` — and the group's job
  *    count. This replaces the
  *    reference's four-source metric harvest (REST polling with task
  *    dedup, eventlog 2-pass parse, run_queries.py:251-548): no HTTP, no
  *    files, no dedup races, identical numbers;
  *  - a whole-context total over every job, grouped or not, plus the
  *    dispatch counters a sweep needs to explain itself: a wall-time
  *    collapse with flat spill/GC is not "cache got evicted and
  *    recomputed"; job/stage/task counts, summed scheduler delay (task
  *    launch→finish time not spent running/deserializing/serializing —
  *    queueing on a saturated scheduler or listener bus) and executor
  *    deserialize time (closure + broadcast rehydration, multiplied by
  *    many small jobs) name the per-job dispatch share.
  *    `codegenCompiles` counts the classes Janino compiled on the driver:
  *    a JVM-wide codegen metric, not a listener event, so a delta also
  *    counts concurrent queries' compiles.
  *
  * Spark delivers a listener's events on one bus thread; the lock only
  * orders them against `snapshot`/`reset` calls from the caller.
  */
class MetricsListener extends SparkListener {
  import MetricsListener._

  private val stageToGroup = scala.collection.mutable.Map.empty[Int, String]
  private val groups = scala.collection.mutable.Map.empty[String, GroupMetrics]
  private val groupJobs = scala.collection.mutable.Map.empty[String, Long]
  private var total = Snapshot()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    synchronized {
      e.stageIds.foreach(stageToGroup(_) = group)
      if (group.nonEmpty) groupJobs(group) = groupJobs.getOrElse(group, 0L) + 1
      total = total.copy(jobs = total.jobs + 1)
    }
  }

  // Bound state: a stage's mapping is dead once the stage completes
  // (its TaskEnd events have already been delivered — the bus is FIFO).
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageToGroup.remove(e.stageInfo.stageId)
      total = total.copy(stages = total.stages + 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val d = GroupMetrics(m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.memoryBytesSpilled, m.diskBytesSpilled, tasks = 1)
      val info = e.taskInfo
      val delay =
        if (info == null || info.finishTime <= 0) 0L
        else {
          // the standard UI decomposition: wall minus every attributed part
          // (gettingResultTime is 0 while fetching; guard the in-flight case)
          val gettingResult =
            if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime
            else 0L
          math.max(0L, (info.finishTime - info.launchTime) -
            m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - gettingResult)
        }
      synchronized {
        val group = stageToGroup.getOrElse(e.stageId, "")
        if (group.nonEmpty) groups(group) = groups.getOrElse(group, GroupMetrics()) + d
        total = total.copy(task = total.task + d,
          schedulerDelayMs = total.schedulerDelayMs + delay,
          deserializeMs = total.deserializeMs + m.executorDeserializeTime)
      }
    }
  }

  /** Task-payload sums of one job group's tasks since its last [[reset]]. */
  def snapshot(group: String): GroupMetrics =
    synchronized(groups.getOrElse(group, GroupMetrics()))

  /** Jobs started in one job group since its last [[reset]]. */
  def jobs(group: String): Long = synchronized(groupJobs.getOrElse(group, 0L))

  def reset(group: String): Unit = synchronized {
    groups.remove(group); groupJobs.remove(group)
  }

  /** Whole-context totals since registration; diff two with `-`. */
  def snapshot(): Snapshot = synchronized(total).copy(codegenCompiles =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
}

object MetricsListener {

  /** Sums over TaskEnd payloads — the fields both the live listener and
    * the event-log parser read, so the two sources compare with `==`.
    */
  case class GroupMetrics(
      bytesRead: Long = 0L,
      recordsRead: Long = 0L,
      executorRunTimeMs: Long = 0L,
      executorCpuTimeNs: Long = 0L,
      gcTimeMs: Long = 0L,
      memorySpilledBytes: Long = 0L,
      diskSpilledBytes: Long = 0L,
      tasks: Int = 0) {
    def +(o: GroupMetrics): GroupMetrics = GroupMetrics(
      bytesRead + o.bytesRead, recordsRead + o.recordsRead,
      executorRunTimeMs + o.executorRunTimeMs,
      executorCpuTimeNs + o.executorCpuTimeNs,
      gcTimeMs + o.gcTimeMs,
      memorySpilledBytes + o.memorySpilledBytes,
      diskSpilledBytes + o.diskSpilledBytes,
      tasks + o.tasks)
    def -(o: GroupMetrics): GroupMetrics = GroupMetrics(
      bytesRead - o.bytesRead, recordsRead - o.recordsRead,
      executorRunTimeMs - o.executorRunTimeMs,
      executorCpuTimeNs - o.executorCpuTimeNs,
      gcTimeMs - o.gcTimeMs,
      memorySpilledBytes - o.memorySpilledBytes,
      diskSpilledBytes - o.diskSpilledBytes,
      tasks - o.tasks)
  }

  /** Whole-context totals: every task's payload plus dispatch counters. */
  case class Snapshot(task: GroupMetrics = GroupMetrics(), jobs: Long = 0L,
      stages: Long = 0L, schedulerDelayMs: Long = 0L, deserializeMs: Long = 0L,
      codegenCompiles: Long = 0L) {
    def -(prev: Snapshot): Snapshot = Snapshot(task - prev.task,
      jobs - prev.jobs, stages - prev.stages,
      schedulerDelayMs - prev.schedulerDelayMs,
      deserializeMs - prev.deserializeMs,
      codegenCompiles - prev.codegenCompiles)
  }
}
