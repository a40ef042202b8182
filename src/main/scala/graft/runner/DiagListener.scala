package graft.runner

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Global (not per-job-group) robustness counters for the bench sweep
  * (round-8 VERDICT "Next #1"): BENCH_r08 recorded a 55x wall-time
  * collapse on the cache-heavy queries that only an environment with
  * storage-memory pressure reproduces — wall time alone cannot explain
  * itself. The spill/GC sums distinguish "code got slower" from "cache
  * got evicted and recomputed"; round 9 exonerated both for q69's
  * residual, so round 10 adds the scheduling dimension (round-9 VERDICT
  * "Next #2"): per-query job/stage/task counts, summed scheduler delay
  * (task launch→finish time not spent running/deserializing/serializing
  * — queueing on a saturated scheduler or listener bus), and executor
  * deserialize time (closure + broadcast rehydration, the per-task cost
  * multiplied by many small round-jobs). `codegenCompiles` counts the
  * classes Janino compiled on the driver: a JVM-wide codegen metric, not
  * a listener event, so a delta also counts concurrent queries' compiles.
  */
class DiagListener extends SparkListener {

  private val memSpilled = new AtomicLong(0L)
  private val diskSpilled = new AtomicLong(0L)
  private val gcTimeMs = new AtomicLong(0L)
  private val jobs = new AtomicLong(0L)
  private val stages = new AtomicLong(0L)
  private val tasks = new AtomicLong(0L)
  private val schedulerDelayMs = new AtomicLong(0L)
  private val deserializeMs = new AtomicLong(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      memSpilled.addAndGet(m.memoryBytesSpilled)
      diskSpilled.addAndGet(m.diskBytesSpilled)
      gcTimeMs.addAndGet(m.jvmGCTime)
      deserializeMs.addAndGet(m.executorDeserializeTime)
      tasks.incrementAndGet()
      val info = e.taskInfo
      if (info != null && info.finishTime > 0) {
        // the standard UI decomposition: wall minus every attributed part
        // (gettingResultTime is 0 while fetching; guard the in-flight case)
        val gettingResult =
          if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime
          else 0L
        val delay = (info.finishTime - info.launchTime) -
          m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - gettingResult
        schedulerDelayMs.addAndGet(math.max(0L, delay))
      }
    }
  }

  case class Snapshot(memSpilled: Long, diskSpilled: Long, gcTimeMs: Long,
      jobs: Long, stages: Long, tasks: Long,
      schedulerDelayMs: Long, deserializeMs: Long, codegenCompiles: Long) {
    def -(prev: Snapshot): Snapshot = Snapshot(
      memSpilled - prev.memSpilled,
      diskSpilled - prev.diskSpilled,
      gcTimeMs - prev.gcTimeMs,
      jobs - prev.jobs,
      stages - prev.stages,
      tasks - prev.tasks,
      schedulerDelayMs - prev.schedulerDelayMs,
      deserializeMs - prev.deserializeMs,
      codegenCompiles - prev.codegenCompiles)
  }

  def snapshot(): Snapshot =
    Snapshot(memSpilled.get(), diskSpilled.get(), gcTimeMs.get(),
      jobs.get(), stages.get(), tasks.get(),
      schedulerDelayMs.get(), deserializeMs.get(),
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
}
