package graft.runner

import java.util.concurrent.atomic.AtomicLong

import graft.SparkTestBase
import org.apache.spark.scheduler._
import org.apache.spark.sql.functions._
import scala.collection.concurrent.TrieMap

/** Parity of the merged [[MetricsListener]] with the two listeners it
  * replaced: the old global listener's dispatch/spill/GC counters and
  * the old per-job-group sums. All three read the same delivered
  * events, so every field is an equality.
  */
class MetricsListenerSuite extends SparkTestBase {

  /** The replaced global listener, verbatim. */
  private class RefGlobalListener extends SparkListener {
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
        schedulerDelayMs: Long, deserializeMs: Long, codegenCompiles: Long)

    def snapshot(): Snapshot =
      Snapshot(memSpilled.get(), diskSpilled.get(), gcTimeMs.get(),
        jobs.get(), stages.get(), tasks.get(),
        schedulerDelayMs.get(), deserializeMs.get(),
        org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
  }

  /** The replaced per-job-group listener, verbatim. */
  private class RefGroupListener extends SparkListener {
    case class GroupMetrics(
        var bytesRead: Long = 0L,
        var recordsRead: Long = 0L,
        var executorRunTimeMs: Long = 0L,
        var executorCpuTimeNs: Long = 0L,
        var tasks: Int = 0)

    private val stageToGroup = TrieMap.empty[Int, String]
    private val groups = TrieMap.empty[String, GroupMetrics]

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      e.stageIds.foreach(stageToGroup(_) = group)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageToGroup.remove(e.stageInfo.stageId)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val group = stageToGroup.getOrElse(e.stageId, "")
      if (group.nonEmpty && e.taskMetrics != null) {
        val g = groups.getOrElseUpdate(group, GroupMetrics())
        g.synchronized {
          g.bytesRead += e.taskMetrics.inputMetrics.bytesRead
          g.recordsRead += e.taskMetrics.inputMetrics.recordsRead
          g.executorRunTimeMs += e.taskMetrics.executorRunTime
          g.executorCpuTimeNs += e.taskMetrics.executorCpuTime
          g.tasks += 1
        }
      }
    }

    def snapshot(group: String): GroupMetrics =
      groups.getOrElse(group, GroupMetrics())
  }

  test("merged listener equals the replaced global and per-group listeners") {
    val dir = tmpDir("metrics_listener")
    spark.range(0, 20000, 1, 4).withColumn("k", col("id") % 13)
      .write.mode("overwrite").parquet(dir)
    val sc = spark.sparkContext
    // the write's events must not reach one listener and miss another
    org.apache.spark.graftbridge.SparkBridge.drainListenerBus(sc)
    val merged = new MetricsListener
    val refGlobal = new RefGlobalListener
    val refGroup = new RefGroupListener
    Seq(merged, refGlobal, refGroup).foreach(sc.addSparkListener)
    try {
      // one grouped and one ungrouped job, each reading input and shuffling
      sc.setJobGroup("grouped", "grouped", false)
      try spark.read.parquet(dir).groupBy("k").agg(sum("id")).collect()
      finally sc.clearJobGroup()
      spark.read.parquet(dir).groupBy(col("id") % 7).count().collect()
      org.apache.spark.graftbridge.SparkBridge.drainListenerBus(sc)

      val total = merged.snapshot()
      val old = refGlobal.snapshot()
      assert(old.jobs >= 2 && old.stages >= 2 && old.tasks > 0, s"vacuous run: $old")
      assert(total.task.memorySpilledBytes == old.memSpilled)
      assert(total.task.diskSpilledBytes == old.diskSpilled)
      assert(total.task.gcTimeMs == old.gcTimeMs)
      assert(total.jobs == old.jobs)
      assert(total.stages == old.stages)
      assert(total.task.tasks == old.tasks)
      assert(total.schedulerDelayMs == old.schedulerDelayMs)
      assert(total.deserializeMs == old.deserializeMs)
      assert(total.codegenCompiles == old.codegenCompiles)

      Seq("grouped", "").foreach { g =>
        val m = merged.snapshot(g)
        val r = refGroup.snapshot(g)
        assert(m.bytesRead == r.bytesRead, g)
        assert(m.recordsRead == r.recordsRead, g)
        assert(m.executorRunTimeMs == r.executorRunTimeMs, g)
        assert(m.executorCpuTimeNs == r.executorCpuTimeNs, g)
        assert(m.tasks == r.tasks, g)
      }
      assert(merged.snapshot("grouped").bytesRead > 0)
      assert(merged.snapshot("").tasks == 0, "ungrouped tasks stay out of the groups")
    } finally Seq(merged, refGlobal, refGroup).foreach(sc.removeSparkListener)
  }

  test("whole-context snapshots diff field by field") {
    val a = MetricsListener.Snapshot(
      MetricsListener.GroupMetrics(1, 2, 3, 4, 5, 6, 7, 8), 9, 10, 11, 12, 13)
    val b = MetricsListener.Snapshot(
      MetricsListener.GroupMetrics(2, 4, 6, 8, 10, 12, 14, 16), 18, 20, 22, 24, 26)
    assert(b - a == a)
    assert(a - a == MetricsListener.Snapshot())
  }
}
