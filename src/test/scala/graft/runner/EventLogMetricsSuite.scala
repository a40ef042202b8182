package graft.runner

import org.scalatest.funsuite.AnyFunSuite

/** [[EventLogMetrics]] (M5): per-group aggregation over the standard
  * JSON-lines event-log shape. Field names pinned against a real Spark
  * 4.1.2 log via tools/EventLogProbe (live listener == parsed log).
  */
class EventLogMetricsSuite extends AnyFunSuite {

  private def taskEnd(stage: Int, bytes: Long, records: Long, runMs: Long,
      cpuNs: Long, gcMs: Long, memSpill: Long, diskSpill: Long): String =
    s"""{"Event":"SparkListenerTaskEnd","Stage ID":$stage,"Stage Attempt ID":0,""" +
      s""""Task Type":"ResultTask","Task End Reason":{"Reason":"Success"},""" +
      s""""Task Metrics":{"Executor Run Time":$runMs,"Executor CPU Time":$cpuNs,""" +
      s""""JVM GC Time":$gcMs,"Memory Bytes Spilled":$memSpill,""" +
      s""""Disk Bytes Spilled":$diskSpill,""" +
      s""""Input Metrics":{"Bytes Read":$bytes,"Records Read":$records}}}"""

  private def jobStart(job: Int, stages: Seq[Int], group: Option[String]): String = {
    val props = group.map(g => s""""spark.jobGroup.id":"$g"""").getOrElse("")
    s"""{"Event":"SparkListenerJobStart","Job ID":$job,""" +
      s""""Stage IDs":[${stages.mkString(",")}],"Properties":{$props}}"""
  }

  test("per-group aggregation, ungrouped jobs under empty key, junk lines skipped") {
    val log = Seq(
      """{"Event":"SparkListenerApplicationStart","App Name":"x"}""",
      jobStart(0, Seq(0, 1), Some("q1")),
      taskEnd(0, 100, 10, 5, 5000000, 1, 0, 0),
      taskEnd(0, 200, 20, 7, 7000000, 0, 64, 32),
      taskEnd(1, 50, 5, 3, 3000000, 0, 0, 0),
      jobStart(1, Seq(2), Some("q2")),
      taskEnd(2, 1000, 100, 11, 1000, 2, 0, 0),
      jobStart(2, Seq(3), None), // no group -> ""
      taskEnd(3, 7, 1, 1, 1, 0, 0, 0),
      """not json at all""",
      """{"Event":"SparkListenerStageCompleted","Stage Info":{"Stage ID":0}}""")
    val dir = java.nio.file.Files.createTempDirectory("graft_elog_")
    val f = dir.resolve("app-1")
    java.nio.file.Files.write(f,
      log.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))

    val m = EventLogMetrics.parse(f.toString)
    val q1 = m("q1")
    assert(q1.bytesRead == 350 && q1.recordsRead == 35 && q1.tasks == 3)
    assert(q1.executorRunTimeMs == 15 && q1.executorCpuTimeNs == 15000000)
    assert(q1.gcTimeMs == 1 && q1.memorySpilledBytes == 64 &&
      q1.diskSpilledBytes == 32)
    val q2 = m("q2")
    assert(q2.bytesRead == 1000 && q2.tasks == 1)
    assert(m("").bytesRead == 7 && m("").tasks == 1)

    // directory form (rolled logs): same totals
    val m2 = EventLogMetrics.parse(dir.toString)
    assert(m2("q1") == q1 && m2("q2") == q2)
  }

  private def taskEndAttempt(stage: Int, taskId: Long, attempt: Int,
      success: Boolean, bytes: Long): String = {
    val reason = if (success) """{"Reason":"Success"}"""
      else """{"Reason":"TaskKilled","Kill Reason":"another attempt succeeded"}"""
    s"""{"Event":"SparkListenerTaskEnd","Stage ID":$stage,"Stage Attempt ID":0,""" +
      s""""Task Type":"ResultTask","Task End Reason":$reason,""" +
      s""""Task Info":{"Task ID":$taskId,"Index":0,"Attempt":$attempt},""" +
      s""""Task Metrics":{"Executor Run Time":10,"Executor CPU Time":1000,""" +
      s""""JVM GC Time":0,"Memory Bytes Spilled":0,"Disk Bytes Spilled":0,""" +
      s""""Input Metrics":{"Bytes Read":$bytes,"Records Read":1}}}"""
  }

  test("speculative/retried task attempts dedup: SUCCESS wins, then higher attempt") {
    val log = Seq(
      jobStart(0, Seq(0), Some("g")),
      // speculative duplicate: killed attempt 1 AND successful attempt 0
      taskEndAttempt(0, 7L, attempt = 0, success = true, bytes = 100),
      taskEndAttempt(0, 7L, attempt = 1, success = false, bytes = 999),
      // retry: failed attempt 0 then successful attempt 1 (order reversed)
      taskEndAttempt(0, 8L, attempt = 0, success = false, bytes = 555),
      taskEndAttempt(0, 8L, attempt = 1, success = true, bytes = 200),
      // two successes (stage retry edge): higher attempt wins
      taskEndAttempt(0, 9L, attempt = 0, success = true, bytes = 111),
      taskEndAttempt(0, 9L, attempt = 1, success = true, bytes = 300))
    val dir = java.nio.file.Files.createTempDirectory("graft_elog_dedup_")
    val f = dir.resolve("app-dedup")
    java.nio.file.Files.write(f,
      log.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val g = EventLogMetrics.parse(f.toString)("g")
    assert(g.tasks == 3, s"each task counted once, got ${g.tasks}")
    assert(g.bytesRead == 600, s"winning attempts only: ${g.bytesRead}")
  }

  test("gz log parses identically to its plain twin") {
    val log = Seq(
      jobStart(0, Seq(0), Some("gz")),
      taskEnd(0, 123, 45, 6, 7, 0, 0, 0)).mkString("\n")
    val dir = java.nio.file.Files.createTempDirectory("graft_elog_gz_")
    val plain = dir.resolve("app-plain")
    java.nio.file.Files.write(plain,
      log.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val gz = dir.resolve("app-comp.gz")
    val out = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(gz))
    out.write(log.getBytes(java.nio.charset.StandardCharsets.UTF_8)); out.close()
    assert(EventLogMetrics.parse(gz.toString) ==
      EventLogMetrics.parse(plain.toString))
    // zstd too — Spark 4's default eventlog codec
    val zst = dir.resolve("app-comp.zstd")
    val zout = new com.github.luben.zstd.ZstdOutputStream(
      java.nio.file.Files.newOutputStream(zst))
    zout.write(log.getBytes(java.nio.charset.StandardCharsets.UTF_8)); zout.close()
    assert(EventLogMetrics.parse(zst.toString) ==
      EventLogMetrics.parse(plain.toString))
  }

  test("rolled files replay in numeric index order (events_10 after events_2)") {
    // JobStart for stage 0 lives in roll #2; its TaskEnd in roll #10.
    // Lexicographic order would parse #10 first and misattribute to "".
    val dir = java.nio.file.Files.createTempDirectory("graft_elog_roll_")
    val app = dir.resolve("eventlog_v2_app-r")
    java.nio.file.Files.createDirectory(app)
    java.nio.file.Files.write(app.resolve("appstatus_app-r"), Array.empty[Byte])
    java.nio.file.Files.write(app.resolve("events_2_app-r"),
      jobStart(0, Seq(0), Some("rolled"))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.write(app.resolve("events_10_app-r"),
      taskEnd(0, 77, 7, 1, 1, 0, 0, 0)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val m = EventLogMetrics.parse(dir.toString)
    assert(m.get("rolled").exists(_.bytesRead == 77),
      s"TaskEnd must land under its JobStart's group, got $m")
    assert(!m.contains("") || m("").tasks == 0)
  }

  test("multi-app directory: per-app stage maps, parseByApp keeps apps apart") {
    // Both apps use stage 0; app B has no job group. A shared stage map
    // would attribute B's task to A's group.
    val dir = java.nio.file.Files.createTempDirectory("graft_elog_apps_")
    java.nio.file.Files.write(dir.resolve("app-A"),
      Seq(jobStart(0, Seq(0), Some("ga")), taskEnd(0, 10, 1, 1, 1, 0, 0, 0))
        .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.write(dir.resolve("app-B"),
      Seq(jobStart(0, Seq(0), None), taskEnd(0, 1000, 1, 1, 1, 0, 0, 0))
        .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val merged = EventLogMetrics.parse(dir.toString)
    assert(merged("ga").bytesRead == 10, s"app B's task leaked into ga: $merged")
    assert(merged("").bytesRead == 1000)
    val byApp = EventLogMetrics.parseByApp(dir.toString)
    assert(byApp("app-A") == Map("ga" ->
      EventLogMetrics.GroupMetrics(10, 1, 1, 1, 0, 0, 0, 1)))
    assert(byApp("app-B")("").bytesRead == 1000)
  }

  test("live-vs-parsed gate: equal records match, any one differing field fails") {
    val r = EventLogMetrics.GroupMetrics(10, 1, 2, 3, 4, 5, 6, 7)
    val live: MetricsListener.GroupMetrics = r.copy()
    assert(live == r)
    val oneOff = Seq(
      r.copy(bytesRead = r.bytesRead + 1),
      r.copy(recordsRead = r.recordsRead + 1),
      r.copy(executorRunTimeMs = r.executorRunTimeMs + 1),
      r.copy(executorCpuTimeNs = r.executorCpuTimeNs + 1),
      r.copy(gcTimeMs = r.gcTimeMs + 1),
      r.copy(memorySpilledBytes = r.memorySpilledBytes + 1),
      r.copy(diskSpilledBytes = r.diskSpilledBytes + 1),
      r.copy(tasks = r.tasks + 1))
    assert(oneOff.distinct.size == r.productArity, "one variant per field")
    oneOff.foreach(d => assert(d != r, s"$d must not match $r"))
  }
}
