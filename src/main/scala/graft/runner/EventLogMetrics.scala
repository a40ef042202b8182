package graft.runner

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Post-hoc eventlog metric harvest — the reference's M5 source
  * (lakehouse_op/run_queries.py:203-548 two-pass eventlog parse): a
  * user auditing a FINISHED run has only the Spark event-log file; the
  * in-process [[MetricsListener]] (M4) cannot help there. This parser
  * reads the same TaskEnd metrics from the log and aggregates them per
  * job group, so post-hoc numbers match the live listener's exactly
  * (both sources are the task-end payload).
  *
  * Parity with the reference parser:
  *  - compressed logs open transparently (`.gz` like
  *    run_queries.py:374-378, plus `.zstd` — Spark 4's default eventlog
  *    codec — via the zstd-jni Spark already ships);
  *  - retried/speculative tasks are deduplicated by (stageId, taskId),
  *    preferring a SUCCESS end reason, then the higher attempt number
  *    (run_queries.py:309-325) — without this a cluster run with
  *    speculation double-counts bytes and CPU;
  *  - rolled files (`events_<n>_<appId>`) replay in their NUMERIC index
  *    order — a lexicographic sort would put events_10_ before
  *    events_2_, detaching TaskEnds from their JobStart's group;
  *  - multi-application directories parse with per-application state:
  *    stage IDs restart at 0 per app, so the stage→group map and the
  *    task dedup table reset at every application boundary
  *    (use [[parseByApp]] to keep apps separate; [[parse]] merges
  *    same-named groups across apps, summing).
  *
  * Driver-side streaming parse — one pass per file, never materializing
  * the log in memory. State is O(groups) + O(tasks-with-Task-ID) for the
  * dedup table (~48 bytes/task: a GB-scale log with 10M tasks needs
  * ~0.5 GB driver heap, the same asymptotic as the reference's
  * task-keyed dict). TaskEnd lines without a "Task Info" block (older
  * writers) are counted unconditionally, matching the pre-dedup
  * behavior.
  *
  * Ordering argument: `SparkListenerJobStart` precedes its stages'
  * `SparkListenerTaskEnd`s in the log (the bus is FIFO) and rolling
  * splits preserve event order across the numerically-sorted files, so
  * the stage→group map is always populated before use — the same
  * argument [[MetricsListener]] relies on.
  */
object EventLogMetrics {

  /** The live listener's record: parsed and live sums compare with `==`. */
  type GroupMetrics = MetricsListener.GroupMetrics
  val GroupMetrics = MetricsListener.GroupMetrics

  private def jLong(v: JValue): Long = v match {
    case JInt(i) => i.toLong
    case JLong(l) => l
    case JDouble(d) => d.toLong
    case _ => 0L
  }

  /** Rolled-file replay index: events_<n>_<appId>[.codec] → n; anything
    * else (single-file logs, appstatus markers already filtered) → -1 so
    * non-rolling names keep plain lexicographic order among themselves.
    */
  private val RolledName = """events_(\d+)_.*""".r
  private def rollIndex(name: String): Long = name match {
    case RolledName(n) => n.toLong
    case _ => -1L
  }

  /** Transparent decompression by extension. gz via java.util.zip;
    * zstd via the zstd-jni Spark bundles (its default eventlog codec).
    * lz4/snappy eventlogs are rejected loudly rather than misparsed.
    */
  private def open(f: java.nio.file.Path): java.io.BufferedReader = {
    val name = f.getFileName.toString
    val raw: java.io.InputStream = java.nio.file.Files.newInputStream(f)
    val in: java.io.InputStream =
      if (name.endsWith(".gz")) new java.util.zip.GZIPInputStream(raw)
      else if (name.endsWith(".zstd"))
        new com.github.luben.zstd.ZstdInputStream(raw)
      else if (name.endsWith(".lz4") || name.endsWith(".snappy")) {
        raw.close()
        throw new IllegalArgumentException(
          s"unsupported eventlog codec for $name (gz/zstd/plain supported)")
      } else raw
    new java.io.BufferedReader(new java.io.InputStreamReader(
      in, java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Strip compression extension so app grouping sees the logical name. */
  private def logicalName(name: String): String =
    name.stripSuffix(".gz").stripSuffix(".zstd")

  /** One application's ordered log files: the unit of parser state. */
  private def appGroups(path: String): Seq[Seq[java.nio.file.Path]] = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.isDirectory(p)) return Seq(Seq(p))
    val s = java.nio.file.Files.walk(p, 3)
    val files =
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter { f =>
          val n = f.getFileName.toString
          java.nio.file.Files.isRegularFile(f) &&
            !n.startsWith(".") && !n.startsWith("appstatus_")
        }.toVector
      } finally s.close()
    // App identity: the eventlog_v2_<appId> rolling dir, else the single
    // file itself. Within an app, rolled files replay by numeric index.
    files
      .groupBy { f =>
        val parent = f.getParent.getFileName.toString
        if (parent.startsWith("eventlog_v2_")) f.getParent.toString
        else f.toString
      }
      .toSeq.sortBy(_._1)
      .map { case (_, fs) =>
        fs.sortBy(f => (rollIndex(logicalName(f.getFileName.toString)),
          f.getFileName.toString))
      }
  }

  /** Per-task dedup record: the chosen attempt's rank and its deltas so a
    * better attempt can retract them (single pass, no re-read).
    */
  private final case class TaskRec(rank: Long, group: String, d: GroupMetrics)

  /** Parse one event-log file (or a directory) into per-job-group
    * metrics, merged across applications (same-named groups sum). Tasks
    * of jobs with no group land under "".
    */
  def parse(path: String): Map[String, GroupMetrics] =
    parseByApp(path).values
      .foldLeft(Map.empty[String, GroupMetrics]) { (acc, app) =>
        app.foldLeft(acc) { case (a, (g, m)) =>
          a.updated(g, a.getOrElse(g, GroupMetrics()) + m)
        }
      }

  /** Parse keyed by application id (directory name / file name), each
    * application with fresh stage→group and dedup state.
    */
  def parseByApp(path: String): Map[String, Map[String, GroupMetrics]] =
    appGroups(path).map { fs =>
      val appId = {
        val head = fs.head
        val parent = head.getParent.getFileName.toString
        if (parent.startsWith("eventlog_v2_")) parent.stripPrefix("eventlog_v2_")
        else logicalName(head.getFileName.toString)
      }
      appId -> parseApp(fs)
    }.toMap

  private def parseApp(files: Seq[java.nio.file.Path]): Map[String, GroupMetrics] = {
    val stageToGroup = scala.collection.mutable.Map.empty[Int, String]
    val groups = scala.collection.mutable.Map.empty[String, GroupMetrics]
    // (stageId << 32 | taskIndex-independent Task ID low bits) would
    // collide for >2^32 tasks; key by the (stageId, taskId) pair directly.
    val seen = scala.collection.mutable.Map.empty[(Int, Long), TaskRec]
    files.foreach { f =>
      val reader = open(f)
      try {
        var line = reader.readLine()
        while (line != null) {
          if (line.contains("SparkListenerJobStart")) {
            val j = JsonMethods.parse(line)
            if ((j \ "Event") == JString("SparkListenerJobStart")) {
              val group = (j \ "Properties" \ "spark.jobGroup.id") match {
                case JString(g) => g
                case _ => ""
              }
              (j \ "Stage IDs") match {
                case JArray(ids) => ids.foreach(id => stageToGroup(jLong(id).toInt) = group)
                case _ => (j \ "Stage Infos") match {
                  case JArray(infos) => infos.foreach(si =>
                    stageToGroup(jLong(si \ "Stage ID").toInt) = group)
                  case _ => ()
                }
              }
            }
          } else if (line.contains("SparkListenerTaskEnd")) {
            val j = JsonMethods.parse(line)
            if ((j \ "Event") == JString("SparkListenerTaskEnd")) {
              val stageId = jLong(j \ "Stage ID").toInt
              val group = stageToGroup.getOrElse(stageId, "")
              val tm = j \ "Task Metrics"
              if (tm != JNothing) {
                val d = GroupMetrics(
                  bytesRead = jLong(tm \ "Input Metrics" \ "Bytes Read"),
                  recordsRead = jLong(tm \ "Input Metrics" \ "Records Read"),
                  executorRunTimeMs = jLong(tm \ "Executor Run Time"),
                  executorCpuTimeNs = jLong(tm \ "Executor CPU Time"),
                  gcTimeMs = jLong(tm \ "JVM GC Time"),
                  memorySpilledBytes = jLong(tm \ "Memory Bytes Spilled"),
                  diskSpilledBytes = jLong(tm \ "Disk Bytes Spilled"),
                  tasks = 1)
                val taskInfo = j \ "Task Info"
                val taskId = taskInfo \ "Task ID"
                if (taskId == JNothing) {
                  // no Task Info block (older writer): count unconditionally
                  groups(group) = groups.getOrElse(group, GroupMetrics()) + d
                } else {
                  // dedup retried/speculative attempts: SUCCESS beats any
                  // failure, then the higher attempt number, then the later
                  // line (strict > keeps the first on exact ties).
                  val success =
                    (j \ "Task End Reason" \ "Reason") == JString("Success")
                  val attempt = jLong(taskInfo \ "Attempt")
                  val rank = (if (success) 1L << 62 else 0L) + attempt
                  val key = (stageId, jLong(taskId))
                  seen.get(key) match {
                    case Some(prev) if prev.rank >= rank => () // keep prev
                    case prev =>
                      prev.foreach(p =>
                        groups(p.group) = groups(p.group) - p.d)
                      seen(key) = TaskRec(rank, group, d)
                      groups(group) = groups.getOrElse(group, GroupMetrics()) + d
                  }
                }
              }
            }
          }
          line = reader.readLine()
        }
      } finally reader.close()
    }
    groups.toMap
  }
}
