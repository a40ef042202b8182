package graft.runner

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-query measurement protocol — the reference's run_one_query
  * (M6–M8; reference: lakehouse_op/run_queries.py:597-705): clear cache →
  * set job group → wall clock → action (count | collect | show) → merge
  * scan metrics. Plan metrics come straight from the executed plan
  * (collect nodes carrying a `numFiles` metric — the reference greps node
  * names over a rendered plan instead, run_queries.py:165-200).
  */
object QueryRunner {

  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

  /** Every node of an executed plan, descending through the AQE wrappers
    * (AdaptiveSparkPlanExec / QueryStageExec report no children).
    */
  def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
    case q: QueryStageExec => p +: allNodes(q.plan)
    case other => other +: other.children.flatMap(allNodes)
  }

  case class QueryMetrics(
      name: String,
      rows: Long,
      wallSec: Double,
      filesScanned: Long,
      bytesScanned: Long,
      recordsRead: Long,
      executorRunTimeMs: Long,
      executorCpuTimeNs: Long,
      // bytes of the files the scans kept (plan `filesSize`)
      filesSize: Long = 0L)

  /** Actions the reference supports (run_queries.py:629-635).
    * `count` executes THIS dataframe's physical plan (toRdd.count) rather
    * than `df.count()`, which would build a separate derived query
    * execution and leave this plan's scan metrics at zero.
    */
  def runAction(df: DataFrame, action: String): Long = action match {
    case "count" => df.queryExecution.toRdd.count()
    case "collect" => df.collect().length.toLong
    case "show" => df.show(5); 5L
    case other => throw new IllegalArgumentException(s"unknown action $other")
  }

  def run(
      spark: SparkSession,
      df: => DataFrame,
      name: String,
      listener: Option[MetricsListener] = None,
      action: String = "count",
      warmup: Boolean = false,
      clearCache: Boolean = false,
      cacheMode: String = "none"): QueryMetrics = {
    if (clearCache) spark.catalog.clearCache()
    // L11 cache modes (reference: run_queries.py:555-566): "df" persists
    // and materializes the frame before the timed run; "catalog" is
    // spark.catalog.cacheTable — callers with named views use it directly.
    if (cacheMode == "df") {
      val cached = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      cached.count()
    }
    if (warmup) runAction(df, action) // discarded (run_queries.py:747-752)

    listener.foreach(_.reset(name))
    spark.sparkContext.setJobGroup(name, name, interruptOnCancel = false)
    val frame = df
    val t0 = System.nanoTime()
    val rows =
      try runAction(frame, action)
      finally {
        spark.sparkContext.clearJobGroup()
        Materialize.releaseAll()
      }
    val wall = (System.nanoTime() - t0) / 1e9

    // Plan-level scan metrics (M1): every scan node exposes numFiles.
    // AQE hides the real plan behind AdaptiveSparkPlanExec and
    // QueryStageExec wrappers (children = Nil), so traverse explicitly.
    val scans = allNodes(frame.queryExecution.executedPlan).filter(
      _.metrics.contains("numFiles"))
    val files = scans.map(_.metrics("numFiles").value).sum
    val planBytes = scans
      .flatMap(p => p.metrics.get("filesSize").map(_.value)).sum

    // TaskEnd events arrive on an async bus — drain before snapshotting
    // or the last tasks' metrics are still queued.
    if (listener.isDefined)
      org.apache.spark.graftbridge.SparkBridge.drainListenerBus(spark.sparkContext)
    val g = listener.map(_.snapshot(name))
    // Byte-source fallback chain mirroring the reference's metric merge
    // (run_queries.py:650-700): exact task metrics → plan filesSize →
    // the M2 inputFiles upper bound (sources whose scan node carries no
    // size metric, e.g. cached or non-file relations over files).
    val bytes = g.map(_.bytesRead).filter(_ > 0)
      .orElse(Some(planBytes).filter(_ > 0))
      .getOrElse(ByteProbes.inputFileBytes(frame))
    QueryMetrics(
      name = name,
      rows = rows,
      wallSec = wall,
      filesScanned = files,
      bytesScanned = bytes,
      recordsRead = g.map(_.recordsRead).getOrElse(0L),
      executorRunTimeMs = g.map(_.executorRunTimeMs).getOrElse(0L),
      executorCpuTimeNs = g.map(_.executorCpuTimeNs).getOrElse(0L),
      filesSize = planBytes)
  }

  /** Table-level cache control (L11; reference: run_queries.py:551-566
    * maybe_cache_table): `catalog` = SQL `CACHE TABLE` (eager since
    * Spark 3), `df` = persist + materialize the view's frame, `none` =
    * no-op.
    */
  def cacheTable(spark: SparkSession, table: String, mode: String): Unit = mode match {
    case "none" => ()
    case "catalog" => spark.sql(s"CACHE TABLE $table"); ()
    case "df" =>
      val df = spark.table(table)
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count(); ()
    case other => throw new IllegalArgumentException(s"unknown cache mode $other")
  }

  /** Inverse of [[cacheTable]] (run_queries.py:562-566). */
  def uncacheTable(spark: SparkSession, table: String, mode: String): Unit = mode match {
    case "none" => ()
    case "catalog" => spark.sql(s"UNCACHE TABLE $table"); ()
    case "df" => spark.table(table).unpersist(); ()
    case other => throw new IllegalArgumentException(s"unknown cache mode $other")
  }

  /** Results CSV sink (S13; reference: run_queries.py:734-768). */
  def writeCsv(path: String, rows: Seq[QueryMetrics]): Unit = {
    val header = "name,rows,wall_sec,files_scanned,bytes_scanned," +
      "records_read,executor_run_ms,executor_cpu_ns"
    val body = rows.map(m =>
      s"${m.name},${m.rows},${m.wallSec},${m.filesScanned},${m.bytesScanned}," +
        s"${m.recordsRead},${m.executorRunTimeMs},${m.executorCpuTimeNs}")
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (header +: body).mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
