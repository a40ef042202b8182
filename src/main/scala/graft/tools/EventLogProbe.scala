package graft.tools

import org.apache.spark.sql.SparkSession

/** Fidelity check for [[graft.runner.EventLogMetrics]] (M5): run a
  * job-grouped query in a session that writes a REAL Spark event log,
  * capture the same run through the live [[graft.runner
  * .MetricsListener]] (M4), then parse the finished log and compare —
  * both sources read TaskEnd payloads and produce the same record, so
  * the two must be equal.
  *
  * Usage: runMain graft.tools.EventLogProbe [sfDir]
  */
object EventLogProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val ok = probe(sfDir, compress = false, "")
    // second pass: a COMPRESSED log (Spark's default eventlog codec is
    // zstd) through the same live-vs-parsed gate
    val ok2 = probe(sfDir, compress = true, "zstd ")
    if (!ok || !ok2) sys.exit(1)
  }

  /** One grouped query in a fresh session logging to a fresh dir; prints
    * both sources' records and returns whether they are equal.
    */
  private def probe(sfDir: String, compress: Boolean, label: String): Boolean = {
    val logDir = java.nio.file.Files.createTempDirectory("graft_eventlog_")
    val spark = graft.runner.Sessions
      .tuned(SparkSession.builder().master("local[8]"), "8")
      .config("spark.eventLog.enabled", "true")
      .config("spark.eventLog.dir", logDir.toUri.toString)
      .config("spark.eventLog.compress", compress.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val listener = new graft.runner.MetricsListener
    spark.sparkContext.addSparkListener(listener)

    spark.sparkContext.setJobGroup("probe_q1", "eventlog probe", false)
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().collect()
    spark.sparkContext.clearJobGroup()
    org.apache.spark.graftbridge.SparkBridge
      .drainListenerBus(spark.sparkContext)
    val live = listener.snapshot("probe_q1")
    spark.stop()

    // the finished log is the one file in the dir (Spark may suffix the
    // app id, e.g. ".inprogress" until close or a compression ext)
    val parsed = graft.runner.EventLogMetrics
      .parse(logDir.toString)("probe_q1")
    println(s"${label}live:   $live")
    println(s"${label}parsed: $parsed")
    println(s"${label}match=${live == parsed}")
    live == parsed
  }
}
