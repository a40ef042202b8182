package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Streaming-curation throughput (round-13 VERDICT "Next #8 stretch"):
  * the foreachBatch curation sink ([[graft.streaming.EventStream
  * .curationSink]]) is correctness-pinned by suite (stream == rebuild
  * incl. checkpoint replay) but was never timed. This probe drives the
  * tail of the corpus through the REAL streaming engine (file source,
  * maxFilesPerTrigger=1 → one fold per micro-batch, AvailableNow
  * trigger) against a state built from the head, then folds the
  * IDENTICAL batches through direct `Curate.runAdd` calls — the
  * stream-engine overhead per fold is the difference.
  *
  * Usage: runMain graft.tools.StreamBench [sfDir] [workDir] [nBatches]
  * Prints one JSON line: per-batch stream seconds (from the query's
  * own progress events), per-batch direct-fold seconds, totals,
  * overhead, and the corpora-identical check.
  *
  * SPARK_GRAFT_EVENTLOG=1 (round-16, VERDICT r15 stretch #7): writes a
  * compressed Spark event log for the whole soak and, after the session
  * closes, asserts the post-hoc parser (M5) equals the live listener
  * (M4) for every direct-fold job group — M4/M5 parity under a
  * long-lived session with upserts, sidecar maintenance and compaction
  * churn, not just the bench's per-query smoke. (Streaming micro-batch
  * jobs run on the stream's own thread with engine-assigned group ids,
  * so the per-fold gate covers the direct passes.)
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val work = args.lift(1).getOrElse("/tmp/graft_streambench")
    val nBatches = args.lift(2).map(_.toInt).getOrElse(5)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val eventLogGate = sys.env.get("SPARK_GRAFT_EVENTLOG").contains("1")
    val eventLogDir =
      if (eventLogGate)
        Some(java.nio.file.Files.createTempDirectory("graft_soak_elog_"))
      else None
    val builder0 = graft.runner.Sessions
      .tuned(SparkSession.builder().master(s"local[$cpus]"), cpus)
    val spark = eventLogDir.fold(builder0)(d => builder0
      .config("spark.eventLog.enabled", "true")
      .config("spark.eventLog.dir", d.toUri.toString)
      .config("spark.eventLog.compress", "true"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def rmrf(p: String): Unit = {
      def rec(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rec)); f.delete()
      }
      rec(new java.io.File(p))
    }
    rmrf(work)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(work))

    // drift context IN the artifact (r16 stretch #8)
    val calFirst = graft.runner.Calibration.measure(spark, sfDir)

    // head 70% builds the base state; the tail streams in, in nBatches
    // id-ordered files (monotone doc_ids per micro-batch — the sink's
    // replay-guard contract)
    val docs = graft.Tables.load(spark, sfDir, "documents")
    val cut = docs.agg(expr("percentile_approx(doc_id, 0.7)"))
      .collect()(0).getLong(0)
    docs.filter(col("doc_id") <= cut)
      .write.parquet(s"$work/base/documents.parquet")
    val tail = docs.filter(col("doc_id") > cut)
    val bounds = tail.stat.approxQuantile("doc_id",
      (1 until nBatches).map(_.toDouble / nBatches).toArray, 0.001)
      .map(_.toLong)
    val feed = s"$work/feed"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(feed))
    val batchDirs = (0 until nBatches).map { i =>
      val lo = if (i == 0) Long.MinValue else bounds(i - 1)
      val hi = if (i == nBatches - 1) Long.MaxValue else bounds(i)
      val d = s"$work/batches/b$i"
      val rows = tail.filter(col("doc_id") > lo && col("doc_id") <= hi)
      rows.coalesce(1).write.parquet(s"$d/documents.parquet")
      // one data file per batch into the stream feed, written in id
      // order so the file source (oldest-first) folds monotonically
      val part = new java.io.File(s"$d/documents.parquet").listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(feed, f"feed_$i%03d.parquet"))
      Thread.sleep(1100) // distinct mtimes: deterministic source order
      d
    }
    val schema = spark.read.parquet(s"$work/base/documents.parquet").schema

    // ---- base state, twice (stream and direct folds must not share)
    graft.cli.Curate.run(spark, s"$work/base", s"$work/inc_stream", 100L)
    graft.cli.Curate.run(spark, s"$work/base", s"$work/inc_direct", 100L)

    // ---- streaming pass: one fold per micro-batch, timed by the
    // engine's own progress events (batch duration includes the
    // foreachBatch fold)
    val streamSecs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0)
          streamSecs.synchronized {
            streamSecs += e.progress.batchDuration / 1e3
          }
    }
    spark.streams.addListener(listener)
    val t0 = System.nanoTime()
    val q = graft.streaming.EventStream.curationSink(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(feed),
        s"$work/inc_stream", 100L)
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamWall = (System.nanoTime() - t0) / 1e9
    spark.streams.removeListener(listener)

    // ---- direct-fold pass over the identical batches, each fold its
    // own job group so the eventlog gate can pin parser==listener per fold
    val gateListener = new graft.runner.MetricsListener
    if (eventLogGate) spark.sparkContext.addSparkListener(gateListener)
    System.gc()
    val directSecs = batchDirs.zipWithIndex.map { case (d, i) =>
      if (eventLogGate)
        spark.sparkContext.setJobGroup(f"fold_$i%03d", s"direct fold $i", false)
      val t = System.nanoTime()
      graft.cli.Curate.runAdd(spark, d, s"$work/inc_direct", 100L)
      val sec = (System.nanoTime() - t) / 1e9
      if (eventLogGate) spark.sparkContext.clearJobGroup()
      sec
    }

    // fold == fold: both states hold the identical curated corpus
    def corpus(dir: String) = spark.read.parquet(s"$dir/docs")
      .select("doc_id", "split").collect().map(_.toSeq)
      .sortBy(_.head.toString.toLong)
    val same = corpus(s"$work/inc_stream").sameElements(
      corpus(s"$work/inc_direct"))

    // last probe must run BEFORE the eventlog gate stops the session
    val calLast = graft.runner.Calibration.measure(spark, sfDir)
    val calJson = graft.runner.Calibration.inRunJson(calFirst, calLast)

    def f3(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def arr(xs: Seq[Double]) = xs.map(f3).mkString("[", ",", "]")
    val sTot = streamSecs.sum
    val dTot = directSecs.sum
    // the eventlog gate needs the log finalized: snapshot the live
    // listener, stop the session, parse the log, compare per fold group
    val gateJson =
      if (!eventLogGate) ""
      else {
        org.apache.spark.graftbridge.SparkBridge
          .drainListenerBus(spark.sparkContext)
        val names = (0 until nBatches).map(i => f"fold_$i%03d")
        val live = names.map(n => n -> gateListener.snapshot(n)).toMap
        spark.stop()
        val parsed = graft.runner.EventLogMetrics.parse(eventLogDir.get.toString)
        val bad = names.filter(n =>
          live(n) != parsed.getOrElse(n, graft.runner.EventLogMetrics.GroupMetrics()))
        bad.foreach(n => System.err.println(s"[streambench] eventlog gate MISMATCH $n"))
        s""","eventlog_gate_ok":${bad.isEmpty},"eventlog_groups":${names.size}"""
      }
    println(s"""{"sf":"$sfDir","n_batches":$nBatches,""" +
      s""""stream_batch_sec":${arr(streamSecs.toSeq)},""" +
      s""""direct_fold_sec":${arr(directSecs)},""" +
      s""""stream_total_sec":${f3(sTot)},"stream_wall_sec":${f3(streamWall)},""" +
      s""""direct_total_sec":${f3(dTot)},""" +
      s""""overhead_pct":${f3(100.0 * (sTot - dTot) / dTot)},""" +
      s""""outputs_identical":$same,"calibration":$calJson$gateJson}""")
    if (!eventLogGate) spark.stop()
  }
}
