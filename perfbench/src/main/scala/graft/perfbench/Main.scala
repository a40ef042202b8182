package graft.perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: `--workload <name> --seed <n>
  * --seconds <s> --trace <0|1> --data <dir> --work <dir> --expected <dir>`.
  * Prints its run record as the last stdout line, prefixed
  * `PERFBENCH_RECORD `; `perfbench/run.py` turns it into the result line.
  */
object Main {
  /** The workloads BENCHMARK.json lists. */
  val Workloads = Seq("layout_rw", "curation")

  /** The end-to-end metrics every workload reports, with their units. */
  val EndToEnd: Seq[(String, String)] =
    Seq("setup_s" -> "s", "op_p50_ms" -> "ms", "cycle_s" -> "s", "peak_rss_mb" -> "MB")

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v
    }.toMap
    val workload = opts("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val work = java.nio.file.Paths.get(opts("work")).toAbsolutePath
    java.nio.file.Files.createDirectories(work)
    val cpus = Runtime.getRuntime.availableProcessors
    val dataDir = opts("data")
    val spark = graft.runner.Sessions
      .tuned(SparkSession.builder().master(s"local[$cpus]").appName("perfbench"),
        cpus.toString, dataDir)
      .config("spark.local.dir", work.resolve("spark").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = new Tracer(spark.sparkContext, opts("trace") == "1")
    val ctx = new Ctx(spark, tracer, opts("seed").toLong, opts("seconds").toInt,
      dataDir, work, java.nio.file.Paths.get(opts("expected")).toAbsolutePath)
    val rep = ctx.report
    try workload match {
      case "layout_rw" => LayoutRw.run(ctx)
      case "curation" => Curation.run(ctx)
    } catch {
      case scala.util.control.NonFatal(e) =>
        rep.failed += 1
        rep.attempted = math.max(rep.attempted, rep.failed)
        rep.failures += s"${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
    }
    val measured = ctx.measuredSeconds
    val hostEnd = Host.sample()
    tracer.close()
    spark.stop()
    rep.e2e("peak_rss_mb") = Metric(Host.peakRssMb(), "MB")
    rep.named("error_rate") = Metric(
      if (rep.attempted == 0) 1.0 else rep.failed.toDouble / rep.attempted, "ratio",
      rep.attempted.toInt)
    // a traced run reports every layer; one the workload never calls reads 0
    val layers =
      if (!tracer.enabled) rep.layers
      else Layers.All.map { case (n, u) => n -> rep.layers.getOrElse(n, Metric(0.0, u, 0)) }.toMap
    val record = Map(
      "workload" -> workload,
      "seed" -> ctx.seed,
      "trace" -> tracer.enabled,
      "data" -> dataDir,
      "seconds" -> ctx.seconds,
      "measured_s" -> measured,
      "correct" -> (rep.failed == 0 && rep.attempted > 0),
      "attempted" -> rep.attempted,
      "failed" -> rep.failed,
      "failures" -> rep.failures.take(20),
      "e2e" -> rep.e2e,
      "named" -> rep.named,
      "layers" -> scala.collection.immutable.ListMap(layers.toSeq.sortBy(
        kv => Layers.All.indexWhere(_._1 == kv._1)): _*),
      "host" -> Map(
        "nproc" -> cpus,
        "load1m_start" -> ctx.hostStart.load1m,
        "load1m_end" -> hostEnd.load1m,
        "steal_pct_setup" -> Host.stealPct(ctx.hostStart, ctx.hostMeasure),
        "steal_pct_measured" -> Host.stealPct(ctx.hostMeasure, hostEnd)),
      "info" -> rep.info)
    println("PERFBENCH_RECORD " + Json(record))
  }
}
