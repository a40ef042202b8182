package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract). Runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR with one discarded warmup pass (reference warmup
  * protocol: lakehouse_op/run_queries.py:747-752), then prints ONE JSON
  * line with per-query measured seconds.
  *
  * Self-diagnosing sweep (round-8 VERDICT "Next #1"): alongside wall
  * time, every measured run records task-side spill bytes, task GC time,
  * the peak tracked-cache footprint, and any budget evictions into
  * BENCH_RUNS.json — so an environment-induced collapse (storage-memory
  * pressure evicting caches, the BENCH_r08 q69=114s artifact) names its
  * cause in the artifact instead of masquerading as a code regression.
  */
object Bench {
  /** The two declared O(n^2) oracle baselines (q30 brute-force n-gram
    * Jaccard, q33 brute-force embedding pairs) exist to validate their
    * scalable twins (q29/q31x, q33b/q33c), not to represent the engine;
    * the default sweep excludes them so ~2 s of intentional quadratic
    * work stops charging the scorecard (round-8 VERDICT "Next #7"). Run
    * them with `Bench baselines`; Verify still gates them every round.
    */
  val baselineQueries: Set[String] = Set("q30_ngram_jaccard", "q33_emb_top_pairs")

  def main(args: Array[String]): Unit = {
    // optional args(0): "baselines" runs ONLY the declared quadratic
    // baselines; any other value is a regex filter over query names
    // (e.g. "tpch" for the 22-stream set at a scaled corpus); the
    // driver runs unfiltered -> headline set (baselines excluded)
    val arg = args.headOption
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Session profile mirrors the reference's M8 conf set
    // (run_queries.py:46-62): AQE (+skew join), 256m split size,
    // vectorized parquet reader, 50 MB broadcast threshold.
    // SPARK_GRAFT_EVENTLOG=1: write a real Spark event log and, after the
    // sweep, gate the post-hoc parser (M5) against the live listener (M4)
    // per query group — the end-to-end fidelity check VERDICT r14 Next #6
    // asked for (results/eventlog_gate.json).
    val eventLogGate = sys.env.get("SPARK_GRAFT_EVENTLOG").contains("1")
    val eventLogDir =
      if (eventLogGate) Some(java.nio.file.Files.createTempDirectory("graft_bench_elog_"))
      else None
    val builder0 = graft.runner.Sessions
      .tuned(SparkSession.builder().master(s"local[$cpus]"), cpus, sfDir)
    val builder = eventLogDir.fold(builder0)(d => builder0
      .config("spark.eventLog.enabled", "true")
      .config("spark.eventLog.dir", d.toUri.toString)
      .config("spark.eventLog.compress", "true"))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    System.err.println(s"[bench] shuffle.partitions=" +
      spark.conf.get("spark.sql.shuffle.partitions"))
    // per-run totals, and per-query groups for the eventlog gate
    val metrics = new graft.runner.MetricsListener
    spark.sparkContext.addSparkListener(metrics)
    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    def driverGcMs(): Long = {
      var t = 0L; gcBeans.forEach(b => t += math.max(0L, b.getCollectionTime)); t
    }
    val allNames = SparkEntry.queries.keys.toSeq.sorted
    val names = arg match {
      case Some("baselines") => allNames.filter(baselineQueries)
      case Some(re) => allNames.filter(n => re.r.findFirstIn(n).isDefined)
      case None => allNames.filterNot(baselineQueries)
    }
    // drift calibration (round-15 VERDICT Next #1): fixed probes first...
    val calFirst = graft.runner.Calibration.measure(spark, sfDir)
    var leakedCaches = 0
    // task_gc and driver_gc are recorded SEPARATELY (round-9 ADVICE): in
    // local mode every concurrent task observes the same JVM pause, so
    // summed task jvmGCTime can legitimately exceed wall time up to the
    // parallelism factor, and the driver MX-bean delta overlaps it again
    // — one merged number misleads the regression-vs-environment triage.
    case class Run(sec: Double, spillMb: Long, taskGcMs: Long, driverGcMs: Long,
        cachedMb: Long, evictions: Int, jobs: Long, stages: Long, tasks: Long,
        schedMs: Long, deserMs: Long, codegenCompiles: Long)
    val results = names.map { name =>
      val fn = SparkEntry.queries(name)
      def once(): Run = {
        org.apache.spark.graftbridge.SparkBridge.drainListenerBus(spark.sparkContext)
        graft.runner.Materialize.resetDiag()
        val d0 = metrics.snapshot(); val g0 = driverGcMs()
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[bench] $name failed: ${e.getClass.getName}: ${e.getMessage}")
            return Run(-1.0, 0L, 0L, 0L, 0L, 0, 0L, 0L, 0L, 0L, 0L, 0L)
        } finally {
          // leak-free AND honest: frames a builder registered via
          // Materialize.track are dropped after EVERY run, so each
          // measured run recomputes them exactly once (no warm cache
          // carry-over — round 2's fake-fast q30/q31 pathology)
          // one CacheManager sweep instead of per-frame analyzed-plan
          // canonicalization: the release runs INSIDE the timed window
          // (leak-free protocol), so its driver cost was charged to
          // every tracked-heavy query (2.7-3.9s/fold measured in the
          // r13 curation work; proportionally smaller but real here)
          graft.runner.Materialize.releaseAllFast(spark)
        }
        val sec = (System.nanoTime() - t0) / 1e9
        org.apache.spark.graftbridge.SparkBridge.drainListenerBus(spark.sparkContext)
        val d = metrics.snapshot() - d0
        Run(sec,
          spillMb = (d.task.memorySpilledBytes + d.task.diskSpilledBytes) / 1048576L,
          taskGcMs = d.task.gcTimeMs,
          driverGcMs = math.max(0L, driverGcMs() - g0),
          cachedMb = graft.runner.Materialize.peakTrackedBytes / 1048576L,
          evictions = graft.runner.Materialize.evictions,
          jobs = d.jobs, stages = d.stages, tasks = d.task.tasks,
          schedMs = d.schedulerDelayMs, deserMs = d.deserializeMs,
          codegenCompiles = d.codegenCompiles)
      }
      // Spark's ContextCleaner reclaims shuffle files / broadcast blocks
      // only when their driver-side references are GARBAGE-COLLECTED — a
      // tight sweep loop never GCs, so each query inherits the previous
      // queries' accumulated state (the q2-after-q29 2x pollution rounds
      // 2–5 kept measuring). One forced GC per query, OUTSIDE the timed
      // window, lets the cleaner settle before the warmup run.
      System.gc()
      if (eventLogGate) spark.sparkContext.setJobGroup(name, name, false)
      once() // warmup (discarded)
      // two measured runs: min is the headline (absorbs JIT/GC noise);
      // both runs are recorded so cross-query pollution stays visible
      // (round-3 VERDICT #7)
      val r1 = once(); val r2 = once()
      if (eventLogGate) spark.sparkContext.clearJobGroup()
      // invariant, observable per round-5 VERDICT #7: builders must not
      // leave persisted frames behind (Materialize protocol) — count and
      // contain any straggler so one leak can't taint the whole sweep
      val leaked = spark.sparkContext.getPersistentRDDs
      if (leaked.nonEmpty) {
        leakedCaches += leaked.size
        System.err.println(s"[bench] $name leaked ${leaked.size} cached RDD(s)")
        leaked.values.foreach(_.unpersist(blocking = false))
      }
      (name, math.min(r1.sec, r2.sec), Seq(r1, r2))
    }
    // The driver keeps only a short tail of stdout, so the one printed
    // line is budgeted to fit it: ms precision, and the contract
    // "queries" map LAST so front-truncation can't eat it. The full
    // two-run detail (cross-query pollution visibility, round-3 VERDICT
    // #7) plus the per-run spill/GC/cache diagnostics go to
    // BENCH_RUNS.json beside the repo instead.
    // ...and last, so drift WITHIN the sweep is visible too. The drift
    // factor is the WORSE of the mean cpu ratio (bulk-throughput drift,
    // the r15 signature) and the mean tiny-jobs ratio (dispatch-overhead
    // drift from external load on the shared host, which leaves the
    // saturating cpu probe ~flat while many-small-stage queries inflate
    // uniformly — observed in r16 at external loadavg ~6). Max is the
    // conservative pick for both directions; the normalized total sits
    // beside the raw one.
    //
    // Round-17 (VERDICT Next #3): ratios are SELF-RELATIVE — refs are
    // re-pinned per run as the rolling min over the committed quiet-end
    // history plus this run's own quiet end, so the drift factor is
    // defensible from in-artifact data alone (r16's final artifact read
    // cpu_ratio 0.59 against the hand-pinned constants — they don't
    // transfer across hosts/JVM states). The pinned-constant ratios
    // stay in the artifact as a secondary signal with a disagree flag.
    val calLast = graft.runner.Calibration.measure(spark, sfDir)
    val calQuiet = graft.runner.Calibration.quietEnd(calFirst, calLast)
    val calHistPath = java.nio.file.Paths.get("results/calibration_history.jsonl")
    // repin only over SAME-SF, SAME-HOST history entries: the scan probe
    // reads the sweep's own lineitem, so a quiet end recorded under a
    // GRAFT_BENCH_ARTIFACT_SF override at another scale would poison the
    // rolling scan minimum for every later canonical sweep, and probe
    // seconds from a host with other cores or another CPU model are not
    // this host's quiet end. Both filters run inside loadHistory
    // (pre-window): other entries must not consume HistoryKeep slots and
    // evict comparable quiet ends (r17 ADVICE #1)
    val host = graft.runner.Calibration.hostFingerprint()
    val selfRefs = graft.runner.Calibration.sameHostRefs(
      calHistPath, sfDir, host, calQuiet)
    val drift = graft.runner.Calibration.driftFactor(
      calFirst, calLast, selfRefs.cpu, selfRefs.jobs)
    val driftPinned = graft.runner.Calibration.driftFactor(calFirst, calLast,
      graft.runner.Calibration.CpuRefSec, graft.runner.Calibration.JobsRefSec)
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    val runs = results.map { case (k, _, rs) =>
      "\"" + k + "\":{" +
        "\"sec\":[" + rs.map(r => f3(r.sec)).mkString(",") + "]," +
        "\"spill_mb\":[" + rs.map(_.spillMb).mkString(",") + "]," +
        "\"task_gc_ms\":[" + rs.map(_.taskGcMs).mkString(",") + "]," +
        "\"driver_gc_ms\":[" + rs.map(_.driverGcMs).mkString(",") + "]," +
        "\"cached_mb\":[" + rs.map(_.cachedMb).mkString(",") + "]," +
        "\"evictions\":[" + rs.map(_.evictions).mkString(",") + "]," +
        "\"jobs\":[" + rs.map(_.jobs).mkString(",") + "]," +
        "\"stages\":[" + rs.map(_.stages).mkString(",") + "]," +
        "\"tasks\":[" + rs.map(_.tasks).mkString(",") + "]," +
        "\"sched_ms\":[" + rs.map(_.schedMs).mkString(",") + "]," +
        "\"deser_ms\":[" + rs.map(_.deserMs).mkString(",") + "]," +
        "\"codegen_compiles\":[" + rs.map(_.codegenCompiles).mkString(",") + "]}"
    }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // only a FULL sweep AT THE CANONICAL SF records the committed two-run
    // detail — a filtered or small-sf dev run writes a sibling dev file
    // instead of clobbering the sweep artifact beside the repo (an
    // unfiltered sf0.01 iteration run clobbered it in r16). The canonical
    // sf is the DIRECTORY BASENAME (not a path suffix, which a
    // differently-named sf0.1 dir would silently miss — r16 ADVICE) and
    // is overridable via GRAFT_BENCH_ARTIFACT_SF for a driver that
    // benches at another scale; the choice is logged either way.
    val canonicalSf = sys.env.getOrElse("GRAFT_BENCH_ARTIFACT_SF", "sf0.1")
    val sfBase = graft.runner.Calibration.sfBase(sfDir) // as the history filter
    val runsFile =
      if (arg.isEmpty && sfBase == canonicalSf) "BENCH_RUNS.json"
      else "BENCH_RUNS_DEV.json"
    System.err.println(s"[bench] runs artifact -> $runsFile " +
      s"(sf dir basename '$sfBase', canonical '$canonicalSf', filter=$arg)")
    // history entries come only from full canonical sweeps (the scan
    // probe reads the sweep's own lineitem, so quiet ends at other sfs
    // aren't comparable); reading/repinning works for any run
    if (runsFile == "BENCH_RUNS.json")
      graft.runner.Calibration.appendHistory(calHistPath,
        graft.runner.Calibration.QuietEnd(
          System.currentTimeMillis() / 1000L, sfDir,
          calQuiet._1, calQuiet._2, calQuiet._3, Some(host)))
    val calJson = s"""{"first":${calFirst.json},"last":${calLast.json},""" +
      s""""self_refs":{"cpu_sec":${f3(selfRefs.cpu)},""" +
      s""""scan_sec":${f3(selfRefs.scan)},"jobs_sec":${f3(selfRefs.jobs)},""" +
      s""""n_history":${selfRefs.nHistory}},""" +
      s""""pinned_refs":{"cpu_sec":${graft.runner.Calibration.CpuRefSec},""" +
      s""""scan_sec":${graft.runner.Calibration.ScanRefSec},""" +
      s""""jobs_sec":${graft.runner.Calibration.JobsRefSec}},""" +
      s""""refs_disagree":${graft.runner.Calibration.refsDisagree(selfRefs)},""" +
      s""""drift":${f3(drift)},"drift_pinned":${f3(driftPinned)}}"""
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(runsFile),
      s"""{"sf":"$sfDir","cache_budget_mb":${graft.runner.Materialize.budgetBytes / 1048576L},"calibration":$calJson,"excluded_baselines":${baselineQueries.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")},"runs":$runs}""" + "\n")
    catch { case scala.util.control.NonFatal(_) => () }
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","sf":"$sfDir","drift":${f3(drift)},"total_normalized":${f3(total / math.max(drift, 1e-9))},"leaked_caches":$leakedCaches,"queries":$qs}""")
    if (eventLogGate) {
      org.apache.spark.graftbridge.SparkBridge.drainListenerBus(spark.sparkContext)
      val live = names.map(n => n -> metrics.snapshot(n)).toMap
      spark.stop() // flush + finalize the event log before parsing
      val parsed = graft.runner.EventLogMetrics.parse(eventLogDir.get.toString)
      val rows = names.map { n =>
        val l = live(n)
        val p = parsed.getOrElse(n, graft.runner.EventLogMetrics.GroupMetrics())
        val ok = l == p
        if (!ok) System.err.println(s"[bench] eventlog gate MISMATCH $n: live=$l parsed=$p")
        s"""{"query":"$n","ok":$ok,"tasks":${p.tasks},"bytes":${p.bytesRead}}"""
      }
      val allOk = !rows.exists(_.contains("\"ok\":false"))
      new java.io.File("results").mkdirs()
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get("results/eventlog_gate.json"),
        s"""{"sf":"$sfDir","all_ok":$allOk,"n_queries":${names.size},"rows":${rows.mkString("[", ",", "]")}}""" + "\n")
      catch { case scala.util.control.NonFatal(_) => () }
      System.err.println(s"[bench] eventlog gate all_ok=$allOk over ${names.size} queries")
    } else spark.stop()
  }
}
