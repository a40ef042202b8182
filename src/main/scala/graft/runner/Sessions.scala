package graft.runner

import org.apache.spark.sql.SparkSession

/** The engine's shared session profile (M8; reference:
  * lakehouse_op/run_queries.py:46-62 and tpch_all_runner.py:105-121):
  * AQE with skew-join handling, 256m scan splits, vectorized parquet,
  * 50 MB broadcast threshold, UTC, nanos-as-long parquet timestamps.
  *
  * `canChangeCachedPlanOutputPartitioning` lets AQE right-size the
  * partitioning of persisted frames (Materialize.track) — without it a
  * cached plan keeps the static shuffle width and every downstream
  * stage pays per-task scheduling overhead regardless of data volume
  * (measured 2x on the dedup pipelines at sf0.1).
  */
object Sessions {

  /** Entries of Spark's JVM-wide generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100). One curation
    * benchmark JVM (full build, four folds, q69 and q72, cycle after
    * cycle) uses 340-390 distinct generated classes. Under the default
    * the LRU evicted every class before its next use, so each cycle
    * recompiled ~160 classes per fold, ~165 per full build and 80-90
    * per gate query in Janino, on the driver. 1000 is 2.5-3x that
    * working set, and the benchmark's peak RSS did not move with it. It
    * is a constant, not an option: the conf is static and
    * `CodeGenerator` reads it once, under the JVM's first session, so a
    * per-caller value could not take effect. The test session
    * (SparkTestBase) sets the same constant.
    */
  val CodegenCacheEntries: Int = 1000

  /** Shuffle width derived from input volume (round-11 VERDICT "What's
    * wrong #1"): `max(cpus, dirBytes / 32 MB)`, capped at 4096. A fixed
    * partitions=cpus pin stops fitting once one shuffle outgrows the
    * per-partition memory band. Note the original round-11 spill theory
    * was REFUTED by round-12 task metrics (results/r12_notes.md):
    * spill_mb = 0 at every width on SF16 q63/q41; those queries are
    * GC-throughput-bound in a single JVM (ParallelGC cut q63
    * 14.9 -> 8.8 s at unchanged width), and width moved them little and
    * non-monotonically. The RULE survives the refutation on its own
    * merits: 32 MB of on-disk parquet per partition ≈ 100-200 MB
    * shuffled (decompressed, row-format) keeps per-task shuffle state
    * bounded on a real multi-executor cluster, where each executor heap
    * holds only its own partitions. AQE coalescing shrinks small stages
    * back down, so the rule only sets the CEILING a big shuffle may use.
    * Small corpora stay at cpus — a blanket high initialPartitionNum
    * was measured 2.7x WORSE on multi-stage queries at sf0.1
    * (q89 1.64 s -> 4.47 s) from per-stage scheduling overhead.
    * This is the rule a 100x deployment inherits: width follows data
    * volume, not a config constant.
    */
  def shufflePartitionsFor(dataDir: String, cpus: Int): Int =
    sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS").map(_.toInt).getOrElse {
      val bytes =
        try {
          val root = java.nio.file.Paths.get(dataDir)
          if (!java.nio.file.Files.exists(root)) 0L
          else {
            val s = java.nio.file.Files.walk(root)
            try s.filter(java.nio.file.Files.isRegularFile(_))
              .mapToLong(java.nio.file.Files.size(_)).sum()
            finally s.close()
          }
        } catch { case scala.util.control.NonFatal(_) => 0L }
      // A non-local dataDir (hdfs://, s3a://) or an IO error sizes to 0
      // and silently reverts to the fixed cpus pin — the exact behavior
      // this rule exists to replace. Make that visible so a misconfigured
      // deployment sets SPARK_GRAFT_SHUFFLE_PARTITIONS instead.
      if (bytes == 0L)
        System.err.println(
          s"[graft] shufflePartitionsFor: could not size '$dataDir' " +
            s"(remote path or IO error); falling back to width=$cpus. " +
            "Set SPARK_GRAFT_SHUFFLE_PARTITIONS explicitly for remote data.")
      math.min(4096L, math.max(cpus.toLong, bytes / (32L * 1024 * 1024))).toInt
    }

  /** Session profile with data-volume-scaled shuffle width — the form
    * every data-dir-aware main (Bench, RunQueries, Scenario) uses.
    */
  def tuned(builder: SparkSession.Builder, cpus: String,
      dataDir: String): SparkSession.Builder =
    tuned(builder, cpus)
      .config("spark.sql.shuffle.partitions",
        shufflePartitionsFor(dataDir, cpus.toInt).toString)

  /** Memory-derived broadcast budget: the size up to which a join side
    * whose TRUE size is known (AQE runtime stats, manifest zone stats)
    * may broadcast, even though the static 50 MB threshold — tuned for
    * Spark's naive full-table estimates — would not dare. heap/16
    * clamped to [64 MB, 256 MB]: a hashed relation costs ~3x its bytes
    * to build, so 256 MB stays under 1 GB of executor memory, safe for
    * any executor this engine targets (4 GB+). The q57/TPC-H-Q9 sf32
    * cliff (BENCH_SF32_TPCH.json): the p_name-filtered part side is
    * 55 MB REAL — broadcasting it halves the query; the fixed 50 MB
    * conf forced the shuffle regime until sf64. Override with
    * SPARK_GRAFT_BROADCAST_BUDGET (bytes).
    */
  def broadcastBudgetBytes: Long =
    sys.env.get("SPARK_GRAFT_BROADCAST_BUDGET").map(_.toLong).getOrElse {
      val heap = Runtime.getRuntime.maxMemory
      math.max(64L * 1024 * 1024, math.min(256L * 1024 * 1024, heap / 16))
    }

  def tuned(builder: SparkSession.Builder, cpus: String): SparkSession.Builder =
    builder
      // full engine surface: curve/text SQL functions + optimizer rules
      // (FactBroadcastGuard) in every tuned session
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.files.maxPartitionBytes", (256L * 1024 * 1024).toString)
      .config("spark.sql.parquet.enableVectorizedReader", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // overridable for scale experiments (-1 disables broadcast joins
      // entirely — how the SF1 audits compare broadcast-build vs shuffle
      // plans without touching query text)
      .config("spark.sql.autoBroadcastJoinThreshold",
        sys.env.getOrElse("SPARK_GRAFT_BROADCAST_BYTES",
          (50L * 1024 * 1024).toString))
      // Regime split (round-15, the q57 sf32 cliff): ESTIMATED sizes are
      // judged by the conservative static threshold above; EXACT sizes —
      // AQE's measured shuffle stages — may broadcast up to the
      // memory-derived budget. FactBroadcastGuard reads the same budget
      // (spark.graft.broadcastBudget) so its row-cost demotion and AQE's
      // byte-based promotion agree on one bar.
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold",
        broadcastBudgetBytes.toString)
      .config("spark.graft.broadcastBudget", broadcastBudgetBytes.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
}
