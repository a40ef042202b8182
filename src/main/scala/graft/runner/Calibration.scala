package graft.runner

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Host-drift calibration for the bench sweep (round-15 VERDICT Next #1).
  *
  * BENCH_r15 read +23 % over r14 with byte-identical plan shapes — pure
  * environment drift on a shared host (task deser 1.52x, task GC 1.31x,
  * scheduler delay 1.15x, all inflated uniformly), and proving that took
  * judge-side forensics. These two fixed probes make the drift a number
  * IN the artifact:
  *
  *  - `cpuProbe` — a deterministic codegen kernel (sum of xxhash64 over
  *    a fixed `range`) with no IO, no shuffle beyond the final 32->1
  *    partial-agg collect: it moves with CPU contention/steal and JVM
  *    pressure, the r15 drift signature.
  *  - `scanProbe` — a fixed parquet aggregate over the sweep's own
  *    lineitem table: it additionally moves with page cache and IO.
  *
  * The sweep runs both FIRST and LAST (drift within the run is visible,
  * not just across runs). Round-17: the PRIMARY refs are SELF-RELATIVE
  * (rolling quiet-end minima over results/calibration_history.jsonl
  * plus this run — [[repin]]); the pinned constants below are kept as a
  * secondary cross-host-suspect signal with a [[refsDisagree]] flag.
  * The printed headline carries `total_normalized = total / drift` next
  * to the raw total, so a cross-round comparison starts from
  * drift-corrected numbers automatically. The raw total remains the
  * number graded against BASELINE.md — normalization is triage
  * metadata, not a scoring rewrite.
  */
object Calibration {

  /** Reference probe seconds: local[32], this container, 2026-08-15,
    * sf0.1 lineitem (~600k rows). Measured as the settled value over
    * three consecutive measure() calls (0.355-0.388 cpu / 0.133-0.179
    * scan); the first call in a fresh JVM still reads ~8 % high after
    * its warmups, so ratios carry a ~±10 % noise floor — the r15-style
    * drift this exists to catch is +20-25 %. A different host/sf simply
    * yields a different stable ratio; only cross-round consistency
    * matters.
    */
  val CpuRefSec = 0.37
  val ScanRefSec = 0.155

  /** 2^31 xxhash64 evaluations across 32 partitions — ~1 s at the
    * reference; fully codegen'd, result deterministic.
    */
  private val CpuRows = 2147483648L

  /** Reference seconds for [[jobsOnce]]: pinned 2026-08-15 on the quiet
    * host (an end-of-sweep measure read 0.68 after external load
    * receded; measures under loadavg ~2 read 0.93–0.97 — that spread IS
    * the drift mode this probe detects). Per tiny job ~29 ms of
    * planning + dispatch — the fixed-latency tax every small query in
    * the sweep pays, which is exactly the component external host load
    * inflates. Only cross-round consistency of the ratio matters.
    */
  val JobsRefSec = 0.70

  /** Tiny jobs per [[jobsOnce]] batch. A saturating single-stage probe
    * misses the drift mode where a shared host's EXTERNAL load inflates
    * per-task scheduling/dispatch overhead while bulk CPU throughput
    * stays ~flat (observed: external loadavg ~6 read cpu_ratio 0.99
    * while the sweep's many-small-stage queries inflated 1.17x
    * uniformly, sched_ms/deser_ms up across the board). 24 two-task
    * jobs time exactly that dispatch path.
    */
  private val JobsN = 24

  case class Probe(cpuSec: Double, scanSec: Double, jobsSec: Double,
      loadAvg: Double = -1.0, stealPct: Double = -1.0) {
    // -1 marks "probe unavailable" (e.g. no lineitem for scan) — ratios
    // propagate the marker instead of emitting a nonsense negative ratio
    def cpuRatio: Double =
      if (CpuRefSec > 0 && cpuSec > 0) cpuSec / CpuRefSec else -1.0
    def scanRatio: Double =
      if (ScanRefSec > 0 && scanSec > 0) scanSec / ScanRefSec else -1.0
    def jobsRatio: Double =
      if (JobsRefSec > 0 && jobsSec > 0) jobsSec / JobsRefSec else -1.0
    def json: String =
      f"""{"cpu_sec":$cpuSec%.3f,"scan_sec":$scanSec%.3f,""" +
        f""""jobs_sec":$jobsSec%.3f,"cpu_ratio":$cpuRatio%.3f,""" +
        f""""scan_ratio":$scanRatio%.3f,"jobs_ratio":$jobsRatio%.3f,""" +
        f""""loadavg":$loadAvg%.2f,"steal_pct":$stealPct%.2f}"""
  }

  /** Pre-probe 1-min loadavg and VM steal-time share: direct load
    * witnesses the drift ratios lack. A slow HOST GENERATION and a
    * loaded host produce the same ratio — but co-tenant pressure shows
    * up as steal jiffies (hypervisor time taken from this VM), which a
    * merely-slower idle host never has. loadavg is context only (it
    * counts the sweep's OWN threads too); steal measured ACROSS the
    * probe is the decisive bit. Recorded per probe so `drift 1.4 at
    * steal 0` reads as "slower host, clean run" from the artifact
    * alone (r18: a host swap raised the self-relative drift floor to
    * ~1.4 on an idle box while total_normalized stayed at r17 parity).
    */
  def loadAvg1m(): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split("\\s+")(0).toDouble
    catch { case scala.util.control.NonFatal(_) => -1.0 }

  /** (steal, total) jiffies from /proc/stat's aggregate cpu line. */
  def cpuJiffies(): (Long, Long) =
    try {
      // Files.readString, not Source.fromFile — a short-circuited
      // Source leaks its fd until GC (two probes per calibration add up
      // over a sweep)
      val l = java.nio.file.Files
        .readString(java.nio.file.Paths.get("/proc/stat"))
        .linesIterator.find(_.startsWith("cpu ")).get
        .trim.split("\\s+").drop(1).map(_.toLong)
      // total = user..steal (first 8 fields) ONLY: the kernel already
      // accounts guest/guest_nice (fields 9-10) inside user/nice, so
      // summing them double-counts guest time on virtualization hosts
      // and deflates steal_pct (r18 ADVICE #5)
      (if (l.length > 7) l(7) else 0L, l.take(8).sum)
    } catch { case scala.util.control.NonFatal(_) => (-1L, -1L) }

  // ---- self-relative drift (round-17 VERDICT Next #3) -----------------
  //
  // The PINNED constants above were measured on one host at one quiet
  // moment; the final r16 artifact's last cpu_ratio read 0.59 — far
  // outside the documented noise floor — because the refs simply don't
  // transfer across hosts/JVM states, and a drift factor averaged
  // against them inherits that bias. Primary signal is now
  // SELF-RELATIVE: each full sweep appends its quiet end (per-probe min
  // of the first/last probes — the closest the run got to an unloaded
  // host) to a small committed history, and refs are re-pinned per run
  // as the rolling MIN over that history plus the current run. The
  // pinned constants stay in the artifact as a secondary,
  // cross-host-suspect signal, with a `refs_disagree` flag when they
  // sit >10 % from the self-derived refs.

  /** One history entry: a sweep's quiet-end probe seconds and the
    * [[hostFingerprint]] of the host that measured them (None on entries
    * written before entries carried one).
    */
  case class QuietEnd(epochSec: Long, sfDir: String,
      cpuSec: Double, scanSec: Double, jobsSec: Double,
      host: Option[String] = None)

  /** The host as the probes see it: processor count (`nproc`), CPU model
    * and the sweep's `SPARK_GRAFT_CPUS`. Probe seconds are comparable
    * only between runs with the same fingerprint — a 4-core run read
    * drift 7.0 against refs a larger host wrote.
    */
  def hostFingerprint(): String = {
    val model =
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/cpuinfo"))
          .asScala.find(_.startsWith("model name")).map(_.split(":", 2)(1).trim)
          .getOrElse("?")
      } catch { case scala.util.control.NonFatal(_) => "?" }
    s"nproc=${Runtime.getRuntime.availableProcessors()};cpu=$model;" +
      s"graft_cpus=${sys.env.getOrElse("SPARK_GRAFT_CPUS", "")}"
  }

  /** The sf of a data dir, by basename ("/x/sf0.1/" -> "sf0.1"). */
  def sfBase(p: String): String = new java.io.File(p.replaceAll("/+$", "")).getName

  /** Self-derived reference seconds (rolling quiet-window minima). */
  case class SelfRefs(cpu: Double, scan: Double, jobs: Double, nHistory: Int)

  /** Per-probe quiet end of a run: min of first and last, over VALID
    * observations only — a transiently failed probe records -1, and a
    * plain min would let that marker beat the other probe's real
    * measurement (discarding the run's only valid reference point).
    */
  def quietEnd(first: Probe, last: Probe): (Double, Double, Double) = {
    def minValid(a: Double, b: Double): Double =
      if (a > 0 && b > 0) math.min(a, b)
      else if (a > 0) a else if (b > 0) b else -1.0
    (minValid(first.cpuSec, last.cpuSec),
      minValid(first.scanSec, last.scanSec),
      minValid(first.jobsSec, last.jobsSec))
  }

  /** Re-pinned refs: the MIN over history quiet ends plus the current
    * run's — the quietest moment this host has demonstrated. Rolling
    * min (not mean): load only ever inflates a probe, so the smallest
    * observation is the best unloaded estimate. Non-positive values
    * (failed scan probes record -1) are ignored.
    */
  def repin(history: Seq[QuietEnd], cur: (Double, Double, Double)): SelfRefs = {
    def minPos(xs: Seq[Double]): Double = {
      val ps = xs.filter(_ > 0)
      if (ps.isEmpty) -1.0 else ps.min
    }
    SelfRefs(
      minPos(history.map(_.cpuSec) :+ cur._1),
      minPos(history.map(_.scanSec) :+ cur._2),
      minPos(history.map(_.jobsSec) :+ cur._3),
      history.length)
  }

  /** Refs for a run at `sfDir` on `host`: [[repin]] over the history
    * entries of the same sf and the same fingerprint, plus `cur`. Entries
    * of other hosts and fingerprint-less entries are skipped inside
    * [[loadHistory]] (before its window), never deleted.
    */
  def sameHostRefs(path: java.nio.file.Path, sfDir: String, host: String,
      cur: (Double, Double, Double)): SelfRefs =
    repin(loadHistory(path,
      e => sfBase(e.sfDir) == sfBase(sfDir) && e.host.contains(host)), cur)

  /** The drift factor, vs ARBITRARY refs: the worse of the mean cpu
    * ratio (bulk-throughput drift, the r15 signature) and the mean
    * tiny-jobs ratio (dispatch-overhead drift from external load, the
    * r16 signature). Refs <= 0 contribute ratio 1 (unknown = no claim).
    */
  def driftFactor(first: Probe, last: Probe, cpuRef: Double,
      jobsRef: Double): Double = {
    def ratio(a: Double, b: Double, ref: Double): Double =
      if (ref > 0) (a / ref + b / ref) / 2.0 else 1.0
    math.max(ratio(first.cpuSec, last.cpuSec, cpuRef),
      ratio(first.jobsSec, last.jobsSec, jobsRef))
  }

  /** Do the pinned constants disagree with the self-derived refs by
    * more than `tol` on cpu or jobs (the two probes drift uses)?
    */
  def refsDisagree(self: SelfRefs, tol: Double = 0.10): Boolean = {
    def off(pinned: Double, s: Double): Boolean =
      s > 0 && math.abs(pinned / s - 1.0) > tol
    off(CpuRefSec, self.cpu) || off(JobsRefSec, self.jobs)
  }

  /** History IO: newline-delimited JSON at `path`. Writes are PURE
    * O_APPEND (never a rewrite), so concurrent sweeps can only tear the
    * line being appended — which the reader skips; nothing already
    * written is ever at risk. The rolling window is applied at READ
    * time (last [[HistoryKeep]] parseable entries), so it is a fixed
    * size regardless of file length. The file grows one ~150-byte line
    * per full canonical sweep — unbounded in principle, negligible in
    * practice (a rewrite-to-trim would reintroduce the lost-entry race
    * this design removes).
    */
  val HistoryKeep = 12

  /** `keep` filters entries BEFORE the rolling window is applied, so
    * entries the caller considers incomparable (e.g. sweeps at another
    * sf via GRAFT_BENCH_ARTIFACT_SF) don't consume window slots and
    * evict comparable quiet ends (r17 ADVICE #1).
    */
  def loadHistory(path: java.nio.file.Path,
      keep: QuietEnd => Boolean = _ => true): Seq[QuietEnd] = {
    if (!java.nio.file.Files.exists(path)) return Nil
    try {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.readAllLines(path).asScala.toSeq.flatMap { line =>
        try {
          implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
          Some(org.json4s.jackson.Serialization.read[QuietEnd](line))
        } catch { case scala.util.control.NonFatal(_) => None }
      }.filter(keep).takeRight(HistoryKeep)
    } catch { case scala.util.control.NonFatal(_) => Nil }
  }

  /** In-run calibration block for LONG-RUN artifacts (soaks, decay
    * runs, IncBench/StreamBench — r16 stretch #8: the q57 spot-check
    * had to hand-note "ran while the soak had the box"). Purely
    * self-relative: first/last probes plus the in-run spread factor
    * (drift vs the run's own quiet end), so the artifact carries its
    * drift context with no dependence on pinned constants.
    */
  def inRunJson(first: Probe, last: Probe): String = {
    val q = quietEnd(first, last)
    val drift = driftFactor(first, last, q._1, q._3)
    f"""{"first":${first.json},"last":${last.json},"inrun_drift":$drift%.3f}"""
  }

  /** Appends ONE line with O_APPEND and nothing else — existing history
    * is never rewritten (see [[HistoryKeep]]'s doc for why there is no
    * trim: any rewrite races a concurrent sweep's append and can lose a
    * fully-written entry; the read-time window makes trimming
    * unnecessary).
    */
  def appendHistory(path: java.nio.file.Path, entry: QuietEnd): Unit = {
    try {
      implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
      if (path.getParent != null) java.nio.file.Files.createDirectories(path.getParent)
      java.nio.file.Files.write(path,
        (org.json4s.jackson.Serialization.write(entry) + "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  private def time(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  private def cpuOnce(spark: SparkSession): Double = time {
    // double sum: the session runs ANSI mode and 2^31 hash longs
    // overflow a BIGINT accumulator
    spark.range(0L, CpuRows, 1L, 32)
      .select(sum(xxhash64(col("id")).cast("double"))).collect()
  }

  private def scanOnce(spark: SparkSession, sfDir: String): Double = time {
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .agg(sum(col("l_quantity")), sum(col("l_extendedprice"))).collect()
  }

  private def jobsOnce(spark: SparkSession): Double = time {
    var i = 0
    while (i < JobsN) {
      spark.range(0L, 2048L, 1L, 2).select(sum(col("id"))).collect()
      i += 1
    }
  }

  /** FOUR warmups + min of three measured runs for cpu/scan, TWO
    * warmups + min of three for the tiny-jobs probe: the FIRST
    * calibration fires on a cold session where fewer warmups still
    * leave ~25 % of JIT warmup in the measurement (observed 0.53 vs
    * 0.35 s), which would masquerade as start-of-run drift. The pinned
    * reference constants above were measured under EXACTLY this warmup
    * regime — changing either side alone shifts every drift ratio.
    */
  def measure(spark: SparkSession, sfDir: String): Probe = {
    val load = loadAvg1m()
    val (steal0, total0) = cpuJiffies()
    (1 to 4).foreach(_ => cpuOnce(spark))
    val cpu = Seq.fill(3)(cpuOnce(spark)).min
    // existence pre-check: callers without a TPC-H dir (e.g. the amazon
    // decay runs pass "-") get scan = -1 without Spark logging an
    // AnalysisException stack into the artifact's output
    val haveLineitem =
      try new java.io.File(s"$sfDir/lineitem.parquet").exists()
      catch { case scala.util.control.NonFatal(_) => false }
    val scan =
      if (!haveLineitem) -1.0
      else try {
        (1 to 4).foreach(_ => scanOnce(spark, sfDir))
        Seq.fill(3)(scanOnce(spark, sfDir)).min
      } catch { case scala.util.control.NonFatal(_) => -1.0 }
    jobsOnce(spark); jobsOnce(spark)
    val jobs = Seq.fill(3)(jobsOnce(spark)).min
    val (steal1, total1) = cpuJiffies()
    val steal =
      if (steal0 >= 0 && steal1 >= 0 && total1 > total0)
        100.0 * (steal1 - steal0) / (total1 - total0)
      else -1.0
    Probe(cpu, scan, jobs, load, steal)
  }
}
