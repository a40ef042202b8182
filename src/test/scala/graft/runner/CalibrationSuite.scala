package graft.runner

import org.scalatest.funsuite.AnyFunSuite

/** Self-relative calibration math (round-17 VERDICT Next #3): re-pinned
  * refs, drift factor, disagree flag, history IO — pure functions, no
  * Spark session.
  */
class CalibrationSuite extends AnyFunSuite {
  import Calibration._

  private val quiet = Probe(cpuSec = 0.40, scanSec = 0.16, jobsSec = 0.72)

  test("quietEnd takes the per-probe min of first and last") {
    val first = Probe(0.72, 0.20, 1.26) // loaded start (r16's 1.80 mode)
    val last = Probe(0.40, 0.16, 0.62)  // load receded
    assert(quietEnd(first, last) == ((0.40, 0.16, 0.62)))
    // a transiently failed probe (-1 marker) must NOT beat the other
    // probe's valid measurement
    assert(quietEnd(Probe(-1.0, -1.0, 0.70), last) == ((0.40, 0.16, 0.62)))
    assert(quietEnd(first, Probe(0.50, -1.0, -1.0)) == ((0.50, 0.20, 1.26)))
    assert(quietEnd(Probe(-1.0, 0.2, 0.7), Probe(-1.0, 0.2, 0.7))._1 == -1.0)
  }

  test("repin: rolling min over history + current; failed probes ignored") {
    val hist = Seq(
      QuietEnd(1L, "sf0.1", 0.45, -1.0, 0.80), // failed scan probe
      QuietEnd(2L, "sf0.1", 0.41, 0.17, 0.75))
    val refs = repin(hist, (0.43, 0.18, 0.70))
    assert(refs == SelfRefs(0.41, 0.17, 0.70, 2))
    // empty history: the run is its own reference (drift reads ~1)
    val solo = repin(Nil, (0.40, 0.16, 0.72))
    assert(solo == SelfRefs(0.40, 0.16, 0.72, 0))
  }

  test("driftFactor: worse of mean cpu ratio and mean jobs ratio") {
    // bulk-CPU drift (r15 mode): cpu up 25%, jobs flat
    val d1 = driftFactor(Probe(0.50, 0.2, 0.70), Probe(0.50, 0.2, 0.70),
      cpuRef = 0.40, jobsRef = 0.70)
    assert(math.abs(d1 - 1.25) < 1e-9)
    // dispatch drift (r16 mode): cpu flat, jobs up 30%
    val d2 = driftFactor(Probe(0.40, 0.2, 0.91), Probe(0.40, 0.2, 0.91),
      cpuRef = 0.40, jobsRef = 0.70)
    assert(math.abs(d2 - 1.30) < 1e-9)
    // asymmetric run: first loaded 1.8x, last quiet 1.0x -> mean 1.4
    val d3 = driftFactor(Probe(0.40, 0.2, 1.26), Probe(0.40, 0.2, 0.70),
      cpuRef = 0.40, jobsRef = 0.70)
    assert(math.abs(d3 - 1.40) < 1e-9)
    // unknown refs claim nothing
    assert(driftFactor(Probe(9, 9, 9), Probe(9, 9, 9), -1.0, -1.0) == 1.0)
  }

  test("refsDisagree flags pinned constants >10% off the self refs") {
    // self refs match the pinned constants: no flag
    assert(!refsDisagree(SelfRefs(CpuRefSec, ScanRefSec, JobsRefSec, 3)))
    // r16's final artifact: last cpu_ratio 0.59 => self cpu ref ~0.37/0.59
    assert(refsDisagree(SelfRefs(CpuRefSec / 0.59, ScanRefSec, JobsRefSec, 3)))
    assert(refsDisagree(SelfRefs(CpuRefSec, ScanRefSec, JobsRefSec * 1.2, 3)))
    // unknown self refs: no claim either way
    assert(!refsDisagree(SelfRefs(-1.0, -1.0, -1.0, 0)))
  }

  test("history is append-only; the rolling window applies at read time") {
    val p = java.nio.file.Files.createTempDirectory("graft_cal")
      .resolve("hist.jsonl")
    // appends are pure O_APPEND (a rewrite-to-trim would race a
    // concurrent sweep's append); the READER keeps the last HistoryKeep
    // parseable entries, so the repin window is a fixed size no matter
    // how long the file grows
    for (i <- 1 to 2 * HistoryKeep + 1)
      appendHistory(p, QuietEnd(i.toLong, "sf0.1", 0.4 + i * 0.001, 0.16, 0.7))
    val h = loadHistory(p)
    assert(h.length == HistoryKeep)
    assert(h.head.epochSec == (HistoryKeep + 2).toLong &&
      h.last.epochSec == (2 * HistoryKeep + 1).toLong)
    // the file itself keeps every line — nothing was rewritten
    assert(java.nio.file.Files.readAllLines(p).size == 2 * HistoryKeep + 1)
    // torn write corrupts one line; the rest still load
    val bytes = java.nio.file.Files.readAllBytes(p)
    java.nio.file.Files.write(p,
      ("{corrupt\n" + new String(bytes, "UTF-8")).getBytes("UTF-8"))
    assert(loadHistory(p).length == HistoryKeep)
    // missing file reads empty
    assert(loadHistory(p.resolveSibling("nope.jsonl")).isEmpty)
  }

  test("history filter applies BEFORE the rolling window (r17 ADVICE #1)") {
    val p = java.nio.file.Files.createTempDirectory("graft_cal")
      .resolve("hist.jsonl")
    // one old sf0.1 quiet end, then a burst of HistoryKeep sf0.01 sweeps
    // (an artifact-sf override session): a post-window filter would see
    // zero sf0.1 entries; the pre-window filter must still surface it
    appendHistory(p, QuietEnd(1L, "/data/sf0.1", 0.40, 0.16, 0.70))
    for (i <- 2 to HistoryKeep + 1)
      appendHistory(p, QuietEnd(i.toLong, "/data/sf0.01", 0.9, 0.9, 0.9))
    def sfBase(e: QuietEnd): String = new java.io.File(e.sfDir).getName
    val kept = loadHistory(p, e => sfBase(e) == "sf0.1")
    assert(kept.length == 1 && kept.head.epochSec == 1L)
    // and the window still bounds the filtered stream
    for (i <- 100 to 100 + 2 * HistoryKeep)
      appendHistory(p, QuietEnd(i.toLong, "/data/sf0.1", 0.41, 0.17, 0.71))
    assert(loadHistory(p, e => sfBase(e) == "sf0.1").length == HistoryKeep)
  }

  test("a mixed-host history repins from same-host minima only") {
    val p = java.nio.file.Files.createTempDirectory("graft_cal")
      .resolve("hist.jsonl")
    val here = "nproc=4;cpu=Some CPU;graft_cpus=4"
    val big = "nproc=32;cpu=Other CPU;graft_cpus=32"
    // the larger host's probes are faster: a mixed minimum would read
    // every 4-core run as drifted (the 7.0 the fingerprint exists for)
    appendHistory(p, QuietEnd(1L, "/data/sf0.1", 0.27, 0.09, 0.55, Some(big)))
    appendHistory(p, QuietEnd(2L, "/data/sf0.1", 1.70, 0.40, 0.95, Some(here)))
    appendHistory(p, QuietEnd(3L, "/data/sf0.1", 0.20, 0.08, 0.50)) // legacy
    appendHistory(p, QuietEnd(4L, "/data/sf0.1", 1.60, 0.45, 0.90, Some(here)))
    appendHistory(p, QuietEnd(5L, "/data/sf0.01", 1.00, 0.10, 0.80, Some(here)))
    val refs = sameHostRefs(p, "/other/sf0.1/", here, (1.66, 0.42, 0.93))
    assert(refs == SelfRefs(1.60, 0.40, 0.90, 2))
    // the other host's entries are kept on disk, only skipped
    assert(java.nio.file.Files.readAllLines(p).size == 5)
    assert(sameHostRefs(p, "/data/sf0.1", big, (0.3, 0.1, 0.6)) ==
      SelfRefs(0.27, 0.09, 0.55, 1))
  }

  test("a history of legacy entries only: the run is its own reference") {
    val p = java.nio.file.Files.createTempDirectory("graft_cal")
      .resolve("hist.jsonl")
    // the committed file's shape: no host field
    java.nio.file.Files.write(p, java.util.Arrays.asList(
      """{"epochSec":1786833667,"sfDir":"/root/testdata/sf0.1","cpuSec":0.266479126,"scanSec":0.096638238,"jobsSec":0.622403357}""",
      """{"epochSec":1786833866,"sfDir":"/root/testdata/sf0.1","cpuSec":0.253675408,"scanSec":0.085977296,"jobsSec":0.539575735}"""))
    assert(loadHistory(p).map(_.host) == Seq(None, None))
    val refs = sameHostRefs(p, "/root/testdata/sf0.1", hostFingerprint(),
      (1.66, 0.40, 0.95))
    assert(refs == SelfRefs(1.66, 0.40, 0.95, 0))
  }

  test("hostFingerprint names processors, CPU model and SPARK_GRAFT_CPUS") {
    val f = hostFingerprint()
    assert(f.startsWith(s"nproc=${Runtime.getRuntime.availableProcessors()};cpu="))
    assert(f.endsWith(s";graft_cpus=${sys.env.getOrElse("SPARK_GRAFT_CPUS", "")}"))
    assert(f == hostFingerprint())
  }
}
