package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** A metric as reported: value, unit, and the samples behind it. */
case class Metric(value: Double, unit: String, n: Int = 1)

/** Everything one run reports. `e2e` holds the metrics every workload
  * prints (the contract set), `named` the workload's own end-to-end
  * figures, `layers` the per-layer figures of a traced run.
  */
final class Report {
  val e2e = mutable.LinkedHashMap.empty[String, Metric]
  val named = mutable.LinkedHashMap.empty[String, Metric]
  val layers = mutable.LinkedHashMap.empty[String, Metric]
  val info = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  /** Count one operation; a failed one records why. */
  def op(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; failures += what }
  }
}

/** Host context read through the engine's own /proc readers. */
object Host {
  case class Sample(load1m: Double, steal: Long, total: Long)

  def sample(): Sample = {
    val (steal, total) = graft.runner.Calibration.cpuJiffies()
    Sample(graft.runner.Calibration.loadAvg1m(), steal, total)
  }

  /** Steal share of CPU time between two samples, in percent. */
  def stealPct(a: Sample, b: Sample): Double =
    if (b.total <= a.total || a.total < 0) 0.0
    else 100.0 * (b.steal - a.steal) / (b.total - a.total)

  /** Peak resident set (VmHWM) of this JVM, in MB. */
  def peakRssMb(): Double = {
    val line = java.nio.file.Files
      .readString(java.nio.file.Paths.get("/proc/self/status"))
      .linesIterator.find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Minimal JSON rendering for the run record. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def apply(v: Any): String = v match {
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Metric => s"""{"value":${apply(m.value)},"unit":${str(m.unit)},"n":${m.n}}"""
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** One run's shared state: session, tracer, seed, clocks, report. */
final class Ctx(
    val spark: SparkSession,
    val tracer: Tracer,
    val seed: Long,
    val seconds: Int,
    val dataDir: String,
    val work: java.nio.file.Path,
    val expectedDir: java.nio.file.Path) {
  val report = new Report
  private val jvmStartMs =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  private val sessionReadyNs = System.nanoTime()
  private val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
  private val prepS = mutable.ArrayBuffer.empty[Double]
  private var measureStartNs = -1L
  val hostStart: Host.Sample = Host.sample()
  var hostMeasure: Host.Sample = hostStart

  /** Prepare the inputs `reps` times and keep the last result: set-up is
    * reported as the median repetition, so one slow repetition does not
    * read as a set-up regression.
    */
  def prepare[T](reps: Int)(body: => T): T = {
    var out: Option[T] = None
    (1 to reps).foreach { _ =>
      val t0 = System.nanoTime()
      out = Some(body)
      prepS += (System.nanoTime() - t0) / 1e9
    }
    out.get
  }

  /** Set-up ends here; the measured window starts. */
  def startMeasuring(): Unit = {
    val now = System.nanoTime()
    val warmS = (now - sessionReadyNs) / 1e9 - prepS.sum
    val setup = sessionS + Stats.median(prepS.toSeq).map(_.value).getOrElse(0.0) + warmS
    report.e2e("setup_s") = Metric(setup, "s", math.max(1, prepS.length))
    report.info("setup") = Map("jvm_to_session_s" -> sessionS,
      "prepare_s" -> prepS.toSeq, "warmup_s" -> warmS)
    hostMeasure = Host.sample()
    measureStartNs = now
  }

  /** True while the measured window is open. */
  def measuring: Boolean =
    System.nanoTime() - measureStartNs < seconds * 1000000000L

  def measuredSeconds: Double = (System.nanoTime() - measureStartNs) / 1e9

  def dir(name: String): String = work.resolve(name).toString

  def rmrf(path: String): Unit = {
    def rec(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rec)); f.delete()
    }
    rec(new java.io.File(path))
  }
}

/** Small timing helper shared by the workloads. */
object Clock {
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }
}
