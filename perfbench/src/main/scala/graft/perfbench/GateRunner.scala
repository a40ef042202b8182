package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.execution.joins._
import graft.runner.{Materialize, QueryRunner}

/** Runs oracle-checked `SparkEntry` queries the way `graft.Bench` runs
  * them: build, execute, then `Materialize.releaseAllFast` inside the
  * timed window. Every answer's order-independent checksum must equal
  * the one kept in the benchmark's `expected/` directory.
  */
final class GateRunner(ctx: Ctx, val queries: Seq[String]) {
  import GateRunner._
  private val tr = ctx.tracer
  private val rep = ctx.report
  val execs = mutable.ArrayBuffer.empty[Exec]
  private var expected = Map.empty[String, String]

  private def once(q: String, tag: Int): Exec = {
    // let the ContextCleaner reclaim the last query's shuffles and
    // broadcasts before the clock starts (as Bench does)
    System.gc()
    Materialize.resetDiag()
    val ((df, rows), ms) = Clock.timed {
      val df = tr.span("queries.build", tag) {
        graft.SparkEntry.queries(q)(ctx.spark, ctx.dataDir)
      }
      tr.span("queries.plan", tag) { df.queryExecution.executedPlan }
      val rows = try tr.span("queries.exec", tag) { df.collect() }
      finally tr.span("runner.release", tag) { Materialize.releaseAllFast(ctx.spark) }
      (df, rows)
    }
    val nodes = QueryRunner.allNodes(df.queryExecution.executedPlan)
    Exec(q, tag, ms, Stats.checksum(rows.toSeq.map(_.toSeq)),
      nodes.count {
        case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec => true
        case _ => false
      },
      nodes.count {
        case _: SortMergeJoinExec | _: ShuffledHashJoinExec => true
        case _ => false
      },
      Materialize.peakTrackedBytes / 1048576.0, Materialize.evictions,
      rows.take(25).map(_.toSeq.map(Stats.canonical).mkString("|")).toSeq)
  }

  /** One discarded run of every query (the first runs pay class loading
    * and code generation several times over), then the expected
    * checksums are loaded.
    */
  def warmUp(): Unit = {
    val warm = queries.map(q => once(q, -1))
    expected = readExpected(expectedFile(ctx))
    rep.info("gate_warmup_ms") = warm.map(e => e.query -> e.ms).toMap
    rep.info("gate_warmup_mismatch") =
      warm.filterNot(e => expected.get(e.query).contains(e.sum)).map(e => e.query -> e.rows).toMap
  }

  /** Run every query once in a seed-permuted order; returns the pass's
    * timed milliseconds. A checksum mismatch fails the query.
    */
  def pass(tag: Int): Double = {
    val order = new scala.util.Random(Stats.mix(ctx.seed, 100 + tag)).shuffle(queries)
    order.map { q =>
      val e = once(q, tag)
      execs += e
      val want = expected.get(q)
      rep.op(want.contains(e.sum), s"$q checksum ${e.sum}, expected ${want.getOrElse("none")}")
      if (!want.contains(e.sum)) rep.info(s"rows_$q") = e.rows
      e.ms
    }.sum
  }

  /** Seconds of each pass: `gate_total_s` is their median. */
  def passSeconds: Seq[Double] = execs.groupBy(_.tag).values.map(_.map(_.ms).sum / 1000.0).toSeq

  def reportLayers(L: Layers): Unit = {
    L.perTag("queries.build_ms", "queries.build")(_.wallMs)
    L.perTag("queries.plan_ms", "queries.plan")(_.wallMs)
    L.perTag("queries.exec_ms", "queries.exec")(_.wallMs)
    L.perTag("runner.release_ms", "runner.release")(_.wallMs)
    val all = Set("queries.build", "queries.plan", "queries.exec", "runner.release")
    L.perTag("runner.gate_jobs", all)(_.counters.jobs.toDouble)
    L.perTag("runner.gate_stages", all)(_.counters.stages.toDouble)
    L.perTag("runner.gate_tasks", all)(_.counters.tasks.toDouble)
    L.perTag("runner.gate_sched_delay_ms", all)(_.counters.schedDelayMs.toDouble)
    L.perTag("runner.gate_deser_ms", all)(_.counters.deserMs.toDouble)
    L.perTag("runner.gate_exec_run_ms", all)(_.counters.execRunMs.toDouble)
    L.perTag("runner.gate_exec_cpu_ms", all)(_.counters.execCpuMs.toDouble)
    L.perTag("runner.gate_job_span_ms", all)(_.counters.jobSpanMs.toDouble)
    L.perTag("runner.gate_driver_only_ms", all)(_.counters.driverOnlyMs.toDouble)
    L.perTag("runner.gate_shuffle_bytes", all)(_.counters.shuffleBytes.toDouble)
    L.perTag("runner.gate_spill_bytes", all)(_.counters.spillBytes.toDouble)
    def perPass(f: Exec => Double, agg: Seq[Double] => Double): Double =
      Stats.median(execs.groupBy(_.tag).values.map(es => agg(es.map(f).toSeq)).toSeq)
        .map(_.value).getOrElse(0.0)
    L.value("runner.cached_peak_mb", perPass(_.cachedMb, _.max))
    L.value("runner.evictions", perPass(_.evictions.toDouble, _.sum))
    L.value("plans.broadcast_joins", perPass(_.broadcastJoins.toDouble, _.sum))
    L.value("plans.shuffle_joins", perPass(_.shuffleJoins.toDouble, _.sum))
  }
}

object GateRunner {
  case class Exec(query: String, tag: Int, ms: Double, sum: String,
      broadcastJoins: Int, shuffleJoins: Int, cachedMb: Double, evictions: Int,
      rows: Seq[String])

  /** File of expected result checksums for the run's data directory. */
  def expectedFile(ctx: Ctx): java.nio.file.Path =
    ctx.expectedDir.resolve(s"gate_${new java.io.File(ctx.dataDir).getName}.tsv")

  def readExpected(p: java.nio.file.Path): Map[String, String] =
    if (!java.nio.file.Files.exists(p)) Map.empty
    else java.nio.file.Files.readAllLines(p).asScala
      .filter(_.contains('\t')).map { l =>
        val Array(k, v) = l.split('\t'); k -> v
      }.toMap
}
