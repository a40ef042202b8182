package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.functions._
import graft.layout.ZoneMap

/** The persisted-state write pipeline and its gate queries: build a
  * curated corpus from a base slice of `documents` with `Curate.run`, fold
  * consecutive doc_id batches into it with `Curate.runAdd`, then run the
  * two gate queries on the same near-dup pipeline (q69 dedup clusters,
  * q72 curation pipeline) under the Bench protocol. One cycle is one
  * build, every fold and one gate pass; cycles repeat until the measured
  * window closes.
  */
object Curation {
  /** The gate queries that share the curation path's near-dup code. */
  val GateQueries = Seq("q69_dedup_clusters", "q72_curation_pipeline")
  /** Minimum document length kept by the quality gate (as IncBench). */
  val MinChars = 100L
  /** Fold batches per cycle: four folds give each run a median that one
    * slow fold does not move. */
  val Batches = 4

  /** The state stores a fold mutates. */
  private val Stores = Seq("docs", "components", "postings")

  private case class Inputs(baseDir: String, batchDirs: Seq[String],
      nBase: Long, expected: Set[(Long, String)])

  /** doc_id cut points: the base ends near 70% of the ids, the folded
    * batches cover up to ~95%; the seed jitters every cut.
    */
  def cuts(ids: IndexedSeq[Long], seed: Long, batches: Int): Seq[Long] = {
    val rnd = new scala.util.Random(Stats.mix(seed, 1))
    val lo = 0.66 + 0.08 * rnd.nextDouble()
    val hi = 0.92 + 0.06 * rnd.nextDouble()
    val fr = (0 to batches).map { i =>
      val f = lo + (hi - lo) * i / batches
      if (i == 0 || i == batches) f else f + (hi - lo) / batches * 0.3 * (rnd.nextDouble() - 0.5)
    }
    fr.map(f => ids(math.min(ids.length - 1, (f * ids.length).toInt)))
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val rep = ctx.report

    def corpusKeys(outDir: String): Set[(Long, String)] =
      spark.read.parquet(s"$outDir/docs").select("doc_id", "split").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet

    def prepare(): (String, Seq[String], String, Long) = {
      val docs = graft.Tables.load(spark, ctx.dataDir, "documents")
      val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted.toIndexedSeq
      val cs = cuts(ids, ctx.seed, Batches)
      def slice(name: String, lo: Option[Long], hi: Long): String = {
        val d = ctx.dir(s"cur_in/$name")
        ctx.rmrf(d)
        val f = lo.fold(col("doc_id") <= hi)(l => col("doc_id") > l && col("doc_id") <= hi)
        docs.filter(f).write.parquet(s"$d/documents.parquet")
        d
      }
      val base = slice("base", None, cs.head)
      val batches = (0 until Batches).map(i => slice(s"batch_$i", Some(cs(i)), cs(i + 1)))
      val union = slice("union", None, cs.last)
      (base, batches, union, ids.count(_ <= cs.head).toLong)
    }
    val (baseDir, batchDirs, unionDir, nBase) = ctx.prepare(3)(prepare())
    val tRef = System.nanoTime()

    // warm-up and oracle in one: a from-scratch build over base ∪ batches
    // is what every cycle's folded corpus must equal
    val refOut = ctx.dir("cur_ref")
    ctx.rmrf(refOut)
    graft.cli.Curate.run(spark, unionDir, refOut, MinChars)
    val in = Inputs(baseDir, batchDirs, nBase, corpusKeys(refOut))
    rep.info("reference_s") = (System.nanoTime() - tRef) / 1e9
    val gate = new GateRunner(ctx, GateQueries)
    gate.warmUp()

    val runs = mutable.ArrayBuffer.empty[Double]
    val folds = mutable.ArrayBuffer.empty[Double]
    val cycles = mutable.ArrayBuffer.empty[Double]
    val storeFiles = mutable.ArrayBuffer.empty[Double]
    val storeBytes = mutable.ArrayBuffer.empty[Double]

    def storeState(outDir: String): Seq[(String, Long)] =
      Stores.map(s => s"$outDir/state/$s").filter(ZoneMap.exists).flatMap { d =>
        ZoneMap.read(d).files.map(f => f.path -> f.bytes.getOrElse(0L))
      }

    ctx.startMeasuring()
    var c = 0
    while (c == 0 || ctx.measuring) {
      val out = ctx.dir(s"cur_out_$c")
      ctx.rmrf(out)
      val (_, runMs) = Clock.timed {
        tr.span("cli.curate_run", c) { graft.cli.Curate.run(spark, in.baseDir, out, MinChars) }
      }
      runs += runMs / 1000.0
      rep.op(ok = true, "")
      var cycleMs = runMs
      in.batchDirs.foreach { b =>
        val before = storeState(out)
        val (_, foldMs) = Clock.timed {
          tr.span("cli.curate_add", c) { graft.cli.Curate.runAdd(spark, b, out, MinChars) }
        }
        val after = storeState(out)
        folds += foldMs / 1000.0
        cycleMs += foldMs
        storeFiles += after.length
        storeBytes += Stats.addedBytes(before, after).toDouble
        rep.op(ok = true, "")
      }
      // the folded corpus must equal the from-scratch build; a mismatch
      // fails the cycle's last fold
      val got = corpusKeys(out)
      if (got != in.expected) {
        rep.failed += 1
        rep.failures += s"cycle $c: folded corpus differs from rebuild " +
          s"(${got.diff(in.expected).size} extra, ${in.expected.diff(got).size} missing)"
      }
      ctx.rmrf(out)
      cycleMs += gate.pass(c)
      cycles += cycleMs / 1000.0
      c += 1
    }

    def put(name: String, s: Option[Stats.Summary], unit: String): Unit =
      s.foreach(x => rep.named(name) = Metric(x.value, unit, x.n))
    put("curate_docs_per_s", Stats.median(runs.map(in.nBase / _).toSeq), "1/s")
    put("fold_p50_s", Stats.median(folds.toSeq), "s")
    put("gate_total_s", Stats.median(gate.passSeconds), "s")
    Stats.median(folds.toSeq).foreach(s => rep.e2e("op_p50_ms") = Metric(s.value * 1000.0, "ms", s.n))
    Stats.median(cycles.toSeq).foreach(s => rep.e2e("cycle_s") = Metric(s.value, "s", s.n))
    rep.info("cycles") = cycles.length
    rep.info("runs_s") = runs.toSeq
    rep.info("folds_s") = folds.toSeq
    rep.info("docs") = Map("base" -> in.nBase, "expected_corpus" -> in.expected.size)

    if (tr.enabled) {
      val L = new Layers(tr.spans(), rep)
      gate.reportLayers(L)
      L.perSpan("cli.curate_run_ms", "cli.curate_run")(_.wallMs)
      L.perSpan("runner.build_jobs", "cli.curate_run")(_.counters.jobs.toDouble)
      L.perSpan("runner.build_job_span_ms", "cli.curate_run")(_.counters.jobSpanMs.toDouble)
      L.perSpan("runner.build_driver_only_ms", "cli.curate_run")(_.counters.driverOnlyMs.toDouble)
      L.perSpan("runner.build_shuffle_bytes", "cli.curate_run")(_.counters.shuffleBytes.toDouble)
      L.perSpan("cli.curate_add_ms", "cli.curate_add")(_.wallMs)
      L.perSpan("runner.fold_jobs", "cli.curate_add")(_.counters.jobs.toDouble)
      L.perSpan("runner.fold_tasks", "cli.curate_add")(_.counters.tasks.toDouble)
      L.perSpan("runner.fold_sched_delay_ms", "cli.curate_add")(_.counters.schedDelayMs.toDouble)
      L.perSpan("runner.fold_job_span_ms", "cli.curate_add")(_.counters.jobSpanMs.toDouble)
      L.perSpan("runner.fold_driver_only_ms", "cli.curate_add")(_.counters.driverOnlyMs.toDouble)
      L.perSpan("runner.fold_shuffle_bytes", "cli.curate_add")(_.counters.shuffleBytes.toDouble)
      L.value("layout.store_files", Stats.median(storeFiles.toSeq).map(_.value).getOrElse(0.0))
      L.value("layout.store_bytes_written", Stats.median(storeBytes.toSeq).map(_.value).getOrElse(0.0))
    }
  }
}
