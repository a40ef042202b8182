package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import graft.layout.{Compactor, LayoutWriter, TableManifest, ZoneMap}
import graft.profile.Profiler
import graft.runner.QueryRunner
import graft.table.{GraftFileIndex, SfcTable, Upserter}
import graft.wlg.WorkloadGen
import graft.wlg.WorkloadGen.{RangeParam, TemplateSpec}

/** The paper's loop on one table: write a Hilbert layout of a
  * tuple-unique lineitem, query it with S1–S4 2-D range instances, upsert
  * scattered-key batches into it (each followed by the query stream), and
  * re-cluster it. One cycle is write → stream → (upsert → stream)×k →
  * compact → stream; cycles repeat until the measured window closes.
  */
object LayoutRw {
  val Cols = Seq("l_quantity", "l_extendedprice")
  val Keys = Seq("l_orderkey", "l_linenumber")
  /** Files of the written layout; compaction re-clusters to as many. */
  val Files = 16
  /** Query instances per selectivity band (4 bands per stream). */
  val PerBand = 3
  /** Upsert batches per cycle. */
  val Batches = 2
  /** Per-mille of base tuples each batch updates / re-keys as inserts. */
  val UpdatePerMille = 20
  val InsertPerMille = 8

  private val Sql =
    "SELECT count(*) AS cnt, sum(l_orderkey) AS sum_ok FROM {{tbl}}\n" +
      "WHERE l_quantity BETWEEN :p0_lo AND :p0_hi\n" +
      "  AND l_extendedprice BETWEEN :p1_lo AND :p1_hi"

  /** One scan of the stream, as measured. */
  private case class Scan(ms: Double, kept: Int, total: Int)

  /** Order-independent digest of a table state: rows, distinct key
    * tuples, and the sum of per-row hashes over keys and both range
    * columns (each hash taken mod 2^31 - 1, so the sum cannot overflow).
    */
  private case class Digest(rows: Long, keys: Long, hashSum: Long)

  private def digest(df: DataFrame): Digest = {
    val r = df.agg(count(lit(1)), countDistinct(col(Keys.head), Keys.tail.map(col): _*),
      sum(pmod(xxhash64((Keys ++ Cols).map(col): _*), lit(Int.MaxValue.toLong))))
      .collect()(0)
    Digest(r.getLong(0), r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  /** The seeded inputs: tuple-unique base, upsert batches, and the
    * expected digest of every table state: `states(0)` is the base,
    * `states(b + 1)` the merge of batches 0..b into it.
    */
  private case class Inputs(base: DataFrame, batchDirs: Seq[String], states: Seq[Digest])

  private def materialize(ctx: Ctx): Inputs = {
    val spark = ctx.spark
    val baseDir = ctx.dir("lrw_base")
    // one row per (l_orderkey, l_linenumber), as MaintenanceQueries'
    // composite-key base: the generator does not enforce that key
    graft.Tables.load(spark, ctx.dataDir, "lineitem")
      .groupBy(Keys.map(col): _*)
      .agg(max(col("l_quantity")).as("l_quantity"),
        max(col("l_extendedprice")).as("l_extendedprice"))
      .write.parquet(baseDir)
    val base = spark.read.parquet(baseDir)
    // scattered-key batches: a seeded hash picks updates (price × 1.1)
    // and inserts (an existing order gets line numbers no base row has);
    // one write, one directory per batch
    val batchRoot = ctx.dir("lrw_batches")
    (0 until Batches).map { b =>
      val h = pmod(xxhash64(col("l_orderkey"), col("l_linenumber"),
        lit(ctx.seed), lit(b)), lit(1000))
      val upd = base.filter(h < UpdatePerMille)
        .withColumn("l_extendedprice", round(col("l_extendedprice") * 1.1, 2))
      val ins = base.filter(h >= 1000 - InsertPerMille)
        .withColumn("l_linenumber", col("l_linenumber") + 10 * (b + 1))
        .withColumn("l_quantity", col("l_quantity") + 1.0)
      upd.unionByName(ins).withColumn("batch", lit(b))
    }.reduce(_ unionByName _).coalesce(1).write.partitionBy("batch").parquet(batchRoot)
    val batchDirs = (0 until Batches).map(b => s"$batchRoot/batch=$b")
    // the expected merge, with plain DataFrame operations: each batch
    // replaces the rows whose key tuple it holds and adds the rest
    val cols = (Keys ++ Cols).map(col)
    val states = batchDirs.scanLeft(base.select(cols: _*)) { (state, bd) =>
      val b = spark.read.parquet(bd).select(cols: _*)
      state.join(b.select(Keys.map(col): _*), Keys, "left_anti").unionByName(b)
    }.map(digest)
    Inputs(base, batchDirs, states)
  }

  /** Profile the base and fill the S1–S4 templates; the seed goes into
    * every template and orders the stream.
    */
  private def queryStream(ctx: Ctx, base: DataFrame): Seq[WorkloadGen.QueryInstance] = {
    val tr = ctx.tracer
    val stats = tr.span("profile.profile") { Profiler.profile(base.select(Cols.map(col): _*)) }
    val insts = tr.span("wlg.fill") {
      graft.cli.Scenario.Bands.zipWithIndex.flatMap { case ((band, sel), bi) =>
        val selDim = math.sqrt(sel)
        WorkloadGen.fill(TemplateSpec(
          name = s"lrw_$band", sql = Sql,
          params = Cols.zipWithIndex.map { case (c, i) => RangeParam(s"p$i", c, selDim) },
          constraints = Cols.indices.map(i => s"p${i}_hi >= p${i}_lo"),
          n = PerBand, seed = Stats.mix(ctx.seed, 10 + bi)), stats, "{{tbl}}")
      }
    }
    new scala.util.Random(Stats.mix(ctx.seed, 2)).shuffle(insts)
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val rep = ctx.report

    val (in, matMs) = Clock.timed(materialize(ctx))
    val matS = matMs / 1000
    val stream = ctx.prepare(3)(queryStream(ctx, in.base))

    val scans = mutable.ArrayBuffer.empty[Scan]
    val writes = mutable.ArrayBuffer.empty[Double]
    val upserts = mutable.ArrayBuffer.empty[Double]
    val compacts = mutable.ArrayBuffer.empty[Double]
    val cycles = mutable.ArrayBuffer.empty[Double]
    val health = mutable.ArrayBuffer.empty[Double]
    var addedBytes = 0L
    var upsertedBytes = 0L
    var rewritten = 0
    var reclusters = 0
    var filesWritten = 0
    var compactBytes = 0L

    // One table state's stream: every query through SfcTable, timed from
    // open to collected answer; then every answer is checked against the
    // same aggregate over a plain parquet read of the same state.
    def runStream(tableDir: String, qs: Seq[WorkloadGen.QueryInstance], tag: Int,
        record: Boolean): Double = {
      var total = 0.0
      val got = qs.map { q =>
        val ((df, rows), ms) = Clock.timed {
          val t = tr.span("table.open", tag) { SfcTable.open(spark, tableDir) }
          t.createOrReplaceTempView("lrw")
          val df = tr.span("table.plan", tag) {
            val d = spark.sql(q.sql.replace("{{tbl}}", "lrw"))
            // the scan's file listing (GraftFileIndex.listFiles, where
            // zone-map pruning happens) is lazy; force it here so
            // planning and pruning are timed apart from execution
            QueryRunner.allNodes(d.queryExecution.executedPlan).foreach {
              case s: FileSourceScanExec => s.selectedPartitions
              case _ => ()
            }
            d
          }
          (df, tr.span("runner.scan_exec", tag) { df.collect() })
        }
        total += ms
        val (kept, all) = keptOf(df)
        if (record) scans += Scan(ms, kept, all)
        rows
      }
      if (record) {
        val want = reference(ctx, tableDir, qs)
        got.zip(want).foreach { case (g, w) =>
          rep.op(g.length == 1 && g(0) == w, s"scan on $tableDir: ${g.mkString} != $w")
        }
      }
      total
    }

    // the warm-up cycle (record = false) streams only after the write
    def cycle(c: Int, record: Boolean, qs: Seq[WorkloadGen.QueryInstance],
        batches: Seq[String]): Unit = {
      val tableDir = ctx.dir(s"lrw_table_$c")
      var opMs = 0.0
      val (m0, wMs) = Clock.timed {
        tr.span("layout.write", c) {
          LayoutWriter.write(in.base, tableDir, LayoutWriter.LayoutSpec(
            "hilbert", Cols, numFiles = Some(Files), recordKeys = Keys))
        }
      }
      opMs += wMs
      if (record) {
        writes += wMs / 1000.0
        filesWritten = m0.files.length
        val got = digest(spark.read.parquet(tableDir))
        rep.op(got == in.states.head, s"write of $tableDir: $got, expected ${in.states.head}")
      }
      // rewrites keep the written file granularity: the default 128 MB
      // target would fold this table into one file and end all skipping
      val target = math.max(1L, filesOf(m0).map(_._2).sum / Files)
      opMs += runStream(tableDir, qs, c, record)
      batches.zipWithIndex.foreach { case (bd, b) =>
        val before = filesOf(ZoneMap.read(tableDir))
        val batch = spark.read.parquet(bd)
        val (res, uMs) = Clock.timed {
          tr.span("table.upsert", c) {
            Upserter.upsertResult(spark, tableDir, batch, targetFileBytes = target)
          }
        }
        opMs += uMs
        if (record) {
          val after = filesOf(res.manifest)
          upserts += uMs / 1000.0
          addedBytes += Stats.addedBytes(before, after)
          upsertedBytes += parquetBytes(bd)
          rewritten += before.map(_._1).toSet.diff(after.map(_._1).toSet).size
          if (res.reclustered) reclusters += 1
          Compactor.clusteringHealth(res.manifest).foreach(health += _)
          // the upserted state must equal the expected merge
          val got = digest(spark.read.parquet(tableDir))
          rep.op(got == in.states(b + 1),
            s"upsert $b on $tableDir: $got, expected ${in.states(b + 1)}")
          opMs += runStream(tableDir, qs, c, record)
        }
      }
      val (mc, cMs) = Clock.timed {
        tr.span("layout.compact", c) { Compactor.compact(spark, tableDir, target) }
      }
      opMs += cMs
      if (record) {
        compacts += cMs / 1000.0
        compactBytes = filesOf(mc).map(_._2).sum
        // re-clustering must keep every row of the merged state
        val got = digest(spark.read.parquet(tableDir))
        rep.op(got == in.states.last, s"compact on $tableDir: $got, expected ${in.states.last}")
        opMs += runStream(tableDir, qs, c, record)
        cycles += opMs / 1000.0
      }
      ctx.rmrf(tableDir)
    }

    // warm-up: a cycle with one batch, discarded — scan latency settles
    // only after the first pass, and the first upsert and compaction
    // load classes
    val (_, warmMs) = Clock.timed(cycle(-1, record = false, stream, in.batchDirs.take(1)))
    val warmS = warmMs / 1000
    ctx.startMeasuring()
    var c = 0
    while (c == 0 || ctx.measuring) { cycle(c, record = true, stream, in.batchDirs); c += 1 }

    val scanMs = scans.map(_.ms).toSeq
    def put(name: String, s: Option[Stats.Summary], unit: String): Unit =
      s.foreach(x => rep.named(name) = Metric(x.value, unit, x.n))
    put("layout_write_s", Stats.median(writes.toSeq), "s")
    put("scan_p50_ms", Stats.median(scanMs), "ms")
    put("scan_p90_ms", Stats.percentile(scanMs, 0.9), "ms")
    rep.named("files_scanned_frac") = Metric(
      scans.map(_.kept).sum.toDouble / math.max(1, scans.map(_.total).sum), "ratio", scans.length)
    put("upsert_p50_s", Stats.median(upserts.toSeq), "s")
    rep.named("write_amp") =
      Metric(addedBytes.toDouble / math.max(1L, upsertedBytes), "ratio", upserts.length)
    put("compact_s", Stats.median(compacts.toSeq), "s")
    rep.e2e("op_p50_ms") = rep.named("scan_p50_ms")
    Stats.median(cycles.toSeq).foreach(s => rep.e2e("cycle_s") = Metric(s.value, "s", s.n))
    rep.info("cycles") = cycles.length
    rep.info("scans") = scans.length
    rep.info("setup_split_s") = Map("materialize" -> matS, "warm_cycle" -> warmS)
    rep.info("stream_p50_ms") = scanMs.grouped(stream.length).map(g => Stats.median(g).get.value).toSeq

    if (tr.enabled) {
      val L = new Layers(tr.spans(), rep)
      def med(xs: Iterable[Double]) = Stats.median(xs.toSeq).map(_.value).getOrElse(0.0)
      L.perSpan("profile.profile_ms", "profile.profile")(_.wallMs)
      L.perSpan("wlg.fill_ms", "wlg.fill")(_.wallMs)
      L.perSpan("layout.write_ms", "layout.write")(_.wallMs)
      L.perSpan("layout.write_jobs", "layout.write")(_.counters.jobs.toDouble)
      L.value("layout.files_written", filesWritten)
      L.perSpan("table.open_ms", "table.open")(_.wallMs)
      L.perSpan("table.plan_ms", "table.plan")(_.wallMs)
      L.perSpan("runner.scan_exec_ms", "runner.scan_exec")(_.wallMs)
      L.value("table.files_kept", med(scans.map(_.kept.toDouble)))
      L.value("table.files_total", med(scans.map(_.total.toDouble)))
      L.perSpan("runner.scan_bytes_read", "runner.scan_exec")(_.counters.bytesRead.toDouble)
      L.perSpan("runner.scan_records_read", "runner.scan_exec")(_.counters.recordsRead.toDouble)
      L.perSpan("runner.scan_jobs", "runner.scan_exec")(_.counters.jobs.toDouble)
      L.perSpan("runner.scan_tasks", "runner.scan_exec")(_.counters.tasks.toDouble)
      L.perSpan("runner.scan_sched_delay_ms", "runner.scan_exec")(_.counters.schedDelayMs.toDouble)
      L.perSpan("table.upsert_ms", "table.upsert")(_.wallMs)
      L.perSpan("table.upsert_jobs", "table.upsert")(_.counters.jobs.toDouble)
      L.value("table.reclusters", reclusters)
      L.value("table.upsert_files_rewritten", rewritten.toDouble / math.max(1, upserts.length))
      L.value("table.upsert_bytes_written", addedBytes.toDouble / math.max(1, upserts.length))
      L.value("layout.clustering_health", med(health))
      L.perSpan("layout.compact_ms", "layout.compact")(_.wallMs)
      L.value("layout.compact_bytes_written", compactBytes.toDouble)
    }
  }

  /** Every instance's answer over a plain parquet read of `tableDir`, in
    * one pass: the instance's own WHERE clause becomes a FILTER on the
    * same two aggregates.
    */
  private def reference(ctx: Ctx, tableDir: String,
      qs: Seq[WorkloadGen.QueryInstance]): Seq[Row] = {
    ctx.spark.read.parquet(tableDir).createOrReplaceTempView("lrw_plain")
    val aggs = qs.zipWithIndex.map { case (q, i) =>
      val where = q.sql.substring(q.sql.indexOf("WHERE ") + "WHERE ".length)
      s"count(*) FILTER (WHERE $where) AS c$i, sum(l_orderkey) FILTER (WHERE $where) AS s$i"
    }
    val r = ctx.spark.sql(aggs.mkString("SELECT ", ",\n", " FROM lrw_plain")).collect()(0)
    qs.indices.map(i => Row(r.get(2 * i), r.get(2 * i + 1)))
  }

  private def keptOf(df: DataFrame): (Int, Int) =
    QueryRunner.allNodes(df.queryExecution.executedPlan).collect {
      case s: FileSourceScanExec => s.relation.location
    }.collectFirst { case g: GraftFileIndex => (g.lastKept, g.lastTotal) }
      .getOrElse((-1, -1))

  private def filesOf(m: TableManifest): Seq[(String, Long)] =
    m.files.map(f => f.path -> f.bytes.getOrElse(
      java.nio.file.Files.size(java.nio.file.Paths.get(new java.net.URI(f.path).getPath))))

  /** On-disk bytes of the parquet files under `dir`. */
  private def parquetBytes(dir: String): Long = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s.filter(p => java.nio.file.Files.isRegularFile(p) &&
      p.getFileName.toString.endsWith(".parquet"))
      .mapToLong(java.nio.file.Files.size(_)).sum()
    finally s.close()
  }
}
