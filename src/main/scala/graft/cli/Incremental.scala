package graft.cli

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.Tables
import graft.layout._
import graft.layout.LayoutWriter.LayoutSpec
import graft.runner.{MetricsListener, QueryRunner}
import graft.table.{BatchBuilder, SfcTable, Upserter}

/** RQ7-style incremental-maintenance scenario (reference:
  * scripts/run_RQ_7_matrix.sh + build_tpch_update_batches.py +
  * hudi_upsert.py; summary shape figures/rq7_tpch_summary_*.csv):
  * materialize a layout table, split an update set into B batches, then
  * upsert batch-by-batch re-running the probe query after each to track
  * layout decay (files/bytes scanned growing as unclustered data
  * accumulates), with a re-cluster at the end showing recovery.
  *
  * Emits one decay.csv row per step — batch00 (pristine) … batchNN
  * (fully decayed), then reclustered — with the files the zone-map
  * prune kept, the files/bytes/rows the probe actually read, and wall
  * time. The decay-then-recover curve is the artifact: rows_read climbs
  * as upserted rows land in unclustered files the probe's date range
  * can no longer skip, and drops back once compaction restores the
  * declared sort order.
  *
  * Usage: runMain graft.cli.Incremental [sfDir] [batches] [outCsv]
  */
object Incremental {

  case class Step(step: String, filesKept: Long, filesTotal: Long,
      filesScanned: Long, bytesScanned: Long, recordsRead: Long,
      rows: Long, wallSec: Double)

  /** Run the full decay-then-recover scenario; one Step per probe. */
  def run(spark: SparkSession, sfDir: String, batches: Int): Seq[Step] = {
    val listener = new MetricsListener
    spark.sparkContext.addSparkListener(listener)
    try {
      // Base table: first 70% of orders, linear-clustered on o_orderdate.
      val orders = Tables.load(spark, sfDir, "orders")
      val maxKey = orders.agg(max("o_orderkey")).collect()(0).getLong(0)
      val cut = (maxKey * 0.7).toLong
      val dir = java.nio.file.Files.createTempDirectory("graft_rq7_").toString
      LayoutWriter.write(
        orders.filter(col("o_orderkey") <= cut), dir,
        LayoutSpec("linear", Seq("o_orderdate"), numFiles = Some(8),
          recordKey = Some("o_orderkey")))

      // Update set: remaining 30%, split into deterministic hash batches.
      val updates = BatchBuilder.splitHash(
        orders.filter(col("o_orderkey") > cut), batches, seed = 42, keyCol = "o_orderkey")

      def probe(tag: String): Step = {
        val t = SfcTable.open(spark, dir)
        def q = t.filter(col("o_orderdate").between(
            lit("1996-01-01").cast("timestamp"), lit("1996-12-31").cast("timestamp")))
          .agg(count(lit(1)), sum("o_totalprice"))
        val m = QueryRunner.run(spark, q, tag, Some(listener), warmup = true)
        Step(tag, m.filesScanned, SfcTable.pruned(q).get.filesTotal, m.filesScanned,
          m.bytesScanned, m.recordsRead, m.rows, m.wallSec)
      }

      val results = scala.collection.mutable.ArrayBuffer(probe("batch00"))
      for (b <- 0 until batches) {
        // raw decay protocol: no sorted rewrites, no auto-recluster —
        // this scenario MEASURES the unmitigated cliff and then repairs
        // it explicitly below
        Upserter.upsert(spark, dir,
          updates.filter(col("batch_id") === b).drop("batch_id"),
          sortRewrites = false, autoRecluster = false)
        results += probe(f"batch${b + 1}%02d")
      }
      // Re-cluster (compaction preserves the declared layout) and re-probe:
      // target 1/8 of the table per file so pruning granularity is restored
      // (at production scale this is the 128 MB default).
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val total = fs.getContentSummary(new org.apache.hadoop.fs.Path(dir)).getLength
      Compactor.compact(spark, dir, targetFileBytes = math.max(1L, total / 8))
      results += probe("reclustered")
      results.toSeq
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  def writeCsv(path: String, steps: Seq[Step]): Unit = {
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val header = "step,files_kept,files_total,files_scanned,bytes_scanned," +
      "records_read,wall_sec"
    val body = steps.map(s =>
      s"${s.step},${s.filesKept},${s.filesTotal},${s.filesScanned}," +
        s"${s.bytesScanned},${s.recordsRead},${f3(s.wallSec)}")
    java.nio.file.Files.write(p,
      (header +: body).mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val batches = args.lift(1).map(_.toInt).getOrElse(4)
    val outCsv = args.lift(2).getOrElse("results/rq7/decay.csv")
    val spark = graft.runner.Sessions
      .tuned(SparkSession.builder().master("local[8]"), "8")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val results = run(spark, sfDir, batches)
    writeCsv(outCsv, results)
    println(f"${"step"}%-14s ${"kept/total"}%12s ${"bytesKB"}%9s ${"recs"}%8s ${"wall"}%7s")
    results.foreach { s =>
      println(f"${s.step}%-14s ${s"${s.filesKept}/${s.filesTotal}"}%12s ${s.bytesScanned / 1024}%9d ${s.recordsRead}%8d ${f"${s.wallSec}%.3f"}%7s")
    }
    println(s"[incremental] decay curve written to $outCsv")
    spark.stop()
  }
}
