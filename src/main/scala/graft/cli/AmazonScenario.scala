package graft.cli

import org.apache.spark.sql.SparkSession
import graft.layout.{LayoutWriter, TableManifest}
import graft.layout.LayoutWriter.LayoutSpec
import graft.runner.{MetricsListener, QueryRunner}
import graft.table.SfcTable
import graft.tools.AmazonGen

/** The reference's AMAZON RQ1 layout-effectiveness matrix — string
  * layout keys and a category hive partition, the one scenario family
  * round-15 flagged as machinery-only (VERDICT "What's missing #1").
  *
  * Reference shape (scripts/run_RQ_1_matrix.sh:160-224 +
  * workload_spec/generate_amazon_rq1_specs.py):
  *  - six sort configs C1–C6 over (asin, parent_asin, user_id,
  *    record_timestamp), each materialized as
  *    no_layout/linear/zorder/hilbert with partition=category,
  *    record_key=(user_id, asin), precombine=record_timestamp;
  *  - point IN queries over the string ids at fanouts 1/4/16
  *    (Q3_K* family) and timestamp/numeric range queries at the S1–S4
  *    selectivity bands (Q1/Q2 families, spec_amazon_Q1.yaml shape).
  *
  * This main re-runs that matrix on [[AmazonGen]]'s deterministic
  * reviews table through the zone-map pruned scan, emitting the same
  * geomean-speedup + per-query CSVs as [[Scenario]] (band column =
  * scenario config). A trailing DEEP diagnostic re-runs C1 with
  * pathological deep-common-prefix asins ("B0000000" + 4 varying
  * chars): the curve writers' 4-byte string prefix code collapses such
  * a pool to ONE coordinate, so zorder/hilbert degrade toward baseline
  * there while linear (true lexicographic sort) is unaffected — the
  * failure mode the round-15 verdict asked to measure.
  *
  * Usage: runMain graft.cli.AmazonScenario [outDir] [rows] [numFiles] [nInst]
  */
object AmazonScenario {

  val SortConfigs: Seq[(String, Seq[String])] = Seq(
    "C1" -> Seq("asin", "parent_asin"),
    "C2" -> Seq("parent_asin", "asin"),
    "C3" -> Seq("asin", "user_id"),
    "C4" -> Seq("user_id", "asin"),
    "C5" -> Seq("user_id", "record_timestamp"),
    "C6" -> Seq("record_timestamp", "user_id"))

  /** Overall selectivity mid-bands, the amazon generator's S1–S4
    * (generate_amazon_rq1_specs.py:31-36).
    */
  val Bands: Seq[(String, Double)] =
    Seq("S1" -> 0.0005, "S2" -> 0.005, "S3" -> 0.05, "S4" -> 0.15)

  private def frac(seed: Int, i: Int): Double =
    Math.floorMod(scala.util.hashing.MurmurHash3
      .productHash((seed, i)), 1000000) / 1000000.0

  case class Q(name: String, where: String)

  /** The fixed query-instance set every (scenario, layout) cell runs —
    * parameters are pure seeded functions, so all layouts see identical
    * instances.
    */
  def queries(spark: SparkSession, nUsers: Long, nAsins: Long,
      nInst: Int): Seq[Q] = {
    val span = (AmazonGen.TsHi - AmazonGen.TsLo).toDouble
    def sq(s: String) = "'" + s + "'"
    val tsQs = for {
      (band, sel) <- Bands
      i <- 0 until nInst
    } yield {
      val w = math.max(1.0, sel * span)
      val lo = AmazonGen.TsLo + frac(1000 + i, band.hashCode) * (span - w)
      val hi = lo + w
      Q(s"ts_${band}_$i",
        f"record_timestamp BETWEEN timestamp_seconds(${lo}%.0f) AND timestamp_seconds(${hi}%.0f)")
    }
    val pointQs = for {
      (colName, pool, salt, prefix, len) <- Seq(
        ("asin", nAsins, 21, "B0", 8), ("user_id", nUsers, 10, "AE", 12))
      fanout <- Seq(1, 4, 16)
      i <- 0 until math.max(1, nInst / 2)
    } yield {
      val vs = AmazonGen.sampleCodes(spark, pool, fanout, salt, prefix, len,
        seed = 7000 + 13 * fanout + i)
      Q(s"${colName}_f${fanout}_$i",
        s"$colName IN (${vs.map(sq).mkString(",")})")
    }
    val catTs = for (i <- 0 until math.max(1, nInst / 2)) yield {
      val cats = Seq("All_Beauty", "Electronics", "Books")
      val w = 0.05 * span
      val lo = AmazonGen.TsLo + frac(3000, i) * (span - w)
      Q(s"cat_ts_S3_$i",
        s"category IN (${cats.map(sq).mkString(",")}) AND " +
          f"record_timestamp BETWEEN timestamp_seconds(${lo}%.0f) AND timestamp_seconds(${lo + w}%.0f)")
    }
    val tsRating = for (i <- 0 until math.max(1, nInst / 2)) yield {
      val w = 0.05 * span
      val lo = AmazonGen.TsLo + frac(4000, i) * (span - w)
      Q(s"ts_rating_S3_$i",
        f"record_timestamp BETWEEN timestamp_seconds(${lo}%.0f) AND timestamp_seconds(${lo + w}%.0f)" +
          " AND rating BETWEEN 4 AND 5")
    }
    tsQs ++ pointQs ++ catTs ++ tsRating
  }

  /** Write one layout of the reviews table (category hive partition,
    * composite string record key — the reference's amazon keyed config).
    */
  def writeLayout(df: org.apache.spark.sql.DataFrame, dir: String,
      layout: String, sortCols: Seq[String], numFiles: Int): TableManifest =
    LayoutWriter.write(df, dir,
      LayoutSpec(layout, if (layout == "baseline") Nil else sortCols,
        numFiles = Some(numFiles),
        recordKeys = Seq("user_id", "asin"),
        precombineCol = Some("record_timestamp"),
        partitionBy = Seq("category")),
      extraStatsCols = Seq("asin", "parent_asin", "user_id",
        "record_timestamp", "rating", "helpful_vote"))

  private def runCells(spark: SparkSession, listener: MetricsListener,
      scenario: String, layout: String, dir: String,
      qs: Seq[Q]): Seq[Scenario.Cell] =
    qs.map { q =>
      SfcTable.open(spark, dir).createOrReplaceTempView("amz_pruned")
      val sql = cellSql("amz_pruned", q)
      val m1 = QueryRunner.run(spark, spark.sql(sql),
        s"$scenario-${q.name}-$layout", listener = Some(listener), warmup = true)
      val m2 = QueryRunner.run(spark, spark.sql(sql),
        s"$scenario-${q.name}-$layout", listener = Some(listener), warmup = false)
      val m = if (m2.wallSec < m1.wallSec) m2 else m1
      Scenario.keptCell(scenario, q.name, layout, m, spark.sql(sql))
    }

  /** The SQL one matrix cell runs over `view`; its WHERE is the one the
    * table's file index prunes from.
    */
  def cellSql(view: String, q: Q): String =
    s"SELECT count(*) AS cnt, sum(helpful_vote) AS hv FROM $view WHERE ${q.where}"

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("results/rq1_amazon")
    val rows = args.lift(1).map(_.toLong).getOrElse(8000000L)
    val numFiles = args.lift(2).map(_.toInt).getOrElse(16)
    val nInst = args.lift(3).map(_.toInt).getOrElse(4)
    val nUsers = math.max(1000L, rows / 16)
    val nAsins = math.max(500L, rows / 80)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.runner.Sessions
      .tuned(SparkSession.builder().master(s"local[$cpus]"), cpus, outDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val listener = new MetricsListener
    spark.sparkContext.addSparkListener(listener)

    val df = AmazonGen.reviews(spark, rows, nUsers, nAsins)
    val qs = queries(spark, nUsers, nAsins, nInst)
    System.err.println(s"[amazon] rows=$rows users=$nUsers asins=$nAsins " +
      s"queries=${qs.length} scenarios=${SortConfigs.length}")

    val work = java.nio.file.Files.createTempDirectory("graft_rq1_amz_").toString
    // baseline is sort-independent: one table, cells cloned per scenario
    val baseDir = s"$work/baseline"
    writeLayout(df, baseDir, "baseline", Nil, numFiles)
    val baseCells = runCells(spark, listener, "BASE", "baseline", baseDir, qs)

    val cells = SortConfigs.flatMap { case (cfg, sortCols) =>
      val layoutCells = Seq("linear", "zorder", "hilbert").flatMap { layout =>
        val dir = s"$work/${cfg}_$layout"
        val t0 = System.nanoTime()
        writeLayout(df, dir, layout, sortCols, numFiles)
        System.err.println(f"[amazon] wrote $cfg/$layout in " +
          f"${(System.nanoTime() - t0) / 1e9}%.1f s")
        val cs = runCells(spark, listener, cfg, layout, dir, qs)
        Scenario.deleteRec(new java.io.File(dir))
        cs
      }
      layoutCells ++ baseCells.map(_.copy(band = cfg))
    }

    // DEEP diagnostic: C1 sorts on asins whose first 4 chars are all
    // equal — the curve coordinate collapses; linear must hold
    val deepDf = AmazonGen.reviews(spark, rows / 4, nUsers, nAsins,
      deepPrefixAsin = true)
    val deepAsins = (0 until 3).map(i => AmazonGen.sampleCodes(
      spark, nAsins, 4, 20, "B0000000", 4, seed = 8100 + i))
    val deepQs = deepAsins.zipWithIndex.map { case (vs, i) =>
      Q(s"deep_asin_f4_$i",
        s"asin IN (${vs.map(v => "'" + v + "'").mkString(",")})")
    } ++ (0 until 2).map { i =>
      // single-asin probes too (the raw pool's f1 family is the 48x/9.6x
      // headline): with the r17 prefix strip the deep pool must match it
      // salt 20 = the deep pool's asin salt (AmazonGen.reviews
      // deepPrefixAsin arm) — sampling with any other salt derives
      // codes that don't exist in the table, and nonexistent-key
      // lookups prune unrealistically well (caught in r17 review:
      // records_read was 0 on every deep_asin_f1 probe)
      val vs = AmazonGen.sampleCodes(spark, nAsins, 1, 20, "B0000000", 4,
        seed = 8200 + i)
      Q(s"deep_asin_f1_$i",
        s"asin IN (${vs.map(v => "'" + v + "'").mkString(",")})")
    }
    val deepCells = Scenario.Layouts.flatMap { layout =>
      val dir = s"$work/deep_$layout"
      writeLayout(deepDf, dir, layout, Seq("asin", "parent_asin"), numFiles)
      val cs = runCells(spark, listener, "C1deep", layout, dir, deepQs)
      Scenario.deleteRec(new java.io.File(dir))
      cs
    }

    val all = cells ++ deepCells
    Scenario.deleteRec(new java.io.File(work)) // baseline table + work root
    val geo = Scenario.geomeans(all)
    Scenario.writeCsvs(outDir, all, geo)
    geo.foreach { g =>
      println(f"${g.band}%-7s ${g.layout}%-10s spd=${g.gmWallSpeedup}%8.3f " +
        f"files=${g.gmFilesRatio}%8.3f kept/total=${g.filesKept}/${g.filesTotal}")
    }
    println(s"[amazon] rq1 amazon matrix -> $outDir")
    spark.stop()
  }
}
