package graft.cli

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.Tables
import graft.layout.LayoutWriter
import graft.layout.LayoutWriter.LayoutSpec
import graft.profile.Profiler
import graft.runner.{MetricsListener, QueryRunner}
import graft.table.SfcTable

/** RQ5 — the SORT-ORDER matrix over partitioned + keyed tables: the
  * last reference runner without a repo artifact (r17 VERDICT "What's
  * missing #1"; reference scripts/run_RQ_5_matrix_delta_tpch.sh:27-132
  * + workload_spec/generate_tpch_rq5_specs.py). The reference reruns
  * the RQ1 `C1_N2_O1` spec family against EIGHT lineitem sort-order
  * scenarios (DEFAULT/V1 and O2/O3/O4 each with both column orders) ×
  * {baseline, linear, zorder} Delta layouts, on a hive-partitioned
  * (l_returnflag, l_linestatus), record-keyed (l_orderkey,
  * l_linenumber) table — asking how a FIXED workload fares as the sort
  * order varies, i.e. ranking sort orders per query family.
  *
  * The engine axis of the reference matrix (Delta vs Iceberg twins)
  * collapses in a single-engine build — our keyed-COW table IS the
  * format. Schema mapping follows Rq6's documented rules: the driver
  * schema has no l_receiptdate/l_commitdate, so DEFAULT's
  * (l_shipdate, l_receiptdate) maps to (l_shipdate, l_discount) and
  * O2's (l_commitdate, l_suppkey) to (l_shipdate, l_suppkey);
  * precombine l_commitdate maps to l_shipdate. O3/O4 exist verbatim.
  *
  * Workload (fixed across scenarios, seeded — the AmazonScenario Q
  * pattern, mirroring generate_tpch_rq1_specs.py QUERY_DEFS):
  * single-column ranges (N1) on shipdate/extendedprice/quantity,
  * two-column ranges (N2) on the scenario sort pairs' columns, at
  * bands S1–S4, plus point-IN queries (fanout 1/4/16) on
  * shipdate/orderkey/suppkey/quantity sampled from real rows.
  *
  * Output: Scenario-format CSVs in outDir (rq1_queries.csv,
  * geomean_speedup.csv, geomean_by_family.csv) where the layout column
  * carries `<scenario>:<family>` (one shared `baseline` arm — an
  * unsorted partitioned table is the same table under every sort
  * scenario).
  *
  * Usage: runMain graft.cli.Rq5 [sfDir] [outDir] [nPerBand] [numFiles]
  */
object Rq5 {

  /** scenario → lineitem sort columns (reference scenario table,
    * schema-mapped).
    */
  val SortScenarios: Seq[(String, Seq[String])] = Seq(
    "DEFAULT" -> Seq("l_shipdate", "l_discount"),
    "DEFAULT_V1" -> Seq("l_discount", "l_shipdate"),
    "O2_V1" -> Seq("l_shipdate", "l_suppkey"),
    "O2_V2" -> Seq("l_suppkey", "l_shipdate"),
    "O3_V1" -> Seq("l_orderkey", "l_suppkey"),
    "O3_V2" -> Seq("l_suppkey", "l_orderkey"),
    "O4_V1" -> Seq("l_extendedprice", "l_quantity"),
    "O4_V2" -> Seq("l_quantity", "l_extendedprice"))

  val RecordKeys = Seq("l_orderkey", "l_linenumber")
  val Precombine = "l_shipdate"
  val PartitionBy = Seq("l_returnflag", "l_linestatus")
  val Layouts = Seq("linear", "zorder")

  val Bands: Seq[(String, Double)] =
    Seq("S1" -> 0.0005, "S2" -> 0.005, "S3" -> 0.05, "S4" -> 0.15)

  /** Every column any scenario sorts or predicates on. */
  val Cols = Seq("l_shipdate", "l_discount", "l_suppkey", "l_orderkey",
    "l_extendedprice", "l_quantity")

  case class Q(name: String, where: String)

  private def frac(a: Int, b: Int): Double =
    (math.abs((a * 2654435761L + b * 40503L) % 1000003L)) / 1000003.0

  /** The fixed seeded workload. Ranges place a window of the band's
    * width uniformly in the column's profiled [min,max]; timestamps are
    * `timestamp_seconds()` literals. Point queries IN-list real sampled
    * values. The WHERE text is the whole query: the table's file index
    * prunes from it.
    */
  def queries(ranges: Map[String, (Double, Double)],
      samples: Map[String, Seq[Double]], nInst: Int): Seq[Q] = {
    def isTs(c: String) = c == "l_shipdate"
    def sqlLit(c: String, v: Double): String =
      if (isTs(c)) f"timestamp_seconds($v%.0f)"
      else if (c == "l_discount") f"$v%.4f"
      else f"$v%.2f"
    // l_shipdate is TIMESTAMP_NTZ: Catalyst unwraps the column-side cast a
    // BETWEEN over timestamp literals implies, but not an IN list's, and
    // a cast column prunes nothing — so IN literals carry the column type
    def inLit(c: String, v: Double): String =
      if (isTs(c)) s"CAST(${sqlLit(c, v)} AS TIMESTAMP_NTZ)" else sqlLit(c, v)
    def window(c: String, sel: Double, seed: Int): (Double, Double) = {
      val (mn, mx) = ranges(c)
      val span = mx - mn
      val w = math.max(1e-9, sel * span)
      val lo = mn + frac(seed, c.hashCode) * (span - w)
      // timestamp bounds land on WHOLE seconds (the literal renders %.0f)
      if (isTs(c)) (math.floor(lo), math.floor(lo + w))
      else (lo, lo + w)
    }
    def rangeQ(tag: String, cs: Seq[String], band: String, sel2: Double,
        i: Int): Q = {
      val selDim = math.pow(sel2, 1.0 / cs.length)
      val ws = cs.zipWithIndex.map { case (c, j) =>
        c -> window(c, selDim, 7000 + 131 * i + 17 * j + band.hashCode)
      }
      Q(s"${tag}_${band}_$i",
        ws.map { case (c, (lo, hi)) =>
          s"$c BETWEEN ${sqlLit(c, lo)} AND ${sqlLit(c, hi)}"
        }.mkString(" AND "))
    }
    val n1 = for {
      c <- Seq("l_shipdate", "l_extendedprice", "l_quantity")
      (band, sel) <- Bands
      i <- 0 until nInst
    } yield rangeQ(s"n1_${c.stripPrefix("l_")}", Seq(c), band, sel, i)
    val n2Pairs = Seq(
      Seq("l_shipdate", "l_discount"),
      Seq("l_shipdate", "l_suppkey"),
      Seq("l_extendedprice", "l_quantity"),
      Seq("l_extendedprice", "l_shipdate"),
      Seq("l_quantity", "l_discount"))
    val n2 = for {
      cs <- n2Pairs
      (band, sel) <- Bands
      i <- 0 until nInst
    } yield rangeQ(s"n2_${cs.map(_.stripPrefix("l_")).mkString("_")}",
      cs, band, sel, i)
    val pts = for {
      c <- Seq("l_shipdate", "l_orderkey", "l_suppkey", "l_quantity")
      fanout <- Seq(1, 4, 16)
      i <- 0 until math.max(1, nInst / 2)
    } yield {
      val pool = samples(c)
      val vs = (0 until fanout).map(j =>
        pool((frac(9000 + 31 * i + j, c.hashCode) * pool.size).toInt
          .min(pool.size - 1))).distinct
      Q(s"pt_${c.stripPrefix("l_")}_f${fanout}_$i",
        s"$c IN (${vs.map(v => inLit(c, v)).mkString(",")})")
    }
    n1 ++ n2 ++ pts
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("results/rq5")
    val nInst = args.lift(2).map(_.toInt).getOrElse(2)
    val numFiles = args.lift(3).map(_.toInt).getOrElse(16)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.runner.Sessions
      .tuned(SparkSession.builder().master(s"local[$cpus]"), cpus, sfDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val listener = new MetricsListener
    spark.sparkContext.addSparkListener(listener)

    val li = Tables.load(spark, sfDir, "lineitem")
    val stats = Profiler.profile(li.select(Cols.head, Cols.tail: _*))
    val ranges = stats.columns.flatMap(c =>
      for { mn <- c.min; mx <- c.max } yield c.name -> (mn, mx)).toMap

    // deterministic point-value pools: 256 evenly spaced quantiles of
    // each column — real data values, spread across the domain, robust
    // to any cardinality (a hash-mod VALUE filter empties out on
    // low-cardinality columns like l_quantity's 50 values)
    val samples: Map[String, Seq[Double]] = Seq(
      "l_shipdate", "l_orderkey", "l_suppkey", "l_quantity").map { c =>
      val numc =
        if (c == "l_shipdate") col(c).cast("timestamp").cast("double")
        else col(c).cast("double")
      val fr = (0 until 256).map(_ / 255.0)
      val pool = li.select(numc.as("v"))
        .agg(percentile_approx(col("v"), array(fr.map(lit): _*), lit(10000)))
        .collect()(0).getSeq[Double](0).distinct
      System.err.println(s"[rq5] sample pool $c: ${pool.size} values")
      require(pool.nonEmpty, s"empty point-value pool for $c")
      c -> pool
    }.toMap

    val qs = queries(ranges, samples, nInst)
    println(s"[rq5] ${qs.length} workload queries, " +
      s"${SortScenarios.length} sort scenarios x ${Layouts.length} " +
      s"layouts + shared baseline")

    val work = java.nio.file.Files.createTempDirectory("graft_rq5").toString
    val cells = scala.collection.mutable.ArrayBuffer.empty[Scenario.Cell]
    try {
      // one shared baseline arm: an unsorted partitioned+keyed table is
      // the same table under every sort scenario
      val arms: Seq[(String, LayoutSpec)] =
        ("baseline" -> LayoutSpec("baseline", Nil,
          numFiles = Some(numFiles), recordKeys = RecordKeys,
          precombineCol = Some(Precombine), partitionBy = PartitionBy)) +:
        (for {
          (scen, sortCols) <- SortScenarios
          layout <- Layouts
        } yield s"$scen:$layout" -> LayoutSpec(layout, sortCols,
          numFiles = Some(numFiles), recordKeys = RecordKeys,
          precombineCol = Some(Precombine), partitionBy = PartitionBy))

      for ((arm, spec) <- arms) {
        val dir = s"$work/${arm.replace(":", "_")}"
        LayoutWriter.write(li, dir, spec, extraStatsCols = Cols)
        for ((q, band) <- qs.map(q =>
            q -> q.name.split("_").reverse(1)).map {
              case (q, b) if b.startsWith("S") => (q, b)
              case (q, _) => (q, "PT")
            }) {
          SfcTable.open(spark, dir).createOrReplaceTempView("rq5_tbl")
          val sql = "SELECT count(*) AS cnt, sum(l_orderkey) AS sum_ok " +
            s"FROM rq5_tbl WHERE ${q.where}"
          val m1 = QueryRunner.run(spark, spark.sql(sql), s"$arm-${q.name}",
            listener = Some(listener), warmup = true)
          val m2 = QueryRunner.run(spark, spark.sql(sql), s"$arm-${q.name}",
            listener = Some(listener), warmup = false)
          val m = if (m2.wallSec < m1.wallSec) m2 else m1
          cells += Scenario.keptCell(band, q.name, arm, m, spark.sql(sql))
        }
        // free the arm's files as we go — 17 laid-out copies otherwise
        if (arm != "baseline") Scenario.deleteRec(new java.io.File(dir))
      }
      // Scenario's geomean machinery iterates the arms PRESENT in the
      // cells, so the `<scenario>:<layout>` arms flow through both CSVs
      Scenario.writeCsvs(outDir, cells.toSeq, Scenario.geomeans(cells.toSeq))
      println(s"[rq5] wrote ${cells.length} cells -> $outDir")
    } finally {
      Scenario.deleteRec(new java.io.File(work))
      spark.sparkContext.removeSparkListener(listener)
      spark.stop()
    }
  }
}
