package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.layout.LayoutWriter
import graft.layout.LayoutWriter.LayoutSpec
import graft.table.SfcTable

/** End-to-end layout pipeline as oracle-checked queries: write the table
  * under a physical layout (L1–L4), prune the scan with the zone-map
  * manifest, run the query on the survivors. The DuckDB oracle runs the
  * same logical query on the *original* table — matching results prove
  * the layout write is content-preserving AND the pruning is sound.
  * (reference pipeline: lakehouse_op/delta_write_layout.py:165-280 +
  * run_queries.py scan metrics; our SURVEY.md §7.2 step 4 slice.)
  */
object LayoutQueries {

  // One layout write per (sfDir, layout) per JVM — queries then measure
  // query time, not write time (mirrors the reference, which lays out
  // once and queries many times).
  private val cache = scala.collection.concurrent.TrieMap[(String, String), String]()

  private def layoutDir(
      spark: SparkSession, sfDir: String, table: String,
      layout: String, cols: Seq[String],
      partitionBy: Seq[String] = Nil): String =
    cache.getOrElseUpdate(
      (sfDir + "/" + table, layout + cols.mkString("(", ",", ")") + partitionBy.mkString(",")), {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_layout_${layout}_").toString
      LayoutWriter.write(
        Tables.load(spark, sfDir, table), dir,
        LayoutSpec(layout, cols, numFiles = Some(16), partitionBy = partitionBy))
      dir
    })

  // Shared predicate constants (also baked into the oracle SQL below).
  private val dLo = "1994-01-01 00:00:00"
  private val dHi = "1994-06-30 23:59:59"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Z-order on (l_shipdate, l_quantity); 2-D box query via pruned scan.
    "q21_zorder_prune" -> ((s, d) => {
      val dir = layoutDir(s, d, "lineitem", "zorder", Seq("l_shipdate", "l_quantity"))
      SfcTable.open(s, dir)
        .filter(col("l_shipdate").between(lit(dLo).cast("timestamp"), lit(dHi).cast("timestamp"))
          && col("l_quantity").between(10.0, 20.0))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"),
          round(avg(col("l_discount")), 6).as("avg_disc"))
    }),

    // Hilbert on (l_partkey, l_suppkey); box on both key dims + group-by.
    "q22_hilbert_prune" -> ((s, d) => {
      val dir = layoutDir(s, d, "lineitem", "hilbert", Seq("l_partkey", "l_suppkey"))
      SfcTable.open(s, dir)
        .filter(col("l_partkey").between(1, 200) && col("l_suppkey").between(1, 50))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy(col("l_returnflag"))
    }),

    // SQL over SfcTable — the same file skipping, driven by the SQL
    // text's WHERE instead of a DataFrame filter.
    "q39_sfc_table_sql" -> ((s, d) => {
      val dir = layoutDir(s, d, "lineitem", "zorder", Seq("l_shipdate", "l_quantity"))
      SfcTable.open(s, dir).createOrReplaceTempView("sfc_lineitem")
      s.sql(
        s"""SELECT l_returnflag, count(*) AS cnt,
           |  round(sum(l_extendedprice), 2) AS sum_price
           |FROM sfc_lineitem
           |WHERE l_shipdate BETWEEN TIMESTAMP '$dLo' AND TIMESTAMP '$dHi'
           |  AND l_quantity BETWEEN 25.0 AND 35.0
           |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    }),

    // Dim-driven zone-map join pruning (SfcTable.joinPruned — the
    // zone-map analog of dynamic file pruning): the fact side is laid
    // out linear on the join key, the dim side is a filtered supplier
    // set, and the fact scan opens with the dim's key values (IN-list
    // or min/max bounds depending on cardinality) so non-matching files
    // skip before the join. The oracle runs the plain join on the
    // original table — matching results prove the pruned join loses no
    // rows at either the IN or the bounds path (cardinality crosses the
    // limit as sf grows).
    "q84_join_pruned" -> ((s, d) => {
      val dir = layoutDir(s, d, "lineitem", "linear", Seq("l_suppkey"))
      val dim = Tables.load(s, d, "supplier")
        .filter(col("s_acctbal") > 5000)
        .select(col("s_suppkey"), col("s_nationkey"))
      SfcTable.joinPruned(s, dir, dim, "l_suppkey", "s_suppkey")
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"))
        .orderBy(col("s_nationkey"))
    }),

    // Hive-style partitioned write (S3 partitionBy + P8 partition-eq
    // predicate, reference demo q1_filter shape): the partition filter
    // prunes via the manifest string stats and applies exactly to the
    // partition values the index parses from the file paths.
    "q49_partitioned_eq" -> ((s, d) => {
      val dir = layoutDir(s, d, "lineitem", "linear",
        Seq("l_shipdate"), partitionBy = Seq("l_returnflag"))
      SfcTable.open(s, dir)
        .filter(col("l_returnflag") === "R")
        .groupBy(col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"))
        .orderBy(col("l_linestatus"))
    }),

    // Deep-common-prefix STRING curve keys (round-17, StringCode): both
    // layout columns are zero-padded ids under a constant 10-char
    // prefix — the exact pool shape that collapsed the pre-r17 4-byte
    // code to one coordinate. The zorder write strips the common prefix
    // (manifest records strOffsets), the probe prunes on the RAW
    // strings, and the DuckDB oracle computes the same derived
    // keys over the original table — matching results prove the strip
    // changes clustering only, never content or pruning soundness.
    "q96_string_curve_prune" -> ((s, d) => {
      val dir = cache.getOrElseUpdate((d + "/lineitem", "zorder_deepstr"), {
        val dir2 = java.nio.file.Files
          .createTempDirectory("graft_layout_deepstr_").toString
        val df = Tables.load(s, d, "lineitem")
          .withColumn("lkey", concat(lit("B000000000"),
            lpad(col("l_orderkey").cast("string"), 7, "0")))
          .withColumn("skey", concat(lit("B000000000"),
            lpad(col("l_suppkey").cast("string"), 5, "0")))
        LayoutWriter.write(df, dir2,
          LayoutSpec("zorder", Seq("lkey", "skey"), numFiles = Some(16)))
        dir2
      })
      val lo = "B0000000000001000"
      val hi = "B0000000000003000"
      SfcTable.open(s, dir)
        .filter(col("lkey").between(lo, hi))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"),
          min(col("lkey")).as("min_key"), max(col("skey")).as("max_skey"))
    }),

    // Linear layout on l_shipdate; 1-D range (reference demo q2 shape).
    "q23_linear_prune" -> ((s, d) => {
      val dir = layoutDir(s, d, "lineitem", "linear", Seq("l_shipdate"))
      SfcTable.open(s, dir)
        .filter(col("l_shipdate").between(lit(dLo).cast("timestamp"), lit(dHi).cast("timestamp")))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q21_zorder_prune" ->
      s"""SELECT count(*) AS cnt, round(sum(l_extendedprice),2) AS sum_price,
         | round(avg(l_discount),6) AS avg_disc
         |FROM lineitem
         |WHERE l_shipdate BETWEEN TIMESTAMP '$dLo' AND TIMESTAMP '$dHi'
         |  AND l_quantity BETWEEN 10.0 AND 20.0""".stripMargin,
    "q22_hilbert_prune" ->
      """SELECT l_returnflag, count(*) AS cnt, round(sum(l_quantity),2) AS sum_qty
        |FROM lineitem
        |WHERE l_partkey BETWEEN 1 AND 200 AND l_suppkey BETWEEN 1 AND 50
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q23_linear_prune" ->
      s"""SELECT count(*) AS cnt,
         | round(sum(l_extendedprice*(1.0-l_discount)),2) AS revenue
         |FROM lineitem
         |WHERE l_shipdate BETWEEN TIMESTAMP '$dLo' AND TIMESTAMP '$dHi'""".stripMargin,
    "q39_sfc_table_sql" ->
      s"""SELECT l_returnflag, count(*) AS cnt,
         |  round(sum(l_extendedprice), 2) AS sum_price
         |FROM lineitem
         |WHERE l_shipdate BETWEEN TIMESTAMP '$dLo' AND TIMESTAMP '$dHi'
         |  AND l_quantity BETWEEN 25.0 AND 35.0
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q84_join_pruned" ->
      """SELECT s_nationkey, count(*) AS cnt,
        | round(sum(l_extendedprice),2) AS sum_price
        |FROM lineitem
        |JOIN (SELECT s_suppkey, s_nationkey FROM supplier
        |      WHERE s_acctbal > 5000) s
        |  ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,
    "q49_partitioned_eq" ->
      """SELECT l_linestatus, count(*) AS cnt,
        | round(sum(l_extendedprice),2) AS sum_price
        |FROM lineitem WHERE l_returnflag = 'R'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,
    "q96_string_curve_prune" ->
      """SELECT count(*) AS cnt, round(sum(l_extendedprice),2) AS sum_price,
        | min(lkey) AS min_key, max(skey) AS max_skey
        |FROM (SELECT l_extendedprice,
        |        concat('B000000000', lpad(CAST(l_orderkey AS VARCHAR), 7, '0')) AS lkey,
        |        concat('B000000000', lpad(CAST(l_suppkey AS VARCHAR), 5, '0')) AS skey
        |      FROM lineitem)
        |WHERE lkey BETWEEN 'B0000000000001000' AND 'B0000000000003000'""".stripMargin
  )
}
