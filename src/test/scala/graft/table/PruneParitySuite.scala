package graft.table

import graft.SparkTestBase
import graft.cli.Rq5
import graft.layout._
import graft.layout.LayoutWriter.LayoutSpec
import graft.queries.LayoutQueries
import graft.runner.QueryRunner
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge.inSetLong
import org.apache.spark.sql.types._

/** Every pruned read goes through [[SfcTable.open]] plus the caller's own
  * Column/SQL filter. For each call shape that used to hand-build zone
  * predicates beside that filter, the files the scan lists — with their
  * bytes and rows — must equal [[ZoneMap.pruneRead]] over the predicates
  * the caller built.
  */
class PruneParitySuite extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def epochSec(ts: String): Double =
    java.time.LocalDateTime.parse(ts.replace(' ', 'T'))
      .toEpochSecond(java.time.ZoneOffset.UTC).toDouble

  /** The one table scan of `df`: its index and the filters it lists with. */
  private def scanOf(df: DataFrame): (GraftFileIndex, FileSourceScanExec) = {
    val scans = QueryRunner.allNodes(df.queryExecution.executedPlan)
      .collect { case s: FileSourceScanExec => s }
    assert(scans.length == 1, s"expected one scan, got ${scans.length}")
    (scans.head.relation.location.asInstanceOf[GraftFileIndex], scans.head)
  }

  /** Asserts parity; returns (files listed, files in the table). */
  private def assertParity(df: DataFrame, preds: Seq[ZonePredicate]): (Int, Int) = {
    val (index, scan) = scanOf(df)
    val dir = index.rootPaths.head.toString
    val entries = ZoneMap.read(dir).files.map(f => ZoneMap.canonical(f.path) -> f).toMap
    val statuses = index.listFiles(scan.partitionFilters, scan.dataFilters).flatMap(_.files)
    val got = statuses.map { s =>
      val e = entries(ZoneMap.canonical(s.getPath.toString))
      assert(e.bytes.contains(s.getLen), s"${s.getPath}: listed length vs manifest bytes")
      e
    }
    val want = ZoneMap.pruneRead(dir, preds).kept
    def summary(fs: Seq[FileEntry]) =
      (fs.map(f => ZoneMap.canonical(f.path)).toSet, fs.flatMap(_.bytes).sum, fs.map(_.rows).sum)
    assert(summary(got) == summary(want), s"listing differs from $preds")
    (got.length, entries.size)
  }

  private def layoutQuery(name: String, preds: Seq[ZonePredicate], skips: Boolean = true): Unit = {
    val (kept, total) = assertParity(LayoutQueries.queries(name)(spark, sf), preds)
    assert(!skips || kept < total, s"$name must skip files: $kept/$total")
  }

  test("LayoutQueries: timestamp+double box (q21), hilbert keys (q22), linear range (q23)") {
    val (lo, hi) = (epochSec("1994-01-01 00:00:00"), epochSec("1994-06-30 23:59:59"))
    layoutQuery("q21_zorder_prune",
      Seq(NumBetween("l_shipdate", lo, hi), NumBetween("l_quantity", 10.0, 20.0)))
    // at this scale the partkey box spans every file
    layoutQuery("q22_hilbert_prune",
      Seq(NumBetween("l_partkey", 1, 200), NumBetween("l_suppkey", 1, 50)), skips = false)
    layoutQuery("q23_linear_prune", Seq(NumBetween("l_shipdate", lo, hi)))
  }

  test("LayoutQueries: hive-partitioned table (q49), deep-prefix string (q96)") {
    layoutQuery("q49_partitioned_eq", Seq(StrBetween("l_returnflag", "R", "R")))
    layoutQuery("q96_string_curve_prune",
      Seq(StrBetween("lkey", "B0000000000001000", "B0000000000003000")))
  }

  // Rq5's range and IN predicates were NumBetween/NumIn over the values
  // its WHERE renders: read them back out of the query text
  private val TsLit = """.*timestamp_seconds\((\d+)\).*""".r
  private val Between = """(\w+) BETWEEN (\S+) AND (\S+)""".r
  private val InList = """(\w+) IN \((.*)\)""".r
  private def num(s: String): Double = s match {
    case TsLit(v) => v.toDouble
    case v => v.toDouble
  }
  private def rq5Preds(where: String): Seq[ZonePredicate] = where match {
    case InList(c, vs) => Seq(NumIn(c, vs.split(",").toSeq.map(num)))
    case _ => Between.findAllMatchIn(where).map(m =>
      NumBetween(m.group(1), num(m.group(2)), num(m.group(3)))).toSeq
  }

  test("Rq5: range and IN queries over the partitioned + keyed table") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val dir = tmpDir("parity_rq5")
    LayoutWriter.write(li, dir, LayoutSpec("zorder", Seq("l_shipdate", "l_discount"),
      numFiles = Some(8), recordKeys = Rq5.RecordKeys,
      precombineCol = Some(Rq5.Precombine), partitionBy = Rq5.PartitionBy),
      extraStatsCols = Rq5.Cols)
    // timestamps as epoch seconds, as Rq5's own profile reads them
    def asDouble(c: String) =
      if (c == "l_shipdate") col(c).cast("timestamp").cast("double") else col(c).cast("double")
    val ranges = Rq5.Cols.map { c =>
      val r = li.agg(min(asDouble(c)), max(asDouble(c))).collect()(0)
      c -> (r.getDouble(0), r.getDouble(1))
    }.toMap
    val samples = Rq5.Cols.map { c =>
      c -> li.select(asDouble(c)).distinct().orderBy(asDouble(c)).limit(64)
        .collect().map(_.getDouble(0)).toSeq
    }.toMap
    val qs = Rq5.queries(ranges, samples, nInst = 1)
    assert(qs.exists(_.where.contains(" IN (")) && qs.exists(_.where.contains(" BETWEEN ")))
    SfcTable.open(spark, dir).createOrReplaceTempView("rq5_parity")
    val skipped = qs.count { q =>
      val df = spark.sql(
        s"SELECT count(*) AS cnt, sum(l_orderkey) AS sum_ok FROM rq5_parity WHERE ${q.where}")
      val (kept, total) = assertParity(df, rq5Preds(q.where))
      kept < total
    }
    assert(skipped > qs.length / 2, s"only $skipped of ${qs.length} queries skipped files")
    // the timestamp IN lists cast their literals to the column's type so
    // they prune; the answers equal the uncast form's
    li.createOrReplaceTempView("rq5_plain")
    val tsIn = qs.filter(_.where.startsWith("l_shipdate IN"))
    assert(tsIn.nonEmpty)
    tsIn.foreach { q =>
      val uncast = q.where.replace("CAST(", "").replace(" AS TIMESTAMP_NTZ)", "")
      def cnt(view: String, where: String) =
        spark.sql(s"SELECT count(*) FROM $view WHERE $where").collect()(0).getLong(0)
      assert(cnt("rq5_parity", q.where) == cnt("rq5_plain", uncast) &&
        cnt("rq5_plain", uncast) > 0, q.where)
    }
  }

  test("Incremental: the o_orderdate decay probe") {
    val dir = tmpDir("parity_inc")
    LayoutWriter.write(spark.read.parquet(s"$sf/orders.parquet"), dir,
      LayoutSpec("linear", Seq("o_orderdate"), numFiles = Some(8),
        recordKey = Some("o_orderkey")))
    val probe = SfcTable.open(spark, dir)
      .filter(col("o_orderdate").between(
        lit("1996-01-01").cast("timestamp"), lit("1996-12-31").cast("timestamp")))
      .agg(count(lit(1)), sum("o_totalprice"))
    val (kept, total) = assertParity(probe, Seq(NumBetween("o_orderdate",
      epochSec("1996-01-01 00:00:00"), epochSec("1996-12-31 00:00:00"))))
    assert(kept < total, s"probe must skip files: $kept/$total")
  }

  test("fold: the bh and doc_id inSetLong reads above the InSet threshold, " +
      "sharing one prune with the pre-job gate") {
    val threshold = spark.conf.get("spark.sql.optimizer.inSetConversionThreshold").toInt
    val schema = StructType(Seq(StructField("bh", LongType), StructField("doc_id", LongType)))
    val rows = spark.range(0, 20000)
      .select((col("id") % 997 * 7919).as("bh"), col("id").as("doc_id"))
    for ((c, keys) <- Seq(
        "bh" -> (0L until 60L).map(_ * 7919),
        "doc_id" -> (0L until 40L).map(_ * 3))) {
      assert(keys.length > threshold)
      val dir = tmpDir(s"parity_fold_$c")
      LayoutWriter.write(rows, dir, LayoutSpec("linear", Seq(c), numFiles = Some(16)))
      val df = SfcTable.open(spark, dir, Some(schema)).filter(inSetLong(col(c), keys))
      val gate = SfcTable.pruned(df).get
      val (kept, total) = assertParity(df, Seq(NumIn(c, keys.map(_.toDouble))))
      assert(kept < total, s"$c keys must skip files: $kept/$total")
      val (index, scan) = scanOf(df)
      assert(index.pruned(scan.partitionFilters ++ scan.dataFilters) eq gate,
        "the scan's listing must reuse the gate's prune")
      assert(df.count() == rows.filter(col(c).isin(keys: _*)).count())
    }
  }
}
