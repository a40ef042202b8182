package graft.runner

import graft.SparkTestBase
import graft.layout.LayoutWriter
import graft.table.SfcTable
import graft.layout.LayoutWriter.LayoutSpec
import org.apache.spark.sql.functions._
import scala.util.Random

class QueryRunnerSuite extends SparkTestBase {

  test("query metrics: files/bytes scanned reflect zone-map pruning") {
    val spark2 = spark
    import spark2.implicits._
    val listener = new MetricsListener
    spark.sparkContext.addSparkListener(listener)
    try {
      val rnd = new Random(9)
      val df = (1 to 50000)
        .map(i => (i.toLong, rnd.nextInt(1000), rnd.nextDouble() * 100))
        .toDF("id", "x", "y")
      val dir = tmpDir("runner_layout")
      LayoutWriter.write(df, dir,
        LayoutSpec("zorder", Seq("x", "y"), numFiles = Some(16)))

      // full scan
      val full = QueryRunner.run(spark,
        spark.read.parquet(dir).filter($"x".between(100, 150) && $"y".between(10, 20)),
        "full", Some(listener))
      // pruned scan, same predicate
      val scan = SfcTable.open(spark, dir)
        .filter($"x".between(100, 150) && $"y".between(10, 20))
      val pruned = QueryRunner.run(spark, scan, "pruned", Some(listener))

      assert(full.rows == pruned.rows, "pruning must not change results")
      // the full scan must touch every written file (curve cut snapping
      // may produce slightly fewer files than the 16 requested)
      assert(full.filesScanned == graft.layout.ZoneMap.read(dir).files.length.toLong,
        s"full scan files=${full.filesScanned}")
      assert(pruned.filesScanned == SfcTable.pruned(scan).get.kept.length.toLong)
      assert(pruned.filesScanned < full.filesScanned)
      assert(pruned.bytesScanned > 0 && pruned.bytesScanned < full.bytesScanned,
        s"bytes pruned=${pruned.bytesScanned} full=${full.bytesScanned}")
      // recordsRead < 50000 because parquet row-group stats + pushed
      // filters skip non-matching row groups — that's the pushdown working.
      assert(full.executorRunTimeMs >= 0 && full.recordsRead > 0)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("csv sink writes the fixed header and one row per query") {
    val rows = Seq(
      QueryRunner.QueryMetrics("a", 1, 0.5, 2, 100, 10, 5, 1000),
      QueryRunner.QueryMetrics("b", 2, 0.7, 3, 200, 20, 6, 2000))
    val p = tmpDir("runner_csv") + "/r.csv"
    QueryRunner.writeCsv(p, rows)
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(p))
    assert(lines.size() == 3)
    assert(lines.get(0).startsWith("name,rows,wall_sec,files_scanned"))
    assert(lines.get(1).startsWith("a,1,0.5,2,100"))
  }
}
