package graft.cli

import graft.SparkTestBase
import graft.layout.{TableManifest, ZoneMap}
import graft.table.{SfcTable, ZoneTranslator}
import graft.tools.AmazonGen
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.functions._

/** The Amazon RQ1 matrix pieces (results/rq1_amazon is the full-scale
  * artifact): deterministic query-instance generation, the keyed +
  * partitioned layout write, and StrIn zone pruning on the lead string
  * sort column — pinned at test scale so the scenario main can't rot.
  */
class AmazonScenarioSuite extends SparkTestBase {

  test("query instances are deterministic and parameter-complete") {
    val a = AmazonScenario.queries(spark, nUsers = 2000, nAsins = 500, nInst = 2)
    val b = AmazonScenario.queries(spark, nUsers = 2000, nAsins = 500, nInst = 2)
    assert(a.map(q => (q.name, q.where)) == b.map(q => (q.name, q.where)))
    assert(a.map(_.name).distinct.length == a.length, "names must be unique")
    // every family present: ts bands, both id points, the 2-col shapes
    val fams = a.map(_.name.split("_[0-9]+$").head).toSet
    Seq("ts_S1", "ts_S4", "asin_f1", "asin_f16", "user_id_f1",
      "cat_ts_S3", "ts_rating_S3").foreach(f =>
      assert(fams.exists(_.startsWith(f)), s"missing family $f in $fams"))
    // every WHERE carries a zone-prunable conjunct
    val tDir = tmpDir("amz_q_t") + "/t"
    AmazonGen.reviews(spark, 200, 2000, 500).write.parquet(tDir)
    val t = spark.read.parquet(tDir)
    def zonePreds(where: String) =
      t.where(where).queryExecution.optimizedPlan.collect { case f: Filter => f.condition }
        .flatMap(ZoneTranslator.translate(_, t.schema))
    assert(a.forall(q => zonePreds(q.where).nonEmpty && !q.where.contains(":")))
  }

  test("layout write + lead-column StrIn pruning, pruned result exact") {
    val df = AmazonGen.reviews(spark, 100000, nUsers = 2000, nAsins = 500)
    val dir = tmpDir("amz_scn")
    AmazonScenario.writeLayout(df, dir, "linear",
      Seq("asin", "parent_asin"), numFiles = 4)
    val q = AmazonScenario.queries(spark, 2000, 500, 2)
      .find(_.name.startsWith("asin_f1_")).get
    SfcTable.open(spark, dir).createOrReplaceTempView("amz_pruned_t")
    df.createOrReplaceTempView("amz_full_t")
    val prunedDf = spark.sql(
      s"SELECT count(*) AS c FROM amz_pruned_t WHERE ${q.where}")
    val view = SfcTable.pruned(prunedDf).get
    assert(view.kept.length < view.filesTotal,
      s"lead-column point must prune: ${view.kept.length}/${view.filesTotal}")
    val pruned = prunedDf.collect()(0).getLong(0)
    val full = spark.sql(
      s"SELECT count(*) AS c FROM amz_full_t WHERE ${q.where}")
      .collect()(0).getLong(0)
    assert(pruned == full && full > 0,
      s"pruned scan must lose no rows: $pruned vs $full")
  }

  test("fractional timestamp bounds: the rendered SQL, not the unrounded " +
      "bound, decides which files a cell skips") {
    // each ts_ instance renders its fractional window as whole-second
    // timestamp_seconds(L) .. (H). One file per instance ends EXACTLY at
    // L: the SQL matches that row, so a prune on the unrounded lower
    // bound (above L whenever it rounds down) would drop the file
    val qs = AmazonScenario.queries(spark, nUsers = 2000, nAsins = 500, nInst = 2)
      .filter(_.name.startsWith("ts_S"))
    val bound = """timestamp_seconds\((\d+)\)""".r
    val dir = tmpDir("amz_round")
    val spark2 = spark
    import spark2.implicits._
    qs.foreach { q =>
      val lo = bound.findFirstMatchIn(q.where).get.group(1).toLong
      Seq(lo - 2, lo - 1, lo).map(s => (s, 1)).toDF("s", "helpful_vote")
        .select(timestamp_seconds(col("s")).as("record_timestamp"), col("helpful_vote"))
        .coalesce(1).write.mode("append").parquet(dir)
    }
    ZoneMap.write(dir, TableManifest("baseline", Nil, 0, Seq("record_timestamp"),
      None, None, graft.layout.StatsReference.collectStats(spark, dir, Seq("record_timestamp"))))
    SfcTable.open(spark, dir).createOrReplaceTempView("amz_round_t")
    spark.read.parquet(dir).createOrReplaceTempView("amz_round_plain")
    qs.foreach { q =>
      val pruned = spark.sql(AmazonScenario.cellSql("amz_round_t", q)).collect()(0).getLong(0)
      val plain = spark.sql(AmazonScenario.cellSql("amz_round_plain", q)).collect()(0).getLong(0)
      assert(pruned == plain && plain > 0, s"${q.name}: pruned $pruned vs plain $plain")
    }
  }

  test("deep-pool probe asins exist in the deep-prefix table") {
    // regression (r17 review): the DEEP diagnostic's f1 probes sampled
    // with the parent_asin salt (22) instead of the deep pool's asin
    // salt (20), so every probe matched ZERO rows — and nonexistent-key
    // lookups prune unrealistically well, inflating the prefix-strip
    // recovery story. Pin that ALL deep probes (f4 and f1 families use
    // the same salt-20 sampler the generator codes with) hit real keys.
    val nAsins = 500L
    val deep = AmazonGen.reviews(spark, 50000, nUsers = 2000,
      nAsins = nAsins, deepPrefixAsin = true)
    deep.createOrReplaceTempView("amz_deep_t")
    val probes =
      (0 until 2).flatMap(i => AmazonGen.sampleCodes(
        spark, nAsins, 4, 20, "B0000000", 4, seed = 8100 + i)) ++
      (0 until 2).flatMap(i => AmazonGen.sampleCodes(
        spark, nAsins, 1, 20, "B0000000", 4, seed = 8200 + i))
    probes.foreach { v =>
      val n = spark.sql(
        s"SELECT count(*) AS c FROM amz_deep_t WHERE asin = '$v'")
        .collect()(0).getLong(0)
      assert(n > 0, s"deep probe asin '$v' matches no rows — salt drift " +
        "between AmazonGen.reviews(deepPrefixAsin) and the probe sampler")
    }
  }
}
