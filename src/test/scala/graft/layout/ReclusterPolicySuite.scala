package graft.layout

import graft.SparkTestBase
import graft.layout.LayoutWriter.LayoutSpec
import graft.table.Upserter
import org.apache.spark.sql.functions._

/** Round-13 decay-loop closure (round-12 VERDICT "Next #2/#3"):
  *
  *  - the manifest-derived clustering-health metric
  *    ([[Compactor.scanFraction]] / [[Compactor.clusteringHealth]]) and
  *    the [[Compactor.maybeRecluster]] threshold hook wired into
  *    [[Upserter]] — the Hudi clustering-every-N-commits analog
  *    (hudi_write_layout.py:188-190) with the trigger derived from
  *    measured decay instead of a commit counter;
  *  - the sorted-COW upsert option (`sortRewrites`) — the rq7 design
  *    rule "the update path must either re-sort what it rewrites or
  *    schedule re-clustering", here the re-sort half.
  */
class ReclusterPolicySuite extends SparkTestBase {

  // 24 range-partitioned files over keys 1..2400 (100 rows each)
  private def writeBase(dir: String): Unit = {
    val spark2 = spark
    import spark2.implicits._
    val base = (1 to 2400).map(i => (i.toLong, s"v$i", i * 1.0, 1L))
      .toDF("k", "payload", "price", "version")
    LayoutWriter.write(base, dir,
      LayoutSpec("linear", Seq("k"), numFiles = Some(24),
        recordKey = Some("k"), precombineCol = Some("version")))
  }

  // roughly one original file per rewrite target — keeps compaction
  // granularity at ~24 files on this tiny table
  private def perFileBytes(dir: String): Long = {
    val m = ZoneMap.read(dir)
    math.max(1L, m.files.flatMap(_.bytes).sum / m.files.length)
  }

  // the full contents of two files far apart in the key space — a
  // SCATTERED batch whose [min,max] spans nearly the whole table
  private def scatteredBatch(lo: Int, hi: Int) = {
    val spark2 = spark
    import spark2.implicits._
    ((lo * 100 + 1 to lo * 100 + 100) ++ (hi * 100 + 1 to hi * 100 + 100))
      .map(i => (i.toLong, s"u$i", i * 2.0, 2L))
      .toDF("k", "payload", "price", "version")
  }

  test("clustering health: ~1/N when range-partitioned, ~1 when smeared") {
    val dir = tmpDir("graft_health")
    writeBase(dir)
    val healthy = Compactor.clusteringHealth(ZoneMap.read(dir)).get
    assert(healthy < 0.1, s"healthy 24-file linear table scored $healthy")
    // smear: rewrite everything into unsorted files
    val df = spark.read.parquet(dir)
    val m0 = ZoneMap.read(dir)
    df.repartition(6).write.mode("overwrite").parquet(dir)
    ZoneMap.write(dir, m0.copy(files =
      StatsReference.collectStats(spark, dir, m0.statsCols)))
    val smeared = Compactor.clusteringHealth(ZoneMap.read(dir)).get
    assert(smeared > 0.9, s"fully smeared table scored $smeared")
  }

  test("clustering health sees STRING layout columns via the prefix code") {
    // r16: the amazon decay run measured an EMPTY health column on a
    // string-sorted table — scanFraction only read numeric zone stats,
    // so the auto-recluster policy was blind exactly where the amazon
    // matrix clusters (asin/user_id sorts)
    val spark2 = spark
    import spark2.implicits._
    val dir = tmpDir("graft_health_str")
    // ids whose first 4 chars VARY (uniform leading digit) — a
    // zero-padded "B0000001" pool is itself the deep-prefix case below
    val base = (1 to 2400).map { i =>
      (f"B${(i * 7919) % 100000}%05d", s"v$i", i.toLong, 1L)
    }.toDF("asin", "payload", "k", "version")
    LayoutWriter.write(base, dir,
      LayoutSpec("linear", Seq("asin"), numFiles = Some(24),
        recordKey = Some("k"), precombineCol = Some("version")))
    val healthy = Compactor.clusteringHealth(ZoneMap.read(dir)).get
    assert(healthy < 0.15, s"healthy string-sorted table scored $healthy")
    val m0 = ZoneMap.read(dir)
    spark.read.parquet(dir).repartition(6).write.mode("overwrite").parquet(dir)
    ZoneMap.write(dir, m0.copy(files =
      StatsReference.collectStats(spark, dir, m0.statsCols)))
    val smeared = Compactor.clusteringHealth(ZoneMap.read(dir)).get
    assert(smeared > 0.9, s"smeared string table scored $smeared")
    // deep-common-prefix pools: the shared StringCode strips the global
    // common prefix (round-17), so the metric keeps signal where the
    // pre-strip 4-byte code collapsed to width 0 and went blind
    // (results/rq1_amazon C1deep) — sorted scores healthy, smeared
    // scores decayed, exactly like a varying-prefix pool
    val deep = (1 to 2400).map { i =>
      (f"B0000000${(i * 7919) % 100000}%05d", s"v$i", i.toLong, 1L)
    }.toDF("asin", "payload", "k", "version")
    val dir2 = tmpDir("graft_health_deep")
    LayoutWriter.write(deep, dir2,
      LayoutSpec("linear", Seq("asin"), numFiles = Some(24),
        recordKey = Some("k"), precombineCol = Some("version")))
    val deepHealthy = Compactor.clusteringHealth(ZoneMap.read(dir2)).get
    assert(deepHealthy < 0.15, s"deep-prefix sorted table scored $deepHealthy")
    val m2 = ZoneMap.read(dir2)
    spark.read.parquet(dir2).repartition(6).write.mode("overwrite").parquet(dir2)
    ZoneMap.write(dir2, m2.copy(files =
      StatsReference.collectStats(spark, dir2, m2.statsCols)))
    val deepSmeared = Compactor.clusteringHealth(ZoneMap.read(dir2)).get
    assert(deepSmeared > 0.9, s"smeared deep-prefix table scored $deepSmeared")
  }

  test("10 scattered upserts trigger exactly one auto-recluster and health never crosses the threshold") {
    val dir = tmpDir("graft_policy")
    writeBase(dir)
    val target = perFileBytes(dir)
    var reclusters = 0
    val healths = scala.collection.mutable.ArrayBuffer[Double]()
    for (i <- 0 until 10) {
      val res = Upserter.upsertResult(spark, dir,
        scatteredBatch(i, 23 - i),
        sortRewrites = false, autoRecluster = true, targetFileBytes = target)
      if (res.reclustered) reclusters += 1
      healths += Compactor.clusteringHealth(res.manifest).get
    }
    assert(reclusters == 1,
      s"expected exactly one recluster across the cycle, got $reclusters " +
        s"(healths: ${healths.map(h => f"$h%.2f").mkString(",")})")
    // pruning quality never degrades past the decay threshold: the
    // policy fires the moment the manifest crosses it, so every
    // OBSERVED (post-upsert, post-policy) health stays at or under it
    assert(healths.forall(_ <= Compactor.DefaultDecayThreshold + 0.05),
      s"health crossed the threshold: ${healths.map(h => f"$h%.2f").mkString(",")}")
    // rows are upsert-correct through the whole cycle
    val got = spark.read.parquet(dir)
    assert(got.count() == 2400)
    val spark2 = spark
    import spark2.implicits._
    assert(got.filter($"k" === 1L).select("payload").as[String].head() == "u1")
    assert(got.filter($"k" === 1200L).select("payload").as[String].head() == "v1200")
  }

  test("sorted-COW upserts keep zone pruning through 10 scattered cycles") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tmpDir("graft_sortedcow")
    writeBase(dir)
    val target = perFileBytes(dir)
    // worst-case scatter: one key per original file, every file
    // affected by every upsert
    for (v <- 2 to 11) {
      val batch = (0 until 100).map { f =>
        val k = f * 24 + (v * 7) % 24 + 1
        (k.toLong, s"s$k", k * 3.0, v.toLong)
      }.toDF("k", "payload", "price", "version")
      Upserter.upsert(spark, dir, batch,
        sortRewrites = true, autoRecluster = false, targetFileBytes = target)
    }
    val scan = graft.table.SfcTable.open(spark, dir).filter(col("k").between(1001, 1100))
    val view = graft.table.SfcTable.pruned(scan).get
    assert(view.filesTotal >= 8, s"degenerate file count ${view.filesTotal}")
    assert(view.kept.length.toDouble / view.filesTotal <= 0.25,
      s"sorted COW lost pruning: ${view.kept.length}/${view.filesTotal} kept")
    assert(spark.read.parquet(dir).count() == 2400)
    // the probe's answer is exact through the prune
    val rows = scan.count()
    assert(rows == 100)
  }
}
