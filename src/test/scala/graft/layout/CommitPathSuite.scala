package graft.layout

import graft.SparkTestBase
import graft.table.Upserter
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import scala.util.Random

/** Every mutation of an existing table commits through
  * [[StagedRewrite.commit]]: the manifest generation rises by exactly one
  * per commit, whole-table compaction writes exactly the files
  * [[LayoutWriter.write]] writes from the same rows (the formulation the
  * compactor used before it committed through the staged path), and the
  * key-index sidecars it keeps current answer like a fresh build.
  */
class CommitPathSuite extends SparkTestBase {

  import LayoutWriter.LayoutSpec

  private lazy val data = {
    val rnd = new Random(11)
    val rows = (1 to 20000).map { i =>
      (i.toLong, rnd.nextInt(1000), rnd.nextDouble() * 100.0, rnd.nextInt(3))
    }
    val spark2 = spark
    import spark2.implicits._
    rows.toDF("id", "x", "y", "g")
  }

  private val Uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"

  private def strip(dir: String, p: String): String =
    new Path(p).toUri.getPath.stripPrefix(new Path(dir).toUri.getPath)
      .replaceAll(Uuid, "<uuid>")

  /** Per manifest file: its stripped path, rows, ranges and an md5 of
    * its rows in file order.
    */
  private def files(dir: String): Seq[(String, Long, Map[String, ColRange], String)] =
    ZoneMap.read(dir).files.map { f =>
      val rows = spark.read.parquet(f.path).collect().map(_.toString).mkString("\n")
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(rows.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (strip(dir, f.path), f.rows, f.ranges, md5)
    }

  private def assertNoDangling(dir: String): Unit =
    ZoneMap.read(dir).files.foreach { f =>
      assert(new java.io.File(new java.net.URI(f.path)).exists,
        s"dangling manifest entry: ${f.path}")
    }

  test("the generation rises by exactly 1 per commit across every mutation") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tmpDir("commit_gen")
    var gen = LayoutWriter.write(data, dir, LayoutSpec("linear", Seq("id"),
      numFiles = Some(8), recordKey = Some("id"))).generation.get
    assert(gen == 1L, "LayoutWriter.write returns the stamped manifest")
    def step(name: String)(mutate: => TableManifest): Unit = {
      val m = mutate
      assert(m.generation.contains(gen + 1), s"$name returned generation ${m.generation}")
      assert(ZoneMap.read(dir).generation.contains(gen + 1), s"$name committed")
      assertNoDangling(dir)
      gen += 1
    }
    def batch(from: Long) = data.filter($"id" % 97 === 0)
      .withColumn("id", $"id" + from).withColumn("y", $"y" + 1.0)
    val bytes = ZoneMap.read(dir).files.flatMap(_.bytes).sum
    // rewrites keep the written granularity, so compactWhere has files to pack
    step("upsert")(Upserter.upsert(spark, dir, batch(0L), autoRecluster = false,
      targetFileBytes = bytes / 8))
    step("compactWhere")(Compactor.compactWhere(spark, dir,
      Seq(NumBetween("id", 0, 8000)), targetFileBytes = bytes))
    step("compact")(Compactor.compact(spark, dir, targetFileBytes = bytes / 4))
    step("KeyedDelta")(KeyedDelta(spark, dir, Seq(5L, 15000L), Some(batch(100000L))))
    step("upsert")(Upserter.upsert(spark, dir, batch(0L), autoRecluster = false))
    // 206 keys divide by 97: two dropped, 206 appended
    assert(spark.read.parquet(dir).count() == 20000L - 2 + 206)
  }

  private val specs = Seq(
    LayoutSpec("baseline", Nil, numFiles = Some(6)),
    LayoutSpec("linear", Seq("x", "y"), numFiles = Some(8)),
    LayoutSpec("zorder", Seq("x", "y"), numFiles = Some(8)),
    LayoutSpec("hilbert", Seq("x", "y"), numFiles = Some(8)),
    LayoutSpec("hilbert", Seq("x", "y"), numFiles = Some(8), partitionBy = Seq("g")))

  for (spec <- specs) {
    val name = spec.layout + (if (spec.partitionBy.nonEmpty) " (hive-partitioned)" else "")
    test(s"parity: compacting a $name table commits the files LayoutWriter.write " +
        "writes from the same rows") {
      val dir = tmpDir(s"commit_compact_${spec.layout}")
      LayoutWriter.write(data, dir, spec, Seq("id"))
      val m = ZoneMap.read(dir)
      // three files' worth of target: a real re-cut, not a copy
      val target = m.files.flatMap(_.bytes).sum / 3 + 1
      // reference: the rewrite the compactor did before it staged —
      // LayoutWriter.write over the manifest-ordered rows, same spec
      // and file count, into a fresh dir
      val ref = tmpDir(s"commit_compact_ref_${spec.layout}")
      LayoutWriter.write(
        StagedRewrite.readFiles(spark, dir, m.files.map(_.path), spec.partitionBy.nonEmpty),
        ref, spec.copy(bits = Some(m.bits), numFiles = Some(3)),
        m.statsCols.diff(m.layoutCols))
      val committed = Compactor.compact(spark, dir, targetFileBytes = target)
      assert(committed.generation.contains(m.generation.get + 1))
      assert(committed.commitsSinceCluster.isEmpty)
      assertNoDangling(dir)
      val (got, want) = (files(dir), files(ref))
      assert(got.nonEmpty)
      assert(got === want)
    }
  }

  test("parity: after compaction the key index answers like a fresh build") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tmpDir("commit_keyindex")
    LayoutWriter.write(data, dir, LayoutSpec("hilbert", Seq("x", "y"),
      numFiles = Some(8), recordKey = Some("id")))
    KeyIndex.build(spark, dir)
    Upserter.upsert(spark, dir, data.filter($"id" % 301 === 0).withColumn("y", $"y" + 1),
      autoRecluster = false)
    Compactor.compact(spark, dir,
      targetFileBytes = ZoneMap.read(dir).files.flatMap(_.bytes).sum / 5)
    // present and absent keys
    val probes = (Seq(1L, 2L, 777L, 5000L, 12345L, 19999L, 20000L) ++
      Seq(20001L, 30000L, 99999L, -5L)).toDF("id")
      .select(KeyIndex.keyHashCol(Seq("id"))).as[Long].collect().toSeq
    def answers(): Seq[Set[String]] = {
      val m = ZoneMap.read(dir)
      probes.map(h => KeyIndex.affectedPaths(spark, dir, Seq(h), m).get)
    }
    val kept = answers()
    KeyIndex.build(spark, dir)
    val fresh = answers()
    assert(kept === fresh)
    assert(kept.take(7).forall(_.nonEmpty), "a present key's file is always affected")
  }
}
