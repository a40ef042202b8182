package graft.layout

import graft.SparkTestBase
import graft.curve.{Curves, CurveExpressions}
import graft.operators.SearchIndex
import graft.table.Upserter
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import scala.util.Random

/** The same layout spec over the same input writes the same files, no
  * matter which jobs the session ran before: every sized write, upsert
  * rewrite and compaction is built twice in one JVM with unrelated
  * shuffle jobs in between, and the two tables must hold identical
  * files (row digests in file order) and identical manifests, once the
  * table dir prefix and the part names' per-write uuids are stripped.
  */
class LayoutDeterminismSuite extends SparkTestBase {

  import LayoutWriter.LayoutSpec

  private lazy val data = {
    val rnd = new Random(7)
    val rows = (1 to 20000).map { i =>
      (i.toLong, rnd.nextInt(1000), rnd.nextDouble() * 100.0,
        f"cat${rnd.nextInt(20)}%02d", rnd.nextInt(3))
    }
    val spark2 = spark
    import spark2.implicits._
    rows.toDF("id", "x", "y", "cat", "g")
  }

  /** Shuffles, a range exchange and a sample, so the second build runs
    * after a different RDD and shuffle id history than the first.
    */
  private def unrelatedJobs(): Unit = {
    spark.range(0, 50000, 1, 3).repartitionByRange(5, col("id"))
      .groupBy(col("id") % 7).count().collect()
    spark.range(0, 30000).repartition(6).sample(0.3).agg(sum("id")).collect()
  }

  private val Uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"

  private def strip(dir: String, p: String): String =
    new Path(p).toUri.getPath.stripPrefix(new Path(dir).toUri.getPath)
      .replaceAll(Uuid, "<uuid>")

  /** The table's manifest with stripped paths, and per manifest file its
    * stripped name and an md5 of its rows in file order.
    */
  private def snapshot(dir: String): (TableManifest, Seq[(String, String)]) = {
    val m = ZoneMap.read(dir)
    val files = m.files.map { f =>
      val rows = spark.read.parquet(f.path).collect().map(_.toString).mkString("\n")
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(rows.getBytes("UTF-8")).map("%02x".format(_)).mkString
      strip(dir, f.path) -> md5
    }
    (m.copy(files = m.files.map(f => f.copy(path = strip(dir, f.path))), root = None),
      files)
  }

  /** Build a table twice (`build` gets a fresh dir and returns the
    * table's dir) with unrelated jobs in between, then require identical
    * tables.
    */
  private def twice(name: String)(build: String => String): Unit = {
    val a = build(tmpDir(name))
    unrelatedJobs()
    unrelatedJobs()
    val b = build(tmpDir(name))
    val (ma, fa) = snapshot(a)
    val (mb, fb) = snapshot(b)
    assert(fa.length > 1, s"$name wrote ${fa.length} file(s)")
    assert(fa === fb, s"$name: file contents differ")
    assert(ma === mb, s"$name: manifests differ")
  }

  private val writeSpecs = Seq(
    LayoutSpec("baseline", Nil, numFiles = Some(6)),
    LayoutSpec("linear", Seq("x", "y"), numFiles = Some(8)),
    LayoutSpec("zorder", Seq("x", "y"), numFiles = Some(8)),
    LayoutSpec("hilbert", Seq("x", "y"), numFiles = Some(8), partitionBy = Seq("g")))

  for (spec <- writeSpecs) {
    val name = spec.layout + (if (spec.partitionBy.nonEmpty) " (hive-partitioned)" else "")
    test(s"write $name: the same spec writes the same files twice") {
      twice(s"det_${spec.layout}") { d => LayoutWriter.write(data, d, spec); d }
    }
  }

  /** Bytes of a table's data files, for rewrite sizing. */
  private def tableBytes(dir: String): Long = ZoneMap.read(dir).files.flatMap(_.bytes).sum

  test("Compactor.compact rewrites a table the same way twice") {
    twice("det_compact") { d =>
      LayoutWriter.write(data, d, LayoutSpec("zorder", Seq("x", "y"), numFiles = Some(8)))
      Compactor.compact(spark, d, targetFileBytes = tableBytes(d) / 4)
      d
    }
  }

  test("Compactor.compactWhere rewrites its files the same way twice") {
    twice("det_compact_where") { d =>
      LayoutWriter.write(data, d, LayoutSpec("linear", Seq("x", "y"), numFiles = Some(8)))
      Compactor.compactWhere(spark, d, Seq(NumBetween("x", 0, 600)),
        targetFileBytes = tableBytes(d) / 8)
      d
    }
  }

  test("Upserter.upsert rewrites its files the same way twice") {
    val batch = data.filter(col("id") % 67 === 0).withColumn("y", col("y") + 1.0)
      .unionByName(data.filter(col("id") <= 40)
        .withColumn("id", col("id") + 100000L))
    twice("det_upsert") { d =>
      LayoutWriter.write(data, d, LayoutSpec("hilbert", Seq("x", "y"),
        numFiles = Some(8), recordKey = Some("id")))
      Upserter.upsert(spark, d, batch, targetFileBytes = tableBytes(d) / 8)
      d
    }
  }

  test("SearchIndex.add appends the same postings files twice") {
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val m = docs.agg(expr("percentile_approx(doc_id, 0.5)")).collect()(0).getLong(0)
    twice("det_search_add") { d =>
      SearchIndex.build(docs.filter(col("doc_id") <= m), "doc_id", "text", d, numFiles = 8)
      SearchIndex.add(spark, docs.filter(col("doc_id") > m), "doc_id", "text", d)
      s"$d/postings"
    }
    graft.runner.Materialize.releaseAll()
  }

  test("parity: a sized linear write puts every row in the file exactPartition routed it to") {
    val spec = LayoutSpec("linear", Seq("x", "y"), numFiles = Some(8))
    val got = tmpDir("det_parity_new")
    LayoutWriter.write(data, got, spec)

    // reference: the same key and cuts, routed by the previous
    // exactPartition instead of repartitionById
    val n = spec.numFiles.get
    val bits = math.min(Curves.bitsFor(spec.cols.length), 52 / spec.cols.length)
    val (key, _) = LayoutWriter.curveKeyAndOffsets(data, spec.cols, bits, "linear")
    val keyed = data.withColumn("__graft_ck", key)
    val cuts = keyed.select(col("__graft_ck").cast("double").as("__d"))
      .stat.approxQuantile("__d", (1 until n).map(_.toDouble / n).toArray, 1.0 / (8 * n))
      .distinct.sorted
    val fid = CurveExpressions.bucketIndexCol(col("__graft_ck").cast("double"), cuts)
    val ref = tmpDir("det_parity_ref")
    ExactPartitionReference.exactPartition(keyed, fid, cuts.length + 1)
      .sortWithinPartitions(spec.cols.map(col): _*)
      .drop("__graft_ck")
      .write.mode("overwrite").parquet(ref)

    def fileOf(dir: String): Map[Long, Int] = spark.read.parquet(dir)
      .select(col("id"),
        regexp_extract(input_file_name(), "part-(\\d+)-", 1).cast("int"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val (a, b) = (fileOf(got), fileOf(ref))
    assert(a.size == 20000)
    assert(a.values.toSet == (0 until n).toSet, "every bucket is one file")
    assert(a === b)
  }
}
