package graft.table

import graft.SparkTestBase
import graft.layout.{LayoutWriter, ZoneMap}
import graft.layout.LayoutWriter.LayoutSpec
import org.apache.spark.sql.functions._
import scala.util.Random

class TableMaintenanceSuite extends SparkTestBase {

  private lazy val base = {
    val spark2 = spark
    import spark2.implicits._
    (1 to 10000).map(i => (i.toLong, s"v$i", i * 1.0, 1L))
      .toDF("k", "payload", "price", "version")
  }

  test("upsert: updates win, inserts appended, untouched rows survive") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tmpDir("graft_upsert")
    LayoutWriter.write(base, dir,
      LayoutSpec("linear", Seq("k"), numFiles = Some(8),
        recordKey = Some("k"), precombineCol = Some("version")))

    val batch = Seq(
      (5L, "updated5", 999.0, 2L), // update (higher version)
      (7L, "stale7", -1.0, 0L), // stale (lower version — must lose)
      (20001L, "new", 42.0, 1L)) // insert
      .toDF("k", "payload", "price", "version")

    val m = Upserter.upsert(spark, dir, batch)
    val got = spark.read.parquet(dir)
    assert(got.count() == 10001)
    assert(got.filter($"k" === 5L).select("payload").as[String].head() == "updated5")
    assert(got.filter($"k" === 7L).select("payload").as[String].head() == "v7",
      "lower-version incoming row must not overwrite")
    assert(got.filter($"k" === 20001L).count() == 1)
    assert(got.filter($"k" === 9999L).select("payload").as[String].head() == "v9999")
    assert(m.totalRows == 10001)
  }

  test("upsert is file-scoped: files outside the batch key range survive") {
    val dir = tmpDir("graft_upsert_scope")
    LayoutWriter.write(base, dir,
      LayoutSpec("linear", Seq("k"), numFiles = Some(8), recordKey = Some("k")))
    val before = ZoneMap.read(dir).files.map(_.path).toSet

    val spark2 = spark
    import spark2.implicits._
    // batch touches only low keys — high-key files must not be rewritten
    val batch = Seq((1L, "x", 0.0, 2L), (50L, "y", 0.0, 2L))
      .toDF("k", "payload", "price", "version")
    Upserter.upsert(spark, dir, batch)
    val after = ZoneMap.read(dir).files.map(_.path).toSet
    val surviving = before.intersect(after)
    assert(surviving.nonEmpty, "some original files should survive a scoped upsert")
    assert(spark.read.parquet(dir).count() == 10000)
  }

  test("upsert on a hive-partitioned table preserves partition dirs and values") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tmpDir("graft_upsert_part")
    val parted = base.withColumn("region", concat(lit("r"), ($"k" % 4).cast("string")))
    LayoutWriter.write(parted, dir,
      LayoutSpec("linear", Seq("k"), numFiles = Some(8),
        recordKey = Some("k"), precombineCol = Some("version"),
        partitionBy = Seq("region")))

    val batch = Seq(
      (6L, "updated6", 1.0, 2L, "r2"), // update inside existing partition
      (20002L, "new", 9.0, 1L, "r9")) // insert creating a NEW partition
      .toDF("k", "payload", "price", "version", "region")
    val m = Upserter.upsert(spark, dir, batch)

    val got = spark.read.parquet(dir)
    assert(got.count() == 10001)
    assert(got.filter($"k" === 6L).select("payload").as[String].head() == "updated6")
    assert(got.filter($"k" === 6L).select("region").as[String].head() == "r2",
      "partition value must survive the rewrite")
    assert(got.filter($"k" === 20002L).select("region").as[String].head() == "r9")
    assert(new java.io.File(dir, "region=r9").isDirectory,
      "insert must create its partition dir")
    assert(m.totalRows == 10001)
    // rewritten files live under partition subdirs, not the table root
    m.files.foreach(f => assert(f.path.contains("region="),
      s"file outside partition dir: ${f.path}"))
  }

  test("upsert aligns batch schema (missing column becomes null)") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tmpDir("graft_upsert_align")
    LayoutWriter.write(base, dir,
      LayoutSpec("linear", Seq("k"), numFiles = Some(4), recordKey = Some("k")))
    val batch = Seq((30001L, 7.7)).toDF("k", "price") // no payload/version
    Upserter.upsert(spark, dir, batch)
    val row = spark.read.parquet(dir).filter($"k" === 30001L).collect()(0)
    assert(row.getAs[Double]("price") == 7.7)
    assert(row.isNullAt(row.fieldIndex("payload")))
  }

  test("mutation entry purges manifest-unreferenced orphan part files") {
    // round-11 ADVICE: a crash between a commit's file moves and its
    // manifest swap leaves part files the manifest never lists; dir-level
    // readers then see duplicate rows. Entry reconcile must delete them.
    val spark2 = spark
    import spark2.implicits._
    val dir = tmpDir("graft_reconcile")
    LayoutWriter.write(base, dir,
      LayoutSpec("linear", Seq("k"), numFiles = Some(4),
        recordKey = Some("k"), precombineCol = Some("version")))

    // simulate the crash: copy a real part file to an orphan part- name
    val part = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).head
    val orphan = new java.io.File(dir, "part-orphan-crashed.snappy.parquet")
    java.nio.file.Files.copy(part.toPath, orphan.toPath)
    spark.catalog.refreshByPath(dir)
    assert(spark.read.parquet(dir).count() > 10000,
      "dir-level read must see the duplicates before reconcile")

    val batch = Seq((1L, "x", 0.0, 2L)).toDF("k", "payload", "price", "version")
    Upserter.upsert(spark, dir, batch)
    assert(!orphan.exists, "reconcile must delete the orphan")
    assert(spark.read.parquet(dir).count() == 10000)
    // manifest and directory agree exactly
    val listed = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.getName).toSet
    val manifested = ZoneMap.read(dir).files
      .map(f => new java.io.File(new java.net.URI(f.path).getPath).getName).toSet
    assert(listed == manifested)
  }

  test("keyed delta entry also reconciles orphans, including partitioned dirs") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tmpDir("graft_reconcile_kd")
    val parted = base.withColumn("region", concat(lit("r"), ($"k" % 2).cast("string")))
    LayoutWriter.write(parted, dir,
      LayoutSpec("linear", Seq("k"), numFiles = Some(4),
        recordKey = Some("k"), partitionBy = Seq("region")))
    val pdir = new java.io.File(dir, "region=r0")
    val part = pdir.listFiles().filter(_.getName.startsWith("part-")).head
    val orphan = new java.io.File(pdir, "part-orphan-crashed.snappy.parquet")
    java.nio.file.Files.copy(part.toPath, orphan.toPath)

    graft.layout.KeyedDelta(spark, dir, Seq(1L), None)
    assert(!orphan.exists, "reconcile must walk partition subdirs")
    assert(spark.read.parquet(dir).count() == 9999)
  }

  test("date record key: upsert merges correctly and prunes files (round-13 crash)") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tmpDir("graft_upsert_date")
    // one row per day over ~8 years, linear on the date key
    val days = (0 until 3000).map { i =>
      (java.sql.Date.valueOf(java.time.LocalDate.of(2015, 1, 1).plusDays(i)),
        s"v$i", i * 1.0, 1L)
    }
    LayoutWriter.write(days.toDF("d", "payload", "price", "version"), dir,
      LayoutSpec("linear", Seq("d"), numFiles = Some(8),
        recordKey = Some("d"), precombineCol = Some("version")))
    val before = ZoneMap.read(dir).files.map(_.path).toSet
    val target = java.sql.Date.valueOf("2016-06-15")
    val batch = Seq(
      (target, "updated", 9.9, 2L),
      (java.sql.Date.valueOf("2030-01-01"), "new", 1.0, 1L)) // insert
      .toDF("d", "payload", "price", "version")
    val m = Upserter.upsert(spark, dir, batch, autoRecluster = false)
    val rewritten = before.size - m.files.map(_.path).toSet.intersect(before).size
    assert(rewritten <= 2,
      s"date-key prune failed: $rewritten of ${before.size} files rewritten")
    val got = spark.read.parquet(dir)
    assert(got.count() == 3001)
    assert(got.filter($"d" === target).select("payload").as[String].head() == "updated")
    assert(got.filter($"d" === java.sql.Date.valueOf("2016-06-14"))
      .select("payload").as[String].head() == "v530")
  }

  test("timestamp record key: upsert merges correctly and prunes files") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tmpDir("graft_upsert_ts")
    val t0 = java.sql.Timestamp.valueOf("2020-01-01 00:00:00")
    val rows = (0 until 3000).map { i =>
      (new java.sql.Timestamp(t0.getTime + i * 3600L * 1000), s"v$i", 1L)
    }
    LayoutWriter.write(rows.toDF("ts", "payload", "version"), dir,
      LayoutSpec("linear", Seq("ts"), numFiles = Some(8),
        recordKey = Some("ts"), precombineCol = Some("version")))
    val before = ZoneMap.read(dir).files.map(_.path).toSet
    val target = new java.sql.Timestamp(t0.getTime + 1500 * 3600L * 1000)
    val batch = Seq((target, "updated", 2L)).toDF("ts", "payload", "version")
    val m = Upserter.upsert(spark, dir, batch, autoRecluster = false)
    val rewritten = before.size - m.files.map(_.path).toSet.intersect(before).size
    assert(rewritten <= 2,
      s"timestamp-key prune failed: $rewritten of ${before.size}")
    val got = spark.read.parquet(dir)
    assert(got.count() == 3000)
    assert(got.filter($"ts" === target).select("payload").as[String].head() == "updated")
  }

  test("composite record key on a key-clustered layout: file-scoped rewrite") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tmpDir("graft_upsert_comp")
    // the reference's own lineitem shape: record_key [l_orderkey,
    // l_linenumber] (tpch_all_schemas.py:84), clustered linear on the
    // key tuple — per-column NumIn conjunction scopes the rewrite
    val rows = for { ok <- 1 to 5000; ln <- 1 to 4 } yield
      (ok.toLong, ln, s"v$ok-$ln", 1L)
    LayoutWriter.write(rows.toDF("ok", "ln", "payload", "version"), dir,
      LayoutSpec("linear", Seq("ok", "ln"), numFiles = Some(10),
        recordKeys = Seq("ok", "ln"), precombineCol = Some("version")))
    val m0 = ZoneMap.read(dir)
    assert(m0.keyCols == Seq("ok", "ln") && m0.recordKey.isEmpty)
    val before = m0.files.map(_.path).toSet
    val batch = Seq(
      (100L, 3, "upd", 2L), // update one tuple
      (100L, 7, "ins", 1L), // same order, new line → insert
      (9999999L, 1, "insfar", 1L)) // new order → insert
      .toDF("ok", "ln", "payload", "version")
    val m1 = Upserter.upsert(spark, dir, batch, autoRecluster = false)
    val rewritten = before.size - m1.files.map(_.path).toSet.intersect(before).size
    assert(rewritten <= 2,
      s"composite-key zone prune failed: $rewritten of ${before.size}")
    val got = spark.read.parquet(dir)
    assert(got.count() == 20002)
    assert(got.filter($"ok" === 100L && $"ln" === 3)
      .select("payload").as[String].head() == "upd")
    assert(got.filter($"ok" === 100L).count() == 5)
    assert(got.filter($"ok" === 100L && $"ln" === 1)
      .select("payload").as[String].head() == "v100-1")
    // compaction preserves the composite key through its manifest
    graft.layout.Compactor.compact(spark, dir)
    assert(ZoneMap.read(dir).keyCols == Seq("ok", "ln"))
    assert(spark.read.parquet(dir).count() == 20002)
  }

  test("batch builder: ntile split is balanced, hash split deterministic") {
    val nt = BatchBuilder.splitNtile(base, 5, seed = 42)
    val sizes = nt.groupBy("batch_id").count().collect()
      .map(r => r.getAs[Long]("count")).sorted
    assert(sizes.length == 5 && sizes.head == 2000 && sizes.last == 2000)

    val h1 = BatchBuilder.splitHash(base, 5, seed = 42, keyCol = "k")
    val h2 = BatchBuilder.splitHash(base, 5, seed = 42, keyCol = "k")
    val s1 = h1.groupBy("batch_id").count().collect()
      .map(r => (r.getAs[Int]("batch_id"), r.getAs[Long]("count"))).toMap
    val s2 = h2.groupBy("batch_id").count().collect()
      .map(r => (r.getAs[Int]("batch_id"), r.getAs[Long]("count"))).toMap
    assert(s1 == s2, "hash split must be deterministic")
    assert(s1.values.sum == 10000)
    assert(s1.values.forall(c => c > 1500 && c < 2500), s"skewed: $s1")
  }
}
