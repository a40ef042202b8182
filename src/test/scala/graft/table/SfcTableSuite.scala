package graft.table

import graft.SparkTestBase
import graft.layout.{LayoutWriter, StagedRewrite}
import graft.layout.LayoutWriter.LayoutSpec
import graft.runner.QueryRunner
import org.apache.spark.sql.functions._
import scala.util.Random

class SfcTableSuite extends SparkTestBase {

  private lazy val dir = {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new Random(21)
    val df = (1 to 40000).map { i =>
      (i.toLong, rnd.nextInt(1000), rnd.nextDouble() * 100,
        f"cat${rnd.nextInt(20)}%02d")
    }.toDF("id", "x", "y", "cat")
    val d = tmpDir("sfc_table")
    LayoutWriter.write(df, d,
      LayoutSpec("zorder", Seq("x", "y"), numFiles = Some(16)),
      extraStatsCols = Seq("cat"))
    d
  }

  test("SQL over SfcTable skips files automatically and stays correct") {
    SfcTable.open(spark, dir).createOrReplaceTempView("sfc_t")
    val plain = spark.read.parquet(dir)
    plain.createOrReplaceTempView("plain_t")

    val where = "x BETWEEN 100 AND 180 AND y BETWEEN 10.0 AND 25.0"
    val viaSfc = QueryRunner.run(spark,
      spark.sql(s"SELECT count(*) AS c, sum(id) AS s FROM sfc_t WHERE $where"),
      "sfc", action = "collect")
    val viaPlain = QueryRunner.run(spark,
      spark.sql(s"SELECT count(*) AS c, sum(id) AS s FROM plain_t WHERE $where"),
      "plain", action = "collect")

    val a = spark.sql(s"SELECT count(*) AS c, sum(id) AS s FROM sfc_t WHERE $where").collect()(0)
    val b = spark.sql(s"SELECT count(*) AS c, sum(id) AS s FROM plain_t WHERE $where").collect()(0)
    assert(a.toSeq == b.toSeq, "pruned SQL result must match full scan")
    assert(viaSfc.filesScanned < viaPlain.filesScanned,
      s"expected automatic skipping: sfc=${viaSfc.filesScanned} plain=${viaPlain.filesScanned}")
    // curve cut snapping can produce one fewer file than requested
    // (RangePartitioner sample boundaries vary with JVM history) — the
    // manifest is the ground truth for "the full scan read everything"
    assert(viaPlain.filesScanned == graft.layout.ZoneMap.read(dir).files.length)
  }

  test("joinPruned skips fact files from the dim join-key values, result identical") {
    val spark2 = spark
    import spark2.implicits._
    // dim selects a narrow x-range: only the zone-mapped files covering
    // it should be read on the fact side
    val dim = (120 to 140).map(x => (x, s"grp${x % 3}")).toDF("k", "grp")
    val viaPruned = QueryRunner.run(spark,
      SfcTable.joinPruned(spark, dir, dim, "x", "k")
        .groupBy(col("grp")).agg(count(lit(1)).as("n"), sum(col("id")).as("s")),
      "join_pruned", action = "collect")
    val plain = spark.read.parquet(dir)
    val viaPlain = QueryRunner.run(spark,
      plain.join(dim, plain("x") === dim("k"))
        .groupBy(col("grp")).agg(count(lit(1)).as("n"), sum(col("id")).as("s")),
      "join_plain", action = "collect")
    assert(viaPruned.filesScanned < viaPlain.filesScanned,
      s"dim keys should skip fact files: ${viaPruned.filesScanned} vs ${viaPlain.filesScanned}")
    val a = SfcTable.joinPruned(spark, dir, dim, "x", "k")
      .groupBy(col("grp")).agg(count(lit(1)).as("n"), sum(col("id")).as("s"))
      .orderBy(col("grp")).collect().map(_.toSeq).toSeq
    val b = plain.join(dim, plain("x") === dim("k"))
      .groupBy(col("grp")).agg(count(lit(1)).as("n"), sum(col("id")).as("s"))
      .orderBy(col("grp")).collect().map(_.toSeq).toSeq
    assert(a == b, "pruned join result must match the plain join")
    // beyond the IN limit the min/max-bounds path must also prune
    val viaBounds = QueryRunner.run(spark,
      SfcTable.joinPruned(spark, dir, dim, "x", "k", inListLimit = 5)
        .groupBy(col("grp")).agg(count(lit(1)).as("n")),
      "join_bounds", action = "collect")
    assert(viaBounds.filesScanned < viaPlain.filesScanned)
    // an empty dim yields an empty join, zero fact files
    val empty = dim.filter(lit(false))
    assert(SfcTable.joinPruned(spark, dir, empty, "x", "k").count() == 0)
    // SCATTERED keys: NumIn prunes per value — two extreme keys must not
    // keep every file the coarse [min,max] envelope would
    val scattered = Seq((2, "a"), (997, "b")).toDF("k", "grp")
    val viaScattered = QueryRunner.run(spark,
      SfcTable.joinPruned(spark, dir, scattered, "x", "k")
        .groupBy(col("grp")).agg(count(lit(1)).as("n")),
      "join_scattered", action = "collect")
    assert(viaScattered.filesScanned < viaPlain.filesScanned,
      s"scattered IN keys should still prune: ${viaScattered.filesScanned}")
    val sa = SfcTable.joinPruned(spark, dir, scattered, "x", "k")
      .groupBy(col("grp")).agg(count(lit(1)).as("n"))
      .orderBy(col("grp")).collect().map(_.toSeq).toSeq
    val sb = plain.join(scattered, plain("x") === scattered("k"))
      .groupBy(col("grp")).agg(count(lit(1)).as("n"))
      .orderBy(col("grp")).collect().map(_.toSeq).toSeq
    assert(sa == sb)
  }

  test("DataFrame-API predicates prune too; unknown predicates keep all files") {
    val t = SfcTable.open(spark, dir)
    val nFiles = graft.layout.ZoneMap.read(dir).files.length
    val m = QueryRunner.run(spark,
      t.filter(col("x") === 500), "eq_pred", action = "collect")
    assert(m.filesScanned < nFiles, s"point predicate should prune: ${m.filesScanned}")

    // a predicate the translator cannot understand must not prune
    val all = QueryRunner.run(spark,
      t.filter(expr("pmod(x, 7) = 3")), "opaque_pred", action = "collect")
    assert(all.filesScanned == nFiles, s"opaque predicate pruned: ${all.filesScanned}")
    assert(all.rows > 0)
  }

  test("string IN predicates prune via the manifest string stats") {
    val t = SfcTable.open(spark, dir)
    val m = QueryRunner.run(spark,
      t.filter(col("cat").isin("cat03")), "str_in", action = "collect")
    val full = spark.read.parquet(dir).filter(col("cat") === "cat03").count()
    assert(m.rows == full)
    // zorder on (x,y) doesn't cluster cat — files may or may not prune,
    // but results must be exact and never over-prune
    assert(m.filesScanned <= 16 && m.filesScanned >= 1)
  }

  test("decimal literal vs integral column prunes (castSafe decimal arm)") {
    val t = SfcTable.open(spark, dir)
    // int col vs fractional decimal literal: Catalyst widens x to
    // DECIMAL, which castSafe unwraps and litNum's Decimal arm
    // translates — previously inert, no pruning (round-3 ADVICE)
    val m = QueryRunner.run(spark,
      t.filter(expr("x >= 990.5")), "dec_pred", action = "collect")
    assert(m.filesScanned < 16, s"decimal bound should prune: ${m.filesScanned}")
    // and the result matches the plain scan
    val got = t.filter(expr("x >= 990.5")).agg(sum("id")).collect()(0)
    val want = spark.read.parquet(dir).filter(expr("x >= 990.5"))
      .agg(sum("id")).collect()(0)
    assert(got.toSeq == want.toSeq)
  }

  test("string zone order is code-point order (supplementary plane)") {
    import graft.layout._
    // file whose max string is an emoji (U+1F600, surrogate pair): in
    // UTF-16 code-unit order it sorts BELOW ￿, in code-point (==
    // Spark UTF8String) order it sorts ABOVE — the old Java-string
    // compare pruned this file for `c >= "￿"` though it matches
    val f = FileEntry("file:/f", 10,
      Map("c" -> ColRange(None, None, Some("a"), Some("😀"), allNull = false)))
    assert(StrAtLeast("c", "￿").mayMatch(f),
      "supplementary-plane max must not be pruned by a BMP lower bound")
    assert(StrBetween("c", "￿", "😀").mayMatch(f))
    assert(StrIn("c", Seq("😀")).mayMatch(f))
    assert(StrOrder.compare("￿", "😀") < 0)
    assert(StrOrder.compare("abc", "abd") < 0 && StrOrder.compare("ab", "ab") == 0
      && StrOrder.compare("abc", "ab") > 0)
  }

  test("empty result predicates still return correct empty output") {
    val t = SfcTable.open(spark, dir)
    assert(t.filter(col("x") > 5000).count() == 0)
  }

  test("cross-domain casts never mistranslate: date column vs timestamp literal") {
    val spark2 = spark
    import spark2.implicits._
    // DateType layout column — stats stored in epoch DAYS
    val df = (0 until 2000).map { i =>
      (i.toLong, java.sql.Date.valueOf(f"199${i % 5}-${1 + i % 12}%02d-15"))
    }.toDF("id", "d")
    val d2 = tmpDir("sfc_datecol")
    LayoutWriter.write(df, d2, LayoutSpec("linear", Seq("d"), numFiles = Some(8)))
    val t = SfcTable.open(spark, d2)
    // the comparison forces Cast(d AS TIMESTAMP) vs a timestamp literal
    // (micros); a naive translation compares micros-domain seconds with
    // days-domain stats and prunes everything
    val got = t.filter(col("d").cast("timestamp") >=
      lit("1993-01-01 00:00:00").cast("timestamp")).count()
    val want = df.filter(col("d") >= lit("1993-01-01").cast("date")).count()
    assert(got == want && got > 0, s"got=$got want=$want")
    // same-domain date literal still prunes
    val m = graft.runner.QueryRunner.run(spark,
      t.filter(col("d") >= lit("1994-06-01").cast("date")), "date_prune",
      action = "collect")
    assert(m.rows == df.filter(col("d") >= lit("1994-06-01").cast("date")).count())
    assert(m.filesScanned < 8, s"date-domain predicate should prune: ${m.filesScanned}")
  }

  test("files the manifest does not list are never read: a staged upsert " +
      "before its commit, superseded files a crash left before their delete") {
    val spark2 = spark
    import spark2.implicits._
    def keyed(name: String): String = {
      val d = tmpDir(name)
      LayoutWriter.write((1 to 2000).map(i => (i.toLong, i % 500, 1.0)).toDF("id", "x", "y"),
        d, LayoutSpec("linear", Seq("x"), numFiles = Some(4), recordKey = Some("id")))
      d
    }
    // one updated row in each quarter of x, the layout column
    val batch = Seq(1L, 700L, 1300L, 1900L).map(k => (k, (k % 500).toInt, 2.0))
      .toDF("id", "x", "y")
    def answers(d: String): Seq[Seq[Any]] = {
      val t = SfcTable.open(spark, d)
      Seq(t, t.filter(col("x").between(0, 100)))
        .map(_.agg(count(lit(1)), sum(col("y"))).collect()(0).toSeq)
    }
    def parquetFiles(d: String): Set[java.nio.file.Path] = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(d))
      try s.filter(_.toString.endsWith(".parquet")).toArray
        .map(_.asInstanceOf[java.nio.file.Path]).toSet
      finally s.close()
    }

    // staged: the rewrite's files are moved in, then the commit crashes
    val staged = keyed("sfc_orphan_staged")
    val before = answers(staged)
    StagedRewrite.testHookBeforeCommit = () => throw new RuntimeException("crash before commit")
    try intercept[RuntimeException](Upserter.upsert(spark, staged, batch))
    finally StagedRewrite.testHookBeforeCommit = () => ()
    assert(spark.read.parquet(staged).count() > 2000, "the staged files must be on disk")
    assert(answers(staged) == before)

    // superseded: the commit lands, the old files' delete never runs
    val superseded = keyed("sfc_orphan_superseded")
    val backup = parquetFiles(superseded).map(p => p -> java.nio.file.Files.readAllBytes(p))
    Upserter.upsert(spark, superseded, batch, autoRecluster = false)
    val after = answers(superseded)
    backup.foreach { case (p, bytes) =>
      if (!java.nio.file.Files.exists(p)) java.nio.file.Files.write(p, bytes)
    }
    assert(spark.read.parquet(superseded).count() > 2000, "the superseded files must be back")
    assert(answers(superseded) == after)
    assert(after.head == Seq(2000L, 2004.0))
  }

  test("hive-partitioned layout: partition cols read correctly, dir " +
      "pruning and zone pruning compose (r17, the RQ6 table shape)") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new Random(23)
    val df = (1 to 20000).map { i =>
      (i.toLong, rnd.nextInt(1000), if (i % 3 == 0) "R" else "A",
        if (i % 2 == 0) "F" else "O")
    }.toDF("id", "x", "flag", "status")
    val d = tmpDir("sfc_hivepart")
    LayoutWriter.write(df, d,
      LayoutSpec("linear", Seq("x"), numFiles = Some(8),
        partitionBy = Seq("flag", "status")))
    val t = SfcTable.open(spark, d)
    // partition columns carry VALUES (a dataSchema that listed them
    // would read all-null from the files and silently return 0 rows)
    assert(t.schema.fieldNames.toSet ==
      Set("id", "x", "flag", "status"))
    val wantR = df.filter(col("flag") === "R").count()
    assert(t.filter(col("flag") === "R").count() == wantR && wantR > 0)
    // mixed predicate: dir pruning (flag) + zone pruning (x) compose,
    // result identical to the plain read
    val where = col("flag") === "R" && col("x").between(100, 160)
    val got = t.filter(where).agg(count(lit(1)), sum(col("id"))).collect()(0)
    val want = spark.read.parquet(d).filter(where)
      .agg(count(lit(1)), sum(col("id"))).collect()(0)
    assert(got.toSeq == want.toSeq && got.getLong(0) > 0)
    val total = graft.layout.ZoneMap.read(d).files.length
    val m2 = QueryRunner.run(spark, t.filter(where), "hive_zone",
      action = "collect")
    assert(m2.filesScanned < total,
      s"composed pruning kept ${m2.filesScanned} of $total")
  }
}
