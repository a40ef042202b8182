package graft.layout

import graft.SparkTestBase
import graft.layout.LayoutWriter.LayoutSpec
import graft.layout.StatsWriter.WrittenFile
import graft.runner.MetricsListener
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Stats on write ([[StatsWriter]]) pinned to the read-back scan it
  * replaced ([[StatsReference.collectStatsDf]]): for every write path the
  * entries a write returns equal the scan's over the same files — path,
  * rows, bytes and every range, to the bit — and the recorded blooms
  * hold every key of their file.
  */
class WriteStatsParitySuite extends SparkTestBase {

  private val Schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("a", DoubleType), // nulls, NaN, -0.0 and 0.0
    StructField("big", LongType), // above 2^53
    StructField("d", DateType),
    StructField("ts", TimestampType),
    StructField("ntz", TimestampNTZType),
    StructField("s", StringType), // nulls and empty strings
    StructField("flag", BooleanType),
    StructField("sparse", IntegerType), // non-null only at the low ids
    StructField("cat", StringType), // numeric-looking: reads back as int
    StructField("bucket", IntegerType)))

  private val ValueCols = Seq("a", "big", "d", "ts", "ntz", "s", "flag", "sparse")

  private def cases(n: Int, from: Long = 0L): DataFrame = {
    val rows = (0 until n).map { j =>
      val i = from + j
      val a: Any = (i % 17).toInt match {
        case 0 => null
        case 1 => Double.NaN
        case 2 => -0.0
        case 3 => 0.0
        case _ => (i * 37 % 1000).toDouble - 500.5
      }
      val big: Any = if (i % 19 == 0) null else (1L << 60) + i * 3
      val s: Any = if (i % 11 == 0) null else if (i % 7 == 0) "" else f"s${i * 7919 % 1000}%04d"
      val flag: Any = if (i % 13 == 0) null else i % 2 == 0
      val sparse: Any = if (i < 100) i.toInt else null
      Row(i, a, big,
        java.time.LocalDate.of(1990, 1, 1).plusDays(i % 3000),
        java.time.Instant.ofEpochSecond(600000000L + i * 7919L, (i % 1000) * 1000000L),
        java.time.LocalDateTime.of(2001, 2, 3, 4, 5).plusNanos(i * 1234567890L),
        s, flag, sparse, (1 + i % 3).toString, (i % 2).toInt)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), Schema)
  }

  private def bits(d: Option[Double]): Option[Long] = d.map(java.lang.Double.doubleToLongBits)

  private def assertParity(got: Seq[FileEntry], ref: Seq[FileEntry], what: String): Unit = {
    def byPath(es: Seq[FileEntry]) = es.sortBy(f => ZoneMap.canonical(f.path))
    val (g, r) = (byPath(got), byPath(ref))
    assert(g.map(f => ZoneMap.canonical(f.path)) == r.map(f => ZoneMap.canonical(f.path)),
      s"$what: file sets differ")
    g.zip(r).foreach { case (x, y) =>
      assert(x.path == y.path, s"$what: path form")
      assert(x.rows == y.rows && x.bytes == y.bytes, s"$what ${x.path}: rows/bytes")
      assert(x.ranges.keySet == y.ranges.keySet, s"$what ${x.path}: stats columns")
      x.ranges.foreach { case (c, xr) =>
        val yr = y.ranges(c)
        assert(bits(xr.min) == bits(yr.min) && bits(xr.max) == bits(yr.max) &&
          xr.minStr == yr.minStr && xr.maxStr == yr.maxStr && xr.allNull == yr.allNull,
          s"$what ${x.path} $c: written $xr vs scanned $yr")
      }
    }
  }

  /** The scan the mutation paths ran over their new files. */
  private def scanned(dir: String, m: TableManifest, newPaths: Seq[String],
      schema: Option[StructType] = None): Seq[FileEntry] =
    if (newPaths.isEmpty) Nil
    else StatsReference.collectStatsDf(StagedRewrite.readFiles(spark, dir, newPaths,
      m.hivePartitions.nonEmpty, schema), m.statsCols)

  private def added(before: TableManifest, after: TableManifest): Seq[FileEntry] = {
    val old = before.files.map(_.path).toSet
    after.files.filterNot(f => old(f.path))
  }

  test("LayoutWriter.write: linear, zorder, hilbert and baseline entries equal the scan's") {
    val df = cases(3000)
    for ((layout, cols) <- Seq("linear" -> Seq("id"), "zorder" -> Seq("id", "big"),
        "hilbert" -> Seq("id", "big"), "baseline" -> Nil)) {
      val dir = tmpDir(s"wsp_$layout")
      val m = LayoutWriter.write(df, dir, LayoutSpec(layout, cols, numFiles = Some(6),
        recordKey = Some("id")), ValueCols)
      assert(m.files.length > 1, s"$layout wrote ${m.files.length} files")
      assertParity(m.files, StatsReference.collectStats(spark, dir, m.statsCols), layout)
      assert(ZoneMap.read(dir).files.map(_.path) == m.files.map(_.path))
      if (layout == "linear")
        assert(m.files.exists(_.ranges("sparse").allNull) &&
          m.files.exists(f => !f.ranges("sparse").allNull),
          "an all-null column within one file is exercised")
    }
  }

  test("hive-partitioned write types partition ranges as the read does") {
    val dir = tmpDir("wsp_hive")
    val m = LayoutWriter.write(cases(3000), dir, LayoutSpec("linear", Seq("id"),
      numFiles = Some(4), recordKey = Some("id"), partitionBy = Seq("cat", "bucket")),
      ValueCols)
    // "1".."3" are strings in the frame and integers on read-back
    assert(m.files.forall(f => f.ranges("cat").min.isDefined && f.ranges("cat").minStr.isEmpty))
    assertParity(m.files, StatsReference.collectStats(spark, dir, m.statsCols), "hive")
  }

  test("byte-balance split/merge pieces carry the scan's entries") {
    val spark2 = spark
    import spark2.implicits._
    val n = 60000
    val df = (0 until n).map { i =>
      val pay = if (i < n / 2) "A" * 96 else f"${i * 2654435761L}%016x" * 6
      (i.toLong, i, (i % 97).toDouble, pay, if (i % 5 == 0) null else s"v${i % 300}")
    }.toDF("id", "x", "y", "payload", "tag")
    val dir = tmpDir("wsp_balance")
    val m = LayoutWriter.write(df, dir,
      LayoutSpec("zorder", Seq("x", "y"), numFiles = Some(12)), Seq("id", "tag"))
    assert(m.files.exists(_.path.contains("-b")), "the balance pass rewrote pieces")
    assertParity(m.files, StatsReference.collectStats(spark, dir, m.statsCols), "balance")
  }

  test("an empty write produces zero entries") {
    val dir = tmpDir("wsp_empty")
    val m = LayoutWriter.write(cases(0), dir, LayoutSpec("baseline"), ValueCols)
    assert(m.files.isEmpty)
    assert(StatsReference.collectStats(spark, dir, m.statsCols).isEmpty)
    val staged = StagedRewrite.stage(StagedRewrite.stagingDir(dir, "empty"), cases(0), Nil, m.statsCols)
    assert(staged.files.isEmpty)
  }

  test("KeyedDelta, Upserter and scoped compaction entries equal the scan's") {
    // unpartitioned, schema-typed KeyedDelta: drops rewrite, adds append
    val dir = tmpDir("wsp_delta")
    LayoutWriter.write(cases(3000), dir,
      LayoutSpec("linear", Seq("id"), numFiles = Some(6), recordKey = Some("id")), ValueCols)
    val m0 = ZoneMap.read(dir)
    val schema = spark.read.parquet(dir).schema
    val m1 = KeyedDelta(spark, dir, Seq(5L, 2500L), Some(cases(400, from = 3000L)),
      Some(schema), appendPartitions = Some(2))
    val new1 = added(m0, m1)
    assert(new1.nonEmpty)
    assertParity(new1, scanned(dir, m1, new1.map(_.path), Some(schema)), "KeyedDelta")

    // hive-partitioned table: KeyedDelta, Upserter, compactWhere
    val hdir = tmpDir("wsp_delta_hive")
    LayoutWriter.write(cases(3000), hdir, LayoutSpec("linear", Seq("id"),
      numFiles = Some(4), recordKey = Some("id"), partitionBy = Seq("cat")), ValueCols)
    val h0 = ZoneMap.read(hdir)
    val h1 = KeyedDelta(spark, hdir, Seq(7L), Some(cases(300, from = 5000L)))
    assertParity(added(h0, h1), scanned(hdir, h1, added(h0, h1).map(_.path)),
      "KeyedDelta hive")
    val h2 = graft.table.Upserter.upsert(spark, hdir,
      cases(200, from = 1000L).withColumn("big", col("big") + 1)
        .unionByName(cases(50, from = 9000L)),
      autoRecluster = false)
    assertParity(added(h1, h2), scanned(hdir, h2, added(h1, h2).map(_.path)), "Upserter")
    val h3 = Compactor.compactWhere(spark, hdir, Seq(NumBetween("id", 0, 2000)),
      targetFileBytes = 1L << 30)
    assert(added(h2, h3).nonEmpty)
    assertParity(added(h2, h3), scanned(hdir, h3, added(h2, h3).map(_.path)),
      "compactWhere")
    assert(spark.read.parquet(hdir).count() == 3000L - 1 + 300 + 50)
  }

  test("SearchIndex.add entries equal the scan's") {
    val spark2 = spark
    import spark2.implicits._
    val docs = (1 to 200).map(i => (i.toLong, s"doc $i talks about t${i % 13} and t${i % 7}"))
      .toDF("doc_id", "text")
    val dir = tmpDir("wsp_search")
    graft.operators.SearchIndex.build(docs.filter(col("doc_id") <= 150), "doc_id", "text",
      dir, numFiles = 4)
    val pdir = s"$dir/postings"
    val before = ZoneMap.read(pdir)
    graft.operators.SearchIndex.add(spark, docs.filter(col("doc_id") > 150), "doc_id",
      "text", dir)
    val after = ZoneMap.read(pdir)
    val fresh = added(before, after)
    assert(fresh.nonEmpty)
    assertParity(fresh, StatsReference.collectStatsDf(
      spark.read.parquet(fresh.map(_.path): _*), after.statsCols), "SearchIndex.add")
  }

  test("recorded blooms hold every key and equal the scan-built bloom") {
    val dir = tmpDir("wsp_bloom")
    LayoutWriter.write(cases(2000), dir,
      LayoutSpec("linear", Seq("id"), numFiles = Some(4), recordKey = Some("id")), ValueCols)
    val m = ZoneMap.read(dir)
    val specs = Seq("k" -> Seq("id"), "ks" -> Seq("id", "s"))
    val staged = StagedRewrite.stage(StagedRewrite.stagingDir(dir, "bloom"),
      cases(700, from = 4000L).repartition(3), Nil, m.statsCols, specs)
    val written = StatsWriter.entries(spark, staged.dir, staged.files, Nil, m.statsCols)
    assert(written.length == 3)
    written.foreach { case WrittenFile(e, blooms) =>
      assert(blooms.keySet == specs.map(_._1).toSet)
      val rows = StagedRewrite.readFiles(spark, staged.dir, Seq(e.path), partitioned = false)
      for ((name, keys) <- specs) {
        val hashes = rows.filter(keys.map(col(_).isNotNull).reduce(_ && _))
          .select(KeyIndex.keyHashCol(keys)).collect().map(_.getLong(0))
        val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(blooms(name)))
        assert(hashes.nonEmpty && hashes.forall(bf.mightContainLong), s"$name ${e.path}")
        // the scan path's per-file bloom function over the same keys
        assert(java.util.Arrays.equals(blooms(name),
          KeyIndex.bloomOf(hashes.iterator, e.rows)), s"$name ${e.path}: bloom bytes")
      }
    }
  }

  test("append-only KeyedDelta runs 1 job without sidecars, 2 with the __h sidecar") {
    val spark2 = spark
    import spark2.implicits._
    def store(indexed: Boolean): String = {
      val dir = tmpDir(s"wsp_jobs_$indexed")
      LayoutWriter.write((1 to 400).map(i => (i.toLong, s"text $i"))
          .toDF("doc_id", "text").withColumn("__h", md5(col("text"))), dir,
        LayoutSpec("linear", Seq("doc_id"), numFiles = Some(2), recordKey = Some("doc_id")))
      if (indexed) KeyIndex.build(spark, dir, Seq("__h"))
      dir
    }
    val sc = spark.sparkContext
    val listener = new MetricsListener
    sc.addSparkListener(listener)
    try {
      for ((indexed, expected) <- Seq(false -> 1L, true -> 2L)) {
        val dir = store(indexed)
        val schema = spark.read.parquet(dir).schema
        val batch = (401 to 420).map(i => (i.toLong, s"text $i")).toDF("doc_id", "text")
          .withColumn("__h", md5(col("text")))
        val group = s"wsp-jobs-$indexed-${java.util.UUID.randomUUID()}"
        sc.setJobGroup(group, "append-only KeyedDelta", interruptOnCancel = false)
        try KeyedDelta(spark, dir, Nil, Some(batch), Some(schema), appendPartitions = Some(1))
        finally sc.clearJobGroup()
        org.apache.spark.graftbridge.SparkBridge.drainListenerBus(sc)
        assert(listener.jobs(group) == expected, s"indexed=$indexed")
        assert(ZoneMap.read(dir).totalRows == 420L)
        if (indexed) {
          val h = batch.select(xxhash64(col("__h"))).head().getLong(0)
          val m = ZoneMap.read(dir)
          val newest = m.files.maxBy(_.gen.getOrElse(0L))
          assert(KeyIndex.affectedPaths(spark, dir, Seq(h), m, Seq("__h")).get
            .contains(KeyIndex.norm(newest.path)))
        }
      }
    } finally sc.removeSparkListener(listener)
  }

  test("prepareWrite on a thread started before the write binds that write's request") {
    val req = StatsWriter.Request(Seq("id"), Nil, 0,
      new org.apache.spark.util.CollectionAccumulator[StatsWriter.FileStats])
    val schema = cases(1).schema
    val id = new java.util.concurrent.SynchronousQueue[String]()
    val got = new java.util.concurrent.atomic.AtomicReference[Any]()
    // the thread exists before the request: nothing thread-local can
    // reach it, only the write's options
    val pooled = new Thread(() => got.set(
      try new StatsParquetFormat().prepareWrite(spark,
        org.apache.hadoop.mapreduce.Job.getInstance(),
        Map(StatsWriter.RequestOption -> id.take()), schema)
      catch { case e: Throwable => e }))
    pooled.start()
    StatsWriter.bind(req) { rid => id.put(rid); pooled.join() }
    got.get match {
      case f: StatsOutputWriterFactory => assert(f.plan.acc eq req.acc)
      case other => fail(s"prepareWrite did not bind the request: $other")
    }
  }

  test("two concurrent StatsWriter.write calls each get their own records") {
    val (da, db) = (tmpDir("wsp_conc_a"), tmpDir("wsp_conc_b"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fa = pool.submit(() => StatsWriter.write(
        cases(300).repartition(3), da, Nil, Seq("id")))
      val fb = pool.submit(() => StatsWriter.write(
        cases(500, from = 10000L).repartition(2), db, Nil, Seq("id")))
      for ((f, dir, n, lo) <- Seq((fa, da, 300L, 0.0), (fb, db, 500L, 10000.0))) {
        val produced = f.get()
        assert(produced.map(_.stats.rows).sum == n)
        assert(produced.forall(_.status.getPath.toString.contains(new java.io.File(dir).getName)))
        assert(produced.map(_.stats.ranges("id").min.get).min == lo)
      }
    } finally pool.shutdown()
  }
}
