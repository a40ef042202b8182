package graft.layout

import graft.SparkTestBase
import graft.layout.LayoutWriter.LayoutSpec
import graft.table.Upserter
import org.apache.spark.sql.functions._

/** Per-file record-key bloom index (round 13): keyed COW on a layout
  * ORTHOGONAL to the record key — where zone maps keep every file —
  * scopes its rewrite to the files whose blooms may contain a batch
  * key (the Hudi bloom-index analog).
  */
class KeyIndexSuite extends SparkTestBase {

  // zorder on (a, b); record key k is uncorrelated with the layout, so
  // every file's k zone spans ~the whole domain
  private def writeOrthogonal(dir: String): Unit = {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (1 to 20000).map { k =>
      (k.toLong, rnd.nextDouble() * 1000, rnd.nextDouble() * 1000, s"v$k", 1L)
    }
    LayoutWriter.write(rows.toDF("k", "a", "b", "payload", "version"), dir,
      LayoutSpec("zorder", Seq("a", "b"), numFiles = Some(16),
        recordKey = Some("k"), precombineCol = Some("version")))
  }

  test("bloom-scoped upsert rewrites few files where zones keep all, rows exact") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tmpDir("graft_keyidx")
    writeOrthogonal(dir)
    // zones alone: a scattered batch affects everything
    val m0 = ZoneMap.read(dir)
    val zoneKept = m0.files.count(NumIn("k", Seq(10000.0)).mayMatch)
    assert(zoneKept >= m0.files.length - 2,
      s"precondition: key zones span the domain (layout orthogonal to key); " +
        s"only $zoneKept of ${m0.files.length} cover a mid-domain key")

    KeyIndex.build(spark, dir)
    assert(KeyIndex.exists(dir))
    val before = m0.files.map(_.path).toSet
    val batch = Seq(
      (3L, 0.0, 0.0, "upd3", 2L),
      (19997L, 0.0, 0.0, "upd19997", 2L),
      (90001L, 0.0, 0.0, "new", 1L)) // insert (key in no file)
      .toDF("k", "a", "b", "payload", "version")
    val m1 = Upserter.upsert(spark, dir, batch, autoRecluster = false)
    val rewritten = before.size - m1.files.map(_.path).toSet.intersect(before).size
    // 2 present keys live in <=2 files; bloom fpp adds at most a file
    assert(rewritten <= 4,
      s"bloom scoping failed: $rewritten of ${before.size} files rewritten")
    val got = spark.read.parquet(dir)
    assert(got.count() == 20001)
    assert(got.filter($"k" === 3L).select("payload").as[String].head() == "upd3")
    assert(got.filter($"k" === 19997L).select("payload").as[String].head() == "upd19997")
    assert(got.filter($"k" === 90001L).count() == 1)
    assert(got.filter($"k" === 500L).select("payload").as[String].head() == "v500")

    // the index tracked the rewrite: a second upsert against one of the
    // JUST-REWRITTEN keys still scopes (its new file is indexed)
    val before2 = m1.files.map(_.path).toSet
    val m2 = Upserter.upsert(spark, dir,
      Seq((3L, 0.0, 0.0, "upd3b", 3L)).toDF("k", "a", "b", "payload", "version"),
      autoRecluster = false)
    val rewritten2 = before2.size - m2.files.map(_.path).toSet.intersect(before2).size
    assert(rewritten2 <= 2, s"post-update index failed to scope: $rewritten2")
    assert(spark.read.parquet(dir).filter($"k" === 3L)
      .select("payload").as[String].head() == "upd3b")
  }

  // the hash Upserter probes with: xxhash64 over the typed key value
  private def hashOf(k: Long): Long =
    spark.range(1).select(xxhash64(lit(k))).head().getLong(0)

  test("lookup broadcasts O(batch), not the live-path set") {
    val dir = tmpDir("graft_keyidx_bc")
    writeOrthogonal(dir)
    KeyIndex.build(spark, dir)
    val manifest = ZoneMap.read(dir)
    val sc = spark.sparkContext
    // inflate the manifest to production file counts with fake entries:
    // the v2 protocol broadcast every live path per lookup (~20 MB for
    // these 200k paths); the lookup does driver-side set math over them
    // and ships only the batch hashes
    val fake = (1 to 200000).map(i => manifest.files.head.copy(
      path = s"file:///graft/fake/part-${i}%08d-0000.parquet",
      gen = Some(0L)))
    val bigManifest = manifest.copy(files = manifest.files ++ fake)
    val hashes = (1L to 100L).map(hashOf)
    // the bytes of the broadcast pieces the lookup itself puts: its
    // batch-hash array and its job's task binary, counted from the
    // block-update events between the listener's registration and the
    // end of the lookup's own job group's job (events, not a look at
    // the block manager, so neither another suite's blocks nor a
    // cleaner run in between changes the count)
    val group = s"keyidx-bc-${java.util.UUID.randomUUID()}"
    val listener = new org.apache.spark.scheduler.SparkListener {
      private val jobs = scala.collection.mutable.Set.empty[Int]
      @volatile var open = true
      val bytes = new java.util.concurrent.atomic.AtomicLong
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs += e.jobId
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (jobs(e.jobId)) open = false
      override def onBlockUpdated(e: org.apache.spark.scheduler.SparkListenerBlockUpdated): Unit = {
        val b = e.blockUpdatedInfo
        if (open && b.blockId.isBroadcast && b.blockId.name.contains("_piece"))
          bytes.addAndGet(b.memSize + b.diskSize)
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "one KeyIndex lookup", interruptOnCancel = false)
      try KeyIndex.affectedPaths(spark, dir, hashes, bigManifest)
      finally sc.clearJobGroup()
      org.apache.spark.graftbridge.SparkBridge.drainListenerBus(sc)
    } finally sc.removeSparkListener(listener)
    // 100 hash longs + the per-job task binary (~0.5 MB, constant in
    // table size): far under the ~20 MB the 200k-path live set measures
    val shipped = listener.bytes.get
    assert(!listener.open, "the lookup's job must have ended inside the window")
    assert(shipped > 0 && shipped < 2 * 1024 * 1024,
      s"lookup broadcast must be O(batch) and nonzero, not O(table): $shipped bytes")
  }

  test("a lookup reads the sidecar with its fixed schema: exactly one job") {
    val dir = tmpDir("graft_keyidx_onejob")
    writeOrthogonal(dir)
    KeyIndex.build(spark, dir)
    val manifest = ZoneMap.read(dir)
    val h = hashOf(4242L) // a present key: its shard is read
    val sc = spark.sparkContext
    val listener = new graft.runner.MetricsListener
    sc.addSparkListener(listener)
    val group = s"keyidx-lookup-${java.util.UUID.randomUUID()}"
    try {
      sc.setJobGroup(group, "one KeyIndex lookup", interruptOnCancel = false)
      val hit =
        try KeyIndex.affectedPaths(spark, dir, Seq(h), manifest)
        finally sc.clearJobGroup()
      org.apache.spark.graftbridge.SparkBridge.drainListenerBus(sc)
      assert(hit.exists(_.nonEmpty)) // the key's shard was read
      assert(listener.jobs(group) == 1L,
        s"lookup ran ${listener.jobs(group)} jobs (a footer-inference job is one too many)")
    } finally sc.removeSparkListener(listener)
  }

  test("maintenance is append-only; stale rows reclaimed by amortized GC") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tmpDir("graft_keyidx_shard")
    writeOrthogonal(dir)
    KeyIndex.build(spark, dir)
    def index() = ZoneMap.read(dir).indexes(KeyIndex.DirName)
    def sidecarRows(): Long = spark.read.parquet(index().parts: _*).count()
    val built = index()
    assert(sidecarRows() == ZoneMap.read(dir).files.length.toLong,
      "precondition: one sidecar row per live file")
    // a mutation rewrites NO part: it lists the built parts unchanged,
    // adds parts for its new files, and counts its replaced files' rows
    // stale (lookups drop them by the live-manifest intersection)
    val stamps = built.parts.map(p => p -> new java.io.File(new java.net.URI(p)).lastModified)
    val m1 = Upserter.upsert(spark, dir,
      Seq((3L, 0.0, 0.0, "u3", 2L)).toDF("k", "a", "b", "payload", "version"),
      autoRecluster = false)
    val after = index()
    assert(after.parts.take(built.parts.length) == built.parts)
    assert(stamps.forall { case (p, t) => new java.io.File(new java.net.URI(p)).lastModified == t })
    assert(after.parts.length > built.parts.length && after.stale > 0,
      s"the upsert must append parts and count stale rows: $after")
    assert(sidecarRows() == m1.files.length + after.stale,
      "one row per live file plus one per replaced file")
    // stale rows beyond max(64, files/2) make the next commit's upkeep
    // reclaim them: a version with an inflated stale count stands in for
    // 64 replaced files
    val m = ZoneMap.read(dir)
    ZoneMap.writeCas(dir, m.copy(keyIndexes = Some(Map(KeyIndex.DirName -> after.copy(stale = 70L)))))
    Upserter.upsert(spark, dir,
      Seq((5L, 0.0, 0.0, "u5", 2L)).toDF("k", "a", "b", "payload", "version"),
      autoRecluster = false)
    val gced = index()
    assert(gced.stale == 0L && gced.parts.length <= KeyIndex.Shards, s"GC must have run: $gced")
    assert(after.parts.forall(p => !new java.io.File(new java.net.URI(p)).exists),
      "GC deletes the parts it replaced")
    assert(sidecarRows() == ZoneMap.read(dir).files.length.toLong,
      "GC keeps exactly the live rows")
  }

  test("string (UUID-style) record key: bloom scoping where zones keep all") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tmpDir("graft_keyidx_str")
    val rnd = new scala.util.Random(13)
    val rows = (1 to 20000).map { i =>
      (f"doc-${i * 2654435761L % 100000}%05d-$i", rnd.nextDouble() * 1000,
        rnd.nextDouble() * 1000, s"v$i", 1L)
    }
    LayoutWriter.write(rows.toDF("id", "a", "b", "payload", "version"), dir,
      LayoutSpec("zorder", Seq("a", "b"), numFiles = Some(16),
        recordKey = Some("id"), precombineCol = Some("version")))
    KeyIndex.build(spark, dir)
    val before = ZoneMap.read(dir).files.map(_.path).toSet
    val k1 = rows(300)._1; val k2 = rows(19000)._1
    val batch = Seq((k1, 0.0, 0.0, "upd1", 2L), (k2, 0.0, 0.0, "upd2", 2L))
      .toDF("id", "a", "b", "payload", "version")
    val m1 = graft.table.Upserter.upsert(spark, dir, batch, autoRecluster = false)
    val rewritten = before.size - m1.files.map(_.path).toSet.intersect(before).size
    assert(rewritten <= 4,
      s"string-key bloom scoping failed: $rewritten of ${before.size} rewritten")
    val got = spark.read.parquet(dir)
    assert(got.count() == 20000)
    assert(got.filter($"id" === k1).select("payload").as[String].head() == "upd1")
    assert(got.filter($"id" === k2).select("payload").as[String].head() == "upd2")
  }

  test("composite record key: tuple blooms scope, tuple identity dedups") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tmpDir("graft_keyidx_comp")
    val rnd = new scala.util.Random(17)
    // (ok, ln) like lineitem: 5000 orders x 4 line numbers
    val rows = for { ok <- 1 to 5000; ln <- 1 to 4 } yield
      (ok.toLong, ln, rnd.nextDouble() * 1000, s"v$ok-$ln", 1L)
    LayoutWriter.write(rows.toDF("ok", "ln", "a", "payload", "version"), dir,
      LayoutSpec("linear", Seq("a"), numFiles = Some(16),
        recordKeys = Seq("ok", "ln"), precombineCol = Some("version")))
    assert(ZoneMap.read(dir).keyCols == Seq("ok", "ln"))
    KeyIndex.build(spark, dir)
    val before = ZoneMap.read(dir).files.map(_.path).toSet
    val batch = Seq(
      (42L, 2, 0.0, "upd", 2L), // updates ONE (ok,ln) tuple
      (42L, 9, 0.0, "new", 1L)) // same ok, new ln → INSERT, not update
      .toDF("ok", "ln", "a", "payload", "version")
    val m1 = graft.table.Upserter.upsert(spark, dir, batch, autoRecluster = false)
    val rewritten = before.size - m1.files.map(_.path).toSet.intersect(before).size
    assert(rewritten <= 4,
      s"composite-key bloom scoping failed: $rewritten of ${before.size}")
    val got = spark.read.parquet(dir)
    assert(got.count() == 20001, "same-ok/new-ln row must insert, not merge")
    assert(got.filter($"ok" === 42L && $"ln" === 2).select("payload")
      .as[String].head() == "upd")
    assert(got.filter($"ok" === 42L && $"ln" === 1).select("payload")
      .as[String].head() == "v42-1", "sibling tuple must be untouched")
    assert(got.filter($"ok" === 42L).count() == 5)
  }

  test("snowflake-scale long keys (>2^53) probe exactly — no double rounding") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tmpDir("graft_keyidx_snow")
    val base = 1L << 60
    // adjacent ids that COLLIDE when rounded through double
    val rows = (0 until 4000).map { i =>
      (base + i, i.toDouble, s"v$i", 1L)
    }
    LayoutWriter.write(rows.toDF("id", "a", "payload", "version"), dir,
      LayoutSpec("linear", Seq("a"), numFiles = Some(8),
        recordKey = Some("id"), precombineCol = Some("version")))
    KeyIndex.build(spark, dir)
    val victim = base + 1234L
    val batch = Seq((victim, 0.0, "updated", 2L))
      .toDF("id", "a", "payload", "version")
    graft.table.Upserter.upsert(spark, dir, batch, autoRecluster = false)
    val got = spark.read.parquet(dir)
    assert(got.count() == 4000, "neighbor ids must not merge")
    assert(got.filter($"id" === victim).select("payload")
      .as[String].head() == "updated")
    assert(got.filter($"id" === (victim + 1)).select("payload")
      .as[String].head() == "v1235", "adjacent id untouched")
  }

  test("hive-partitioned table: index builds, scopes, and survives a partitioned upsert") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tmpDir("graft_keyidx_part")
    val rnd = new scala.util.Random(11)
    val rows = (1 to 8000).map { k =>
      (k.toLong, rnd.nextDouble() * 100, s"p${k % 3}", s"v$k", 1L)
    }
    LayoutWriter.write(rows.toDF("k", "a", "part", "payload", "version"), dir,
      LayoutSpec("linear", Seq("a"), numFiles = Some(4),
        recordKey = Some("k"), precombineCol = Some("version"),
        partitionBy = Seq("part")))
    KeyIndex.build(spark, dir)
    val before = ZoneMap.read(dir).files.map(_.path).toSet
    val m = Upserter.upsert(spark, dir,
      Seq((7L, 0.0, "p1", "upd7", 2L)).toDF("k", "a", "part", "payload", "version"),
      autoRecluster = false)
    val rewritten = before.size - m.files.map(_.path).toSet.intersect(before).size
    assert(rewritten <= 2,
      s"partitioned index failed to scope: $rewritten of ${before.size}")
    val got = spark.read.parquet(dir)
    assert(got.count() == 8000)
    assert(got.filter($"k" === 7L).select("payload").as[String].head() == "upd7")
    assert(got.filter($"k" === 7L).select("part").as[String].head() == "p1")
    // an index over the partition column: the write records no bloom for
    // it (the value lives in the dir name), so the commit blooms the
    // new files by scan
    KeyIndex.build(spark, dir, Seq("part"))
    Upserter.upsert(spark, dir,
      Seq((8L, 0.0, "p2", "upd8", 2L)).toDF("k", "a", "part", "payload", "version"),
      autoRecluster = false)
    val m2 = ZoneMap.read(dir)
    val h = Seq("p2").toDF("part").select(xxhash64(col("part"))).as[Long].head()
    val truth = spark.read.parquet(dir).filter($"part" === "p2")
      .select(input_file_name()).distinct().as[String].collect().map(KeyIndex.norm).toSet
    val hit = KeyIndex.affectedPaths(spark, dir, Seq(h), m2, Seq("part")).get
    assert(truth.nonEmpty && truth.subsetOf(hit), s"scan-bloomed files missed: ${truth -- hit}")
  }

  test("whole-table compact rebuilds an index it found (auto-recluster keeps scoping)") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tmpDir("graft_keyidx_cmp")
    writeOrthogonal(dir)
    KeyIndex.build(spark, dir)
    Compactor.compact(spark, dir, targetFileBytes = 256L * 1024)
    assert(KeyIndex.exists(dir), "compact must rebuild the index it dropped")
    // and the rebuilt index is CURRENT: a keyed upsert still scopes
    val m = ZoneMap.read(dir)
    val before = m.files.map(_.path).toSet
    Upserter.upsert(spark, dir,
      Seq((42L, 0.0, 0.0, "u42", 2L)).toDF("k", "a", "b", "payload", "version"),
      autoRecluster = false)
    val after = ZoneMap.read(dir).files.map(_.path).toSet
    val rewritten = before.size - after.intersect(before).size
    assert(rewritten <= 2, s"rebuilt index failed to scope: $rewritten of ${before.size}")
    assert(spark.read.parquet(dir).filter($"k" === 42L)
      .select("payload").as[String].head() == "u42")
    assert(spark.read.parquet(dir).count() == 20000)
  }

  test("secondary index on a non-key column scopes lookups and tracks mutations") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tmpDir("graft_keyidx_sec")
    // linear on the record key k; h is a content hash (md5-style) —
    // random, so NEITHER the layout nor any zone can scope an h lookup
    val rows = (1 to 20000).map(k => (k.toLong, s"p$k", 1L))
    LayoutWriter.write(
      rows.toDF("k", "payload", "version")
        .withColumn("h", md5(col("payload"))),
      dir, LayoutSpec("linear", Seq("k"), numFiles = Some(16),
        recordKey = Some("k"), precombineCol = Some("version")))
    KeyIndex.build(spark, dir, Seq("h"))
    val secName = KeyIndex.indexName(Seq("h"))
    assert(KeyIndex.exists(dir, secName))
    assert(!KeyIndex.exists(dir)) // no primary was built
    assert(ZoneMap.read(dir).indexes.get(secName).map(_.keys).contains(Seq("h")))

    val manifest = ZoneMap.read(dir)
    def hashesOf(vals: Seq[String]): Seq[Long] =
      vals.toDF("h").select(xxhash64(col("h"))).as[Long].collect().toSeq

    // a present hash scopes to the one file holding it (+= fpp noise)
    val present = spark.read.parquet(dir).filter($"k" === 1234L)
      .select("h").as[String].head()
    val hit = KeyIndex.affectedPaths(spark, dir, hashesOf(Seq(present)),
      manifest, Seq("h")).get
    assert(hit.nonEmpty && hit.size <= 3,
      s"one present hash should scope to ~1 of ${manifest.files.length} files, got ${hit.size}")
    // an absent hash prunes everything (modulo fpp)
    val miss = KeyIndex.affectedPaths(spark, dir,
      hashesOf(Seq("not-a-real-hash")), manifest, Seq("h")).get
    assert(miss.size <= 1, s"absent hash matched ${miss.size} files")

    // a keyed mutation through KeyedDelta keeps the SECONDARY current:
    // the dropped key's file is rewritten; its replacement must be
    // bloom-indexed so the surviving rows' hashes still resolve
    val victimH = spark.read.parquet(dir).filter($"k" === 2L)
      .select("h").as[String].head()
    val keeperH = spark.read.parquet(dir).filter($"k" === 3L)
      .select("h").as[String].head() // same file as k=2, survives
    KeyedDelta(spark, dir, dropKeys = Seq(2L), addRows = None)
    val m2 = ZoneMap.read(dir)
    val after = KeyIndex.affectedPaths(spark, dir, hashesOf(Seq(keeperH)),
      m2, Seq("h")).get
    val live = m2.files.map(f => KeyIndex.norm(f.path)).toSet
    assert(after.nonEmpty && after.forall(live.contains),
      "surviving hash must resolve to a LIVE file after the rewrite")
    assert(spark.read.parquet(dir).count() == 19999)
  }

  test("secondary index tracks a keyed COW upsert (updateAll path)") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tmpDir("graft_keyidx_sec_upsert")
    writeOrthogonal(dir)
    KeyIndex.build(spark, dir)            // primary (the COW needs it)
    KeyIndex.build(spark, dir, Seq("payload")) // secondary on a non-key col
    val secName = KeyIndex.indexName(Seq("payload"))

    val batch = Seq((7L, 0.0, 0.0, "upd7", 2L))
      .toDF("k", "a", "b", "payload", "version")
    Upserter.upsert(spark, dir, batch, autoRecluster = false)

    // the rewrite's replacement files must be bloom-indexed in BOTH
    // sidecars: the new payload value resolves to a live file
    val m = ZoneMap.read(dir)
    val live = m.files.map(f => KeyIndex.norm(f.path)).toSet
    val h = Seq("upd7").toDF("payload")
      .select(xxhash64(col("payload"))).as[Long].head()
    val hit = KeyIndex.affectedPaths(spark, dir, Seq(h), m, Seq("payload")).get
    assert(hit.nonEmpty && hit.forall(live.contains),
      s"upserted payload must resolve to live files via the secondary: $hit")
    // and a value that never existed stays pruned (fpp noise aside)
    val miss = KeyIndex.affectedPaths(spark, dir,
      Seq(Seq("nope").toDF("payload")
        .select(xxhash64(col("payload"))).as[Long].head()), m, Seq("payload")).get
    assert(miss.size <= 2, s"absent payload matched ${miss.size} files")
  }

  test("legacy (generation-less) manifest: refused on read") {
    val dir = tmpDir("graft_keyidx_gen0")
    writeOrthogonal(dir)
    // strip the stamps: the pre-r15 manifest shape (generation = None,
    // per-file gen = None), written raw so ZoneMap.write can't re-stamp
    val m = ZoneMap.read(dir)
    val legacy = m.copy(generation = None, root = None,
      files = m.files.map(_.copy(gen = None)))
    implicit val fmts: org.json4s.Formats =
      org.json4s.jackson.Serialization.formats(org.json4s.NoTypeHints)
    java.nio.file.Files.write(
      ZoneMap.currentVersionFile(dir).get,
      org.json4s.jackson.Serialization.writePretty(legacy)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // a version file is write-once, so the read cache never re-checks
    // one; this raw in-place rewrite must drop it
    ZoneMap.clearReadCache()
    val ex = intercept[IllegalStateException](ZoneMap.read(dir))
    assert(ex.getMessage.contains("rebuild the table"), ex.getMessage)
    // a build reads the manifest first: it writes no sidecar for the
    // unstamped files
    intercept[IllegalStateException](KeyIndex.build(spark, dir))
    assert(!java.nio.file.Files.exists(KeyIndex.path(dir)))
  }

  test("per-shard union blooms: a scattered small batch reads fewer shard dirs, " +
      "never missing a truly-affected file") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tmpDir("graft_keyidx_union")
    writeOrthogonal(dir)
    KeyIndex.build(spark, dir)
    val manifest = ZoneMap.read(dir)
    val keys = Seq(3L, 1999L, 4242L, 7777L, 9000L,
      11111L, 13000L, 15555L, 17000L, 19997L)
    val hashes = keys.map(hashOf)
    val skipped = KeyIndex.affectedPaths(spark, dir, hashes, manifest).get
    val shardsSkipped = KeyIndex.lastShardsRead
    assert(shardsSkipped < KeyIndex.Shards,
      s"10 scattered keys must not read all ${KeyIndex.Shards} shards " +
        s"(read $shardsSkipped)")
    // ground truth: the files that actually hold the keys must ALL be in
    // the skipped lookup's result (shard skipping is FP-dropping only)
    val truth = spark.read.parquet(dir)
      .filter(col("k").isin(keys: _*))
      .select(input_file_name()).distinct().as[String].collect()
      .map(KeyIndex.norm).toSet
    assert(truth.subsetOf(skipped),
      s"union skipping dropped truly-affected files: ${truth -- skipped}")
    // files newer than the unions' generation are uncovered: their shard
    // is read unconditionally (driver-side generation math), so a key
    // that exists ONLY in a post-union file still resolves — while the
    // union-negative covered shards stay skipped
    KeyedDelta(spark, dir, Nil, Some(Seq((777777L, 1.0, 2.0, "fresh", 1L))
      .toDF("k", "a", "b", "payload", "version")))
    val m2 = ZoneMap.read(dir)
    val dest = m2.files.maxBy(_.gen.get)
    val freshHit = KeyIndex.affectedPaths(spark, dir,
      Seq(hashOf(777777L)), m2).get
    assert(freshHit.contains(KeyIndex.norm(dest.path)),
      s"post-union file must be found: $freshHit")
    assert(KeyIndex.lastShardsRead <= 3,
      s"covered union-negative shards must stay skipped " +
        s"(read ${KeyIndex.lastShardsRead})")

    // without the unions file the lookup reads every shard and can only
    // ADD per-file-bloom false positives
    ZoneMap.read(dir).indexes(KeyIndex.DirName).unions
      .foreach(u => java.nio.file.Files.delete(java.nio.file.Paths.get(new java.net.URI(u))))
    val full = KeyIndex.affectedPaths(spark, dir, hashes, manifest).get
    assert(KeyIndex.lastShardsRead >= shardsSkipped)
    assert(skipped.subsetOf(full),
      s"skipped lookup returned files the full lookup did not: " +
        s"${skipped -- full}")
    assert(truth.subsetOf(full))
  }
}
