package graft.table

import graft.SparkTestBase
import graft.layout.{Compactor, ConcurrentCommitException, KeyedDelta, LayoutWriter,
  NumBetween, StagedRewrite, VersionLog, ZoneMap}
import graft.layout.LayoutWriter.LayoutSpec

/** Optimistic concurrency on the manifest commit (round-19; the OCC
  * Delta/Hudi/Iceberg provide, which the single-writer rename protocol
  * assumed away — two racing commits could silently drop one
  * generation's file set). writeCas check-and-swaps on the generation;
  * Upserter rebases DISJOINT concurrent rewrites and aborts OVERLAPPING
  * ones; every other mutation — compaction included — aborts. The
  * interleaving is driven deterministically through
  * [[StagedRewrite.testHookBeforeCommit]], the hook inside every
  * mutation's commit (a thread race would leave which writer rebases to
  * the scheduler).
  */
class ConcurrentCommitSuite extends SparkTestBase {

  private def base = {
    val spark2 = spark
    import spark2.implicits._
    (1 to 10000).map(i => (i.toLong, s"v$i", i * 1.0, 1L))
      .toDF("k", "payload", "price", "version")
  }

  private def keyedTable(prefix: String): String = {
    val dir = tmpDir(prefix)
    LayoutWriter.write(base, dir,
      LayoutSpec("linear", Seq("k"), numFiles = Some(8),
        recordKey = Some("k"), precombineCol = Some("version")))
    dir
  }

  private def batch(rows: (Long, String)*) = {
    val spark2 = spark
    import spark2.implicits._
    rows.map { case (k, p) => (k, p, 0.0, 2L) }
      .toDF("k", "payload", "price", "version")
  }

  test("writeCas: a stale-generation commit throws, a current one lands") {
    val dir = keyedTable("graft_cas")
    val m1 = ZoneMap.read(dir) // gen 1
    val m2 = ZoneMap.writeCas(dir, m1) // gen 2: read at 1, disk at 1 — ok
    assert(m2.generation.contains(2L))
    val e = intercept[ConcurrentCommitException] {
      ZoneMap.writeCas(dir, m1) // still claims gen 1, disk is at 2
    }
    assert(e.onDisk == 2L && e.expected == 1L)
    // plain write stays last-writer-wins for fresh-table flows, as the
    // version after the log's current one: no version name is reused
    assert(ZoneMap.write(dir, m1).generation.contains(3L))
  }

  test("interleaved upserts on DISJOINT key ranges: both land via rebase") {
    val spark2 = spark
    import spark2.implicits._
    val dir = keyedTable("graft_occ_disjoint")
    // low keys live in different files than high keys (linear layout on
    // k, 8 files) — the two upserts rewrite disjoint file sets
    var ran = false
    StagedRewrite.testHookBeforeCommit = () => {
      if (!ran) { // only inside the OUTER upsert, not the nested one
        ran = true
        Upserter.upsert(spark, dir, batch(9990L -> "hi9990"))
      }
    }
    try Upserter.upsert(spark, dir, batch(5L -> "lo5"))
    finally StagedRewrite.testHookBeforeCommit = () => ()
    assert(ran, "competing upsert must have run inside the commit window")
    val got = spark.read.parquet(dir)
    assert(got.count() == 10000)
    assert(got.filter($"k" === 5L).select("payload").as[String].head() == "lo5")
    assert(got.filter($"k" === 9990L).select("payload").as[String].head() == "hi9990",
      "the rebased commit must carry the OTHER writer's files forward")
    // both commits landed: gen 1 (layout) + 2 upserts
    assert(ZoneMap.read(dir).generation.contains(3L))
    // the manifest references only live files (nothing dropped/dangling)
    val m = ZoneMap.read(dir)
    m.files.foreach { f =>
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
        new java.net.URI(f.path))), s"dangling manifest entry: ${f.path}")
    }
  }

  test("interleaved upserts on the SAME key range: overlap detected, abort") {
    val spark2 = spark
    import spark2.implicits._
    val dir = keyedTable("graft_occ_overlap")
    var ran = false
    StagedRewrite.testHookBeforeCommit = () => {
      if (!ran) {
        ran = true
        Upserter.upsert(spark, dir, batch(5L -> "first5"))
      }
    }
    val e =
      try intercept[ConcurrentCommitException] {
        Upserter.upsert(spark, dir, batch(6L -> "second6"))
      }
      finally StagedRewrite.testHookBeforeCommit = () => ()
    assert(e.getMessage.contains("overlapping"), e.getMessage)
    // the winning commit's data is intact; the aborted one left no rows
    val got = spark.read.parquet(ZoneMap.read(dir).files.map(_.path): _*)
    assert(got.count() == 10000)
    assert(got.filter($"k" === 5L).select("payload").as[String].head() == "first5")
    assert(got.filter($"k" === 6L).select("payload").as[String].head() == "v6",
      "aborted upsert must not have published its rewrite")
    // the aborted writer's staged files are manifest-unreferenced; the
    // next mutation's reconcile purges them and the table stays sound
    Upserter.upsert(spark, dir, batch(7L -> "third7"))
    val after = spark.read.parquet(dir)
    assert(after.count() == 10000)
    assert(after.filter($"k" === 6L).select("payload").as[String].head() == "v6")
    assert(after.filter($"k" === 7L).select("payload").as[String].head() == "third7")
  }

  /** Run `body` with `competing` run once inside the first commit window. */
  private def racing[T](competing: => Unit)(body: => T): T = {
    var ran = false
    StagedRewrite.testHookBeforeCommit = () => {
      if (!ran) { ran = true; competing }
    }
    try body
    finally StagedRewrite.testHookBeforeCommit = () => ()
  }

  private def assertNoDangling(dir: String): Unit =
    ZoneMap.read(dir).files.foreach { f =>
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
        new java.net.URI(f.path))), s"dangling manifest entry: ${f.path}")
    }

  private def partFiles(dir: String): Set[String] = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s.toArray.map(_.toString).filter(p =>
      new java.io.File(p).getName.startsWith("part-")).toSet
    finally s.close()
  }

  test("compaction inside an upsert's commit window: the upsert aborts") {
    val spark2 = spark
    import spark2.implicits._
    val dir = keyedTable("graft_occ_compact_in_upsert")
    var compacted: graft.layout.TableManifest = null
    intercept[ConcurrentCommitException] {
      racing { compacted = Compactor.compact(spark, dir, targetFileBytes = 1L << 30) } {
        Upserter.upsert(spark, dir, batch(5L -> "lo5"))
      }
    }
    assert(compacted != null, "the compaction must have run inside the commit window")
    assertNoDangling(dir)
    val m = ZoneMap.read(dir)
    assert(m.generation == compacted.generation && m.files == compacted.files,
      "the aborted upsert must not have published over the compaction")
    // the dir holds exactly the compacted table: the loser took its files back out
    val got = spark.read.parquet(dir)
    assert(got.count() == 10000)
    assert(got.except(base).isEmpty && base.except(got).isEmpty)
    assert(got.filter($"k" === 5L).select("payload").as[String].head() == "v5")
  }

  test("an upsert inside a compaction's commit window: the compaction aborts") {
    val spark2 = spark
    import spark2.implicits._
    val dir = keyedTable("graft_occ_upsert_in_compact")
    val before = ZoneMap.read(dir)
    intercept[ConcurrentCommitException] {
      racing(Upserter.upsert(spark, dir, batch(5L -> "lo5"))) {
        Compactor.compact(spark, dir, targetFileBytes = 1L << 30)
      }
    }
    assertNoDangling(dir)
    assert(ZoneMap.read(dir).generation.contains(before.generation.get + 1))
    val got = spark.read.parquet(dir)
    assert(got.count() == 10000, "the aborted compaction left files behind")
    assert(got.filter($"k" === 5L).select("payload").as[String].head() == "lo5")
  }

  test("compactWhere, KeyedDelta and SearchIndex.add abort on a concurrent " +
      "commit and leave no moved file behind") {
    val spark2 = spark
    import spark2.implicits._
    def bump(dir: String): Unit = ZoneMap.writeCas(dir, ZoneMap.read(dir))
    def aborts(dir: String)(mutate: => Any): Unit = {
      val files = partFiles(dir)
      val gen = ZoneMap.read(dir).generation.get
      intercept[ConcurrentCommitException](racing(bump(dir))(mutate))
      assert(partFiles(dir) == files, s"$dir: the aborted commit left files behind")
      assert(ZoneMap.read(dir).generation.contains(gen + 1))
      assertNoDangling(dir)
    }
    val t = keyedTable("graft_occ_aborts")
    aborts(t)(Compactor.compactWhere(spark, t, Seq(NumBetween("k", 0, 5000)),
      targetFileBytes = 1L << 30))
    aborts(t)(KeyedDelta(spark, t, Seq(5L, 7000L), Some(batch(20000L -> "new"))))
    val idx = tmpDir("graft_occ_search")
    val docs = (1 to 60).map(i => (i.toLong, s"doc $i about t${i % 7}")).toDF("doc_id", "text")
    graft.operators.SearchIndex.build(docs.filter($"doc_id" <= 40), "doc_id", "text", idx,
      numFiles = 2)
    aborts(s"$idx/postings")(graft.operators.SearchIndex.add(spark,
      docs.filter($"doc_id" > 40), "doc_id", "text", idx))
    assert(spark.read.parquet(t).count() == 10000)
  }

  /** Runs each body on its own thread, all released at once; returns
    * what each returned or threw, in body order.
    */
  private def together[T](bodies: (() => T)*): Seq[Either[Throwable, T]] = {
    val go = new java.util.concurrent.CountDownLatch(1)
    val out = Array.fill[Either[Throwable, T]](bodies.length)(null)
    val threads = bodies.zipWithIndex.map { case (b, i) =>
      val t = new Thread(() => {
        go.await()
        out(i) = try Right(b()) catch { case e: Throwable => Left(e) }
      })
      t.start(); t
    }
    go.countDown()
    threads.foreach(_.join())
    out.toSeq
  }

  test("writeCas: a raw publish of the next generation, as another JVM " +
      "makes it, wins and stays current") {
    val dir = keyedTable("graft_cas_raw")
    val m1 = ZoneMap.read(dir) // gen 1
    val log = ZoneMap.logDir(dir)
    // no in-JVM lock and no ZoneMap call: temp file + link(2)
    val raw = java.nio.file.Files.readAllBytes(ZoneMap.currentVersionFile(dir).get)
    val tmp = log.resolve(".tmp-other-jvm")
    java.nio.file.Files.write(tmp, raw)
    java.nio.file.Files.createLink(log.resolve(VersionLog.fileName(2L, ".json")), tmp)
    java.nio.file.Files.delete(tmp)
    val e = intercept[ConcurrentCommitException](ZoneMap.writeCas(dir, m1))
    assert(e.onDisk == 2L && e.expected == 1L)
    assert(ZoneMap.headerGeneration(dir).contains(2L))
    assert(java.util.Arrays.equals(
      java.nio.file.Files.readAllBytes(ZoneMap.currentVersionFile(dir).get), raw),
      "the losing commit must not touch the winner's version")
    // the link itself is the put-if-absent: publishing an existing
    // version fails and leaves its bytes as they were
    assert(!VersionLog.publish(log, 2L, ".json", "{}".getBytes("UTF-8")))
    assert(java.util.Arrays.equals(
      java.nio.file.Files.readAllBytes(ZoneMap.currentVersionFile(dir).get), raw))
  }

  test("two threads committing from one base: exactly one wins") {
    val dir = keyedTable("graft_cas_threads")
    (1 to 20).foreach { round =>
      val base = ZoneMap.read(dir)
      val res = together(
        () => ZoneMap.writeCas(dir, base.copy(commitsSinceCluster = Some(1))),
        () => ZoneMap.writeCas(dir, base.copy(commitsSinceCluster = Some(2))))
      val wins = res.collect { case Right(m) => m }
      assert(wins.length == 1, s"round $round: ${wins.length} commits won")
      res.collect { case Left(e) => e }.foreach(e =>
        assert(e.isInstanceOf[ConcurrentCommitException], s"round $round: $e"))
      assert(ZoneMap.headerGeneration(dir) == base.generation.map(_ + 1))
      assert(ZoneMap.read(dir).commitsSinceCluster == wins.head.commitsSinceCluster,
        s"round $round: the current version is not the winner's")
    }
  }

  test("a reader that listed generation N still reads after two later commits") {
    val dir = keyedTable("graft_cas_reader")
    val m1 = ZoneMap.read(dir)
    ZoneMap.clearReadCache()
    var ran = false
    ZoneMap.testHookAfterList = () => {
      if (!ran) {
        ran = true
        ZoneMap.writeCas(dir, ZoneMap.writeCas(dir, m1))
      }
    }
    val got = try ZoneMap.read(dir) finally ZoneMap.testHookAfterList = () => ()
    assert(ran, "the commits must have run between the listing and the read")
    assert(!java.nio.file.Files.exists(
      ZoneMap.logDir(dir).resolve(VersionLog.fileName(1L, ".json"))),
      "GC must have dropped the version the reader listed")
    assert(got.generation.contains(3L) && got.files == m1.files)
  }

  test("two concurrent upserts of disjoint keys into one table both land") {
    val spark2 = spark
    import spark2.implicits._
    val dir = keyedTable("graft_occ_two_threads")
    val res = together(
      () => Upserter.upsert(spark, dir, batch(5L -> "lo5")),
      () => Upserter.upsert(spark, dir, batch(9990L -> "hi9990")))
    res.collect { case Left(e) => e }.foreach(e => throw e)
    val got = spark.read.parquet(dir)
    assert(got.count() == 10000)
    assert(got.filter($"k" === 5L).select("payload").as[String].head() == "lo5")
    assert(got.filter($"k" === 9990L).select("payload").as[String].head() == "hi9990")
    assert(ZoneMap.read(dir).generation.contains(3L))
    assertNoDangling(dir)
  }

  test("reconcile sweeps dead stage dirs beside a table, never a live one") {
    val dir = keyedTable("graft_occ_stages")
    def withFile(d: String): java.io.File = {
      val f = new java.io.File(d); f.mkdirs()
      java.nio.file.Files.writeString(new java.io.File(f, "part-x.parquet").toPath, "x")
      f
    }
    val dead = withFile(s"$dir.upsert_stage-deadbeef") // a crashed mutation's
    val legacy = withFile(s"$dir.compact_stage") // an older build's fixed name
    val live = withFile(StagedRewrite.stagingDir(dir, "upsert"))
    val other = withFile(s"$dir.backup") // not a stage dir
    StagedRewrite.reconcile(spark, dir, ZoneMap.read(dir))
    assert(!dead.exists() && !legacy.exists(), "dead stage dirs must be swept")
    assert(live.exists(), "a live mutation's stage dir must survive")
    assert(other.exists(), "only stage dirs are swept")
  }
}
