package graft.layout

import graft.SparkTestBase
import graft.layout.LayoutWriter.LayoutSpec
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.{BasicFileAttributes, FileTime}

/** Every mutation entry point publishes its metadata write-once: no file
  * that existed before the mutation is renamed over or rewritten in
  * place. Replacing a non-empty file that way forces a flush on ext4
  * (about 60 ms each, measured on a 4-core ext4 host), so this pins the
  * commit path's fixed cost without a timer. Deleting a file and
  * creating new names is fine.
  */
class WriteOnceSuite extends SparkTestBase {

  private case class Stat(key: AnyRef, size: Long, mtime: FileTime)

  /** path → (file key, size, mtime) of every regular file under `roots`. */
  private def snapshot(roots: Seq[String]): Map[String, Stat] =
    roots.filter(r => Files.exists(Paths.get(r))).flatMap { r =>
      val s = Files.walk(Paths.get(r))
      try s.toArray.toSeq.map(_.asInstanceOf[Path])
        .flatMap { p =>
          scala.util.Try(Files.readAttributes(p, classOf[BasicFileAttributes]))
            .toOption.filter(_.isRegularFile)
            .map(a => p.toString -> Stat(a.fileKey(), a.size(), a.lastModifiedTime()))
        }
      finally s.close()
    }.toMap

  /** A table dir (its key-index sidecars and manifest log included) and
    * its sibling staging dirs `<table>.<kind>_stage*`.
    */
  private def tableRoots(dir: String): Seq[String] = {
    val d = new java.io.File(dir)
    dir +: Option(d.getParentFile.listFiles).toSeq.flatten
      .filter(_.getName.startsWith(d.getName + ".")).map(_.getPath)
  }

  /** Runs `mutate` and fails if a file that existed before it is still
    * at its path but is not the same unchanged file: renamed over (a new
    * file key) or rewritten in place (same key, new size or mtime).
    * `replaced` names files a mutation may replace by unlink and create;
    * a snapshot cannot tell that from a rename over them.
    */
  private def assertWriteOnce(roots: => Seq[String], replaced: Set[String] = Set.empty)
      (mutate: => Any): Unit = {
    val before = snapshot(roots)
    assert(before.nonEmpty, s"nothing to watch under $roots")
    mutate
    val after = snapshot(roots)
    val bad = before.toSeq.sortBy(_._1).flatMap { case (p, b) =>
      after.get(p).filter(_ != b).flatMap { a =>
        if (a.key != b.key)
          if (replaced(Paths.get(p).getFileName.toString)) None
          else Some(s"renamed over: $p")
        else Some(s"rewritten in place: $p")
      }
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  private def keyedTable(prefix: String): String = {
    val spark2 = spark
    import spark2.implicits._
    val dir = tmpDir(prefix) + "/t"
    LayoutWriter.write(
      (1 to 10000).map(i => (i.toLong, s"v$i", 1L)).toDF("k", "payload", "version"),
      dir, LayoutSpec("linear", Seq("k"), numFiles = Some(8),
        recordKey = Some("k"), precombineCol = Some("version")))
    KeyIndex.build(spark, dir)
    dir
  }

  private def batch(rows: (Long, String)*) = {
    val spark2 = spark
    import spark2.implicits._
    rows.map { case (k, p) => (k, p, 2L) }.toDF("k", "payload", "version")
  }

  test("table mutations publish write-once: upsert, KeyedDelta, compactWhere, compact") {
    val t = keyedTable("graft_wo_table")
    assertWriteOnce(tableRoots(t)) {
      graft.table.Upserter.upsert(spark, t, batch(5L -> "u5", 9000L -> "u9000"))
    }
    assertWriteOnce(tableRoots(t)) {
      KeyedDelta(spark, t, Seq(7L), Some(batch(20000L -> "new")))
    }
    assertWriteOnce(tableRoots(t)) {
      Compactor.compactWhere(spark, t, Seq(NumBetween("k", 0, 5000)),
        targetFileBytes = 1L << 30)
    }
    assertWriteOnce(tableRoots(t)) {
      Compactor.compact(spark, t, targetFileBytes = 1L << 30)
    }
    assert(spark.read.parquet(t).count() == 10000)
  }

  test("key-index maintenance publishes write-once: update and gc") {
    val t = keyedTable("graft_wo_keyindex")
    // the index update rides a mutation's commit; a build and gc commit
    // fresh parts and delete the replaced ones
    assertWriteOnce(tableRoots(t))(KeyedDelta(spark, t, Seq(7L), Some(batch(20000L -> "new"))))
    assertWriteOnce(tableRoots(t))(KeyIndex.build(spark, t))
    assertWriteOnce(tableRoots(t))(KeyIndex.gc(spark, t, ZoneMap.read(t)))
    // a second gc replaces the parts the first one wrote
    assertWriteOnce(tableRoots(t))(KeyIndex.gc(spark, t, ZoneMap.read(t)))
  }

  test("ZoneMap.write over an existing table publishes a new version name") {
    val t = keyedTable("graft_wo_plain")
    val cached = ZoneMap.read(t) // this JVM caches the current version
    val g = cached.generation.get
    val old = ZoneMap.logDir(t).resolve(VersionLog.fileName(g, ".json"))
    val bytes = java.nio.file.Files.readAllBytes(old)
    // a plain write from the version before the current one: it must
    // neither rewrite nor replace version g
    assertWriteOnce(tableRoots(t)) {
      ZoneMap.write(t, cached.copy(generation = Some(g - 1), files = cached.files.take(3)))
    }
    assert(java.util.Arrays.equals(java.nio.file.Files.readAllBytes(old), bytes))
    assert(ZoneMap.headerGeneration(t).contains(g + 1))
    // a reader holding version g in its cache lists g + 1, a name it has
    // never cached, and reads the new content
    assert(ZoneMap.read(t).files == cached.files.take(3))
  }

  test("SearchIndex.add publishes write-once, doclen included") {
    val spark2 = spark
    import spark2.implicits._
    val idx = tmpDir("graft_wo_search")
    val docs = (1 to 60).map(i => (i.toLong, s"doc $i about t${i % 7}")).toDF("doc_id", "text")
    graft.operators.SearchIndex.build(docs.filter($"doc_id" <= 40), "doc_id", "text", idx,
      numFiles = 2)
    assertWriteOnce(Seq(idx)) {
      graft.operators.SearchIndex.add(spark, docs.filter($"doc_id" > 40), "doc_id", "text", idx)
    }
    assert(spark.read.parquet(s"$idx/doclen").count() == 60)
  }

  test("Curate.runAdd publishes write-once, a forced FullRelabel included") {
    val spark2 = spark
    import spark2.implicits._
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.load(spark, sf, "documents")
    val m = docs.agg(org.apache.spark.sql.functions.expr(
      "percentile_approx(doc_id, 0.5)")).collect()(0).getLong(0)
    val b1 = tmpDir("graft_wo_b1"); val b2 = tmpDir("graft_wo_b2")
    docs.filter($"doc_id" <= m).write.parquet(s"$b1/documents.parquet")
    docs.filter($"doc_id" > m).write.parquet(s"$b2/documents.parquet")
    // the relabel is forced on the distributed star-round route, whose
    // changed-label cap then fires on any edge
    val forced = Seq("graft.curate.localBatchRowLimit", "graft.curate.edgeCollectLimit",
      "graft.curate.changedLimit")
    for (relabel <- Seq(false, true)) {
      val out = tmpDir(s"graft_wo_curate_$relabel")
      graft.cli.Curate.run(spark, b1, out, 100L)
      if (relabel) forced.foreach(sys.props(_) = "0")
      // summary.csv keeps its fixed name, replaced by unlink and create
      try assertWriteOnce(Seq(out), replaced = Set("summary.csv")) {
        graft.cli.Curate.runAdd(spark, b2, out, 100L)
      }
      finally forced.foreach(sys.props.remove)
    }
  }
}
