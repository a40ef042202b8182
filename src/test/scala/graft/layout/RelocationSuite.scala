package graft.layout

import graft.SparkTestBase
import graft.layout.LayoutWriter.LayoutSpec
import org.apache.spark.sql.functions._

/** Moved/copied table dirs (round-15): manifests store absolute paths,
  * so before the root stamp a relocated table read stale files and —
  * worse — reconcile purged the new dir's data as orphans, and a keyed
  * table's bloom sidecar silently hid affected files. Rooted manifests
  * now rebase on read; rooted sidecars fail-safe and self-heal; a
  * root-less manifest is refused on read, so nothing reconciles it.
  */
class RelocationSuite extends SparkTestBase {

  private def move(src: String, dst: String): Unit =
    java.nio.file.Files.move(
      java.nio.file.Paths.get(src), java.nio.file.Paths.get(dst))

  test("moved zoned table: read rebases, prune works, reconcile deletes nothing") {
    val spark2 = spark
    import spark2.implicits._
    val base = tmpDir("reloc_a")
    val src = s"$base/t"; val dst = s"$base/moved"
    LayoutWriter.write(
      (1 to 30000).map(i => (i.toLong, i % 500)).toDF("id", "x"),
      src, LayoutSpec("linear", Seq("x"), numFiles = Some(8)))
    move(src, dst)

    val m = ZoneMap.read(dst)
    assert(m.root.contains(ZoneMap.canonical(dst)))
    assert(m.files.forall(f =>
      ZoneMap.canonical(f.path).startsWith(ZoneMap.canonical(dst) + "/")),
      "entry paths must be rebased onto the new dir")
    val scan = graft.table.SfcTable.open(spark, dst).filter($"x".between(10, 20))
    val view = graft.table.SfcTable.pruned(scan).get
    assert(view.kept.length < view.filesTotal, "zones must still prune")
    // pruning is file-level: kept files + the row predicate must equal
    // the full scan's filtered result
    assert(scan.count() ==
      spark.read.parquet(dst).filter($"x".between(10, 20)).count())

    val before = new java.io.File(dst).listFiles
      .count(_.getName.endsWith(".parquet"))
    StagedRewrite.reconcile(spark, dst, m)
    val after = new java.io.File(dst).listFiles
      .count(_.getName.endsWith(".parquet"))
    assert(after == before, s"reconcile deleted ${before - after} data files")
    assert(spark.read.parquet(dst).count() == 30000)
  }

  test("moved keyed table: the key index moves with the manifest, upsert stays correct") {
    val spark2 = spark
    import spark2.implicits._
    val base = tmpDir("reloc_b")
    val src = s"$base/t"; val dst = s"$base/moved"
    // layout orthogonal to the key so correctness DEPENDS on the
    // affected-file resolution (zones keep everything here)
    val rnd = new scala.util.Random(5)
    LayoutWriter.write(
      (1 to 20000).map(k => (k.toLong, rnd.nextDouble() * 100, s"v$k", 1L))
        .toDF("k", "a", "payload", "version"),
      src, LayoutSpec("linear", Seq("a"), numFiles = Some(8),
        recordKey = Some("k"), precombineCol = Some("version")))
    KeyIndex.build(spark, src)
    move(src, dst)

    // the index's parts are rebased with the manifest and its rows hold
    // table-relative paths: a key resolves to the moved file holding it
    val m = ZoneMap.read(dst)
    assert(m.indexes(KeyIndex.DirName).parts.forall(_.startsWith(ZoneMap.canonical(dst) + "/")))
    def hashOf(k: Long) = spark.range(1).select(xxhash64(lit(k))).head().getLong(0)
    val holder = spark.read.parquet(dst).filter($"k" === 42L)
      .select(input_file_name()).as[String].head()
    assert(KeyIndex.affectedPaths(spark, dst, Seq(hashOf(42L)), m, Nil).get
      .contains(KeyIndex.norm(holder)), "a moved table's index must still find the key")

    // a keyed upsert is CORRECT and stays bloom-scoped
    val before = m.files.map(_.path).toSet
    val batch = Seq((42L, 0.0, "upd42", 2L), (99999L, 0.0, "new", 1L))
      .toDF("k", "a", "payload", "version")
    graft.table.Upserter.upsert(spark, dst, batch, autoRecluster = false)
    val got = spark.read.parquet(dst)
    assert(got.count() == 20001)
    assert(got.filter($"k" === 42L).select("payload").as[String].head() == "upd42")
    assert(got.filter($"k" === 42L).count() == 1, "no duplicate for the updated key")
    val m2 = ZoneMap.read(dst)
    assert(before.size - m2.files.map(_.path).toSet.intersect(before).size <= 2,
      "the moved index must keep scoping the rewrite")
    assert(m2.indexes(KeyIndex.DirName).parts.forall(p =>
      new java.io.File(new java.net.URI(p)).exists))
  }

  test("legacy root-less manifest moved: the read refuses, the data stays") {
    val spark2 = spark
    import spark2.implicits._
    val base = tmpDir("reloc_c")
    val src = s"$base/t"; val dst = s"$base/moved"
    LayoutWriter.write(
      (1 to 5000).map(i => (i.toLong, i % 7)).toDF("id", "x"),
      src, LayoutSpec("linear", Seq("x"), numFiles = Some(4)))
    // strip the root stamp -> pre-r15 manifest shape
    val mf = ZoneMap.currentVersionFile(src).get
    val json = java.nio.file.Files.readString(mf)
    val stripped = json.replaceAll(""",\s*"root"\s*:\s*"[^"]*"""", "")
    java.nio.file.Files.writeString(mf, stripped)
    move(src, dst)
    val ex = intercept[IllegalStateException](ZoneMap.read(dst))
    assert(ex.getMessage.contains("rebuild the table"), ex.getMessage)
    // every mutation reads the manifest before it reconciles, so none
    // can reach the reconcile that would purge the moved files
    val ex2 = intercept[IllegalStateException](Compactor.compact(spark, dst))
    assert(ex2.getMessage.contains("rebuild the table"), ex2.getMessage)
    assert(spark.read.parquet(dst).count() == 5000, "data must be intact")
  }

  test("moved curated corpus: folds keep working and match the rebuild") {
    // end-to-end: outDir holds FOUR rooted stores (corpus docs + three
    // state stores) plus the __h sidecar; moving the whole tree must
    // leave folding intact (every manifest rebases, the sidecar
    // self-heals) and rebuild-identical.
    val spark2 = spark
    import spark2.implicits._
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.load(spark, sf, "documents")
    val m = docs.agg(org.apache.spark.sql.functions.expr(
      "percentile_approx(doc_id, 0.5)")).collect()(0).getLong(0)
    val base = tmpDir("reloc_corpus")
    val b1 = s"$base/b1"; val b2 = s"$base/b2"
    docs.filter($"doc_id" <= m).write.parquet(s"$b1/documents.parquet")
    docs.filter($"doc_id" > m).write.parquet(s"$b2/documents.parquet")

    val outFull = s"$base/full"
    graft.cli.Curate.run(spark, sf, outFull, 100L)
    val outSrc = s"$base/inc"
    graft.cli.Curate.run(spark, b1, outSrc, 100L)
    val outMoved = s"$base/inc_moved"
    move(outSrc, outMoved)

    graft.cli.Curate.runAdd(spark, b2, outMoved, 100L)
    def corpus(dir: String) = spark.read.parquet(s"$dir/docs")
      .select("doc_id", "lang", "split", "n_tok")
      .collect().map(_.toSeq.toVector).sortBy(_.head.toString.toLong).toSeq
    assert(corpus(outMoved) == corpus(outFull),
      "fold into a moved corpus must equal the rebuild")
    // the fold's writes re-rooted the mutated manifests at the new home
    val mf = ZoneMap.read(s"$outMoved/docs")
    assert(mf.root.contains(ZoneMap.canonical(s"$outMoved/docs")))
  }
}
