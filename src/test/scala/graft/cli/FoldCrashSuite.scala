package graft.cli

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.SparkTestBase
import graft.layout.{Compactor, ConcurrentCommitException, KeyIndex, StagedRewrite, VersionLog,
  ZoneMap}
import org.apache.spark.sql.functions._
import org.json4s.JString
import org.json4s.jackson.JsonMethods.parse

/** A curation fold commits once: a crash after any of its steps leaves
  * the curation dir reading exactly as before the fold or exactly as
  * after it, and re-running the batch converges to the rebuild. The
  * steps are enumerated through [[StagedRewrite.testHookAtStep]]: each
  * store's stage, the fold-log publish, each store's roll-forward and
  * replaced-file delete, and summary.csv. "Reads" means after
  * [[Curate.recover]], the entry of every fold; a crash before the
  * publish must leave the dir as it was even without it.
  */
class FoldCrashSuite extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private val Stores = Seq("docs", "state/components", "state/postings", "state/docs")

  private def quantiles(qs: Double*): Array[Long] =
    graft.Tables.load(spark, sf, "documents").stat.approxQuantile("doc_id", qs.toArray, 0.0)
      .map(_.toLong)

  /** A batch dir of the documents with ids in (lo, hi]. */
  private def batch(name: String, lo: Long, hi: Long): String = {
    val d = tmpDir(name)
    graft.Tables.load(spark, sf, "documents").filter(col("doc_id") > lo && col("doc_id") <= hi)
      .write.parquet(s"$d/documents.parquet")
    d
  }

  /** base = ids up to the median, b1 = up to the 75th percentile, b2 = the rest. */
  private lazy val (base, b1, b2, want1, want2) = {
    val q = quantiles(0.5, 0.75)
    val base = batch("fc_base", Long.MinValue, q(0))
    val b1 = batch("fc_b1", q(0), q(1))
    val b2 = batch("fc_b2", q(1), Long.MaxValue)
    val upTo1 = batch("fc_upto1", Long.MinValue, q(1))
    def rebuilt(src: String) = {
      val out = tmpDir("fc_want")
      Curate.run(spark, src, out, 100L)
      snap(out)
    }
    (base, b1, b2, rebuilt(upTo1), rebuilt(sf))
  }

  /** What a curation dir reads: corpus rows (dir-level, so a left-over
    * file would show), summary.csv, each store's manifest generation and
    * rows.
    */
  private case class Snap(corpus: Seq[Vector[Any]], summary: Seq[String],
      stores: Map[String, (Option[Long], Long)])

  private def snap(out: String): Snap = Snap(
    spark.read.parquet(s"$out/docs").select("doc_id", "lang", "split", "n_tok")
      .collect().map(_.toSeq.toVector).sortBy(_.head.toString.toLong).toSeq,
    Files.readAllLines(Paths.get(out, "summary.csv")).asScala.toSeq,
    Stores.filter(s => ZoneMap.exists(s"$out/$s")).map { s =>
      val m = ZoneMap.read(s"$out/$s")
      s -> (m.generation, m.totalRows)
    }.toMap)

  private def copyDir(from: String): String = {
    val to = Paths.get(tmpDir("fc_copy"))
    val src = Paths.get(from)
    Files.walk(src).iterator().asScala.foreach { p =>
      val dst = to.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    }
    to.toString
  }

  private def withHook[T](hook: String => Unit)(body: => T): T = {
    StagedRewrite.testHookAtStep = hook
    try body finally StagedRewrite.testHookAtStep = _ => ()
  }

  private def fold(out: String, batch: String): Unit = {
    Curate.runAdd(spark, batch, out, 100L)
    graft.runner.Materialize.releaseAll()
  }

  /** state/docs' `__h` index as its manifest lists it: every listed part
    * exists, and a lookup of each probed hash (the lowest, middle and
    * highest doc_id's) returns every file that holds it.
    */
  private def indexCovers(out: String, when: String): Unit = {
    val d = s"$out/state/docs"
    val m = ZoneMap.read(d)
    val ix = m.indexes(KeyIndex.indexName(Seq("__h")))
    assert((ix.parts ++ ix.unions).forall(p => new java.io.File(new java.net.URI(p)).exists),
      s"$when: a listed part is missing")
    val held = StagedRewrite.readFiles(spark, d, m.files.map(_.path), partitioned = false)
      .filter(col("__h").isNotNull)
      .select(col("doc_id"), xxhash64(col("__h")), input_file_name()).collect()
      .sortBy(_.getLong(0))
    for (r <- Seq(held.head, held(held.length / 2), held.last)) {
      val truth = held.filter(_.getLong(1) == r.getLong(1)).map(x => KeyIndex.norm(x.getString(2))).toSet
      val got = KeyIndex.affectedPaths(spark, d, Seq(r.getLong(1)), m, Seq("__h")).get
      assert(truth.subsetOf(got), s"$when: the __h index misses ${truth -- got}")
    }
  }

  private def stages(out: String): Seq[String] =
    Option(new java.io.File(s"$out/state/_fold_stage").list()).toSeq.flatten

  private val routes = Seq(
    "CompDelta" -> Nil,
    // the distributed star-round route with no room for changed labels
    "FullRelabel" -> Seq("graft.curate.localBatchRowLimit" -> "0",
      "graft.curate.edgeCollectLimit" -> "0", "graft.curate.changedLimit" -> "0"))

  for ((route, props) <- routes; postings <- Seq(false, true))
    test(s"a crash after any fold step reads pre- or post-fold and converges ($route, postings=$postings)") {
      props.foreach { case (k, v) => sys.props(k) = v }
      try {
        val template = tmpDir(s"fc_template")
        Curate.run(spark, base, template, 100L, forcePostings = postings)
        val pre = snap(template)
        // the steps, in order, from an uncrashed fold
        val steps = scala.collection.mutable.ArrayBuffer.empty[String]
        val clean = copyDir(template)
        withHook(steps += _)(fold(clean, b1))
        val post = snap(clean)
        assert(post.corpus == want1.corpus && post.summary == want1.summary)
        // staged in label order (the mapping first), rolled in store order
        val staged = Seq("state/components", "docs", "state/postings", "state/docs")
          .filter(pre.stores.contains)
        assert(steps == staged.map(s => s"staged $s") ++ Seq("published") ++
          Stores.filter(pre.stores.contains).flatMap(s => Seq(s"rolled $s", s"cleaned $s")) ++
          Seq("summary"), steps.mkString(", "))
        assert(post.stores.keySet == pre.stores.keySet)
        // the route really ran: a full relabel replaces every mapping
        // file, this batch's keyed delta changes no stored label
        val log = Paths.get(clean, "state", "_fold_log")
        val version = parse(Files.readString(VersionLog.file(log,
          VersionLog.latest(log, ".json").get, ".json")))
        val comps = (version \ "stores").children
          .find(st => (st \ "store") == JString("state/components")).get
        assert((comps \ "removed").children.length == (if (route == "FullRelabel")
          ZoneMap.read(s"$template/state/components").files.length else 0), route)

        for (step <- steps) {
          val out = copyDir(template)
          intercept[IllegalStateException](withHook { s =>
            if (s == step) throw new IllegalStateException(s"simulated crash after $s")
          }(fold(out, b1)))
          graft.runner.Materialize.releaseAll()
          val published = steps.indexOf(step) >= steps.indexOf("published")
          if (!published) assert(snap(out) == pre, s"after $step, before recovery")
          indexCovers(out, s"after $step, before recovery")
          Curate.recover(spark, out)
          assert(snap(out) == (if (published) post else pre), s"after $step")
          indexCovers(out, s"after $step")
          // a published fold's stage goes with its roll-forward; an
          // unpublished one's once the log moves past its version
          assert(stages(out).length == (if (published) 0 else 1), s"after $step")
          // re-running the batch converges to the rebuild
          fold(out, b1)
          val rerun = snap(out)
          assert(rerun.corpus == want1.corpus && rerun.summary == want1.summary,
            s"re-run after $step")
          assert(stages(out).isEmpty, s"after $step: a stage survived the re-run")
          if (step == "published") {
            // another batch folded right after a crash is not refused
            val other = copyDir(template)
            intercept[IllegalStateException](withHook { s =>
              if (s == step) throw new IllegalStateException(s"simulated crash after $s")
            }(fold(other, b1)))
            fold(other, b2)
            val got = snap(other)
            assert(got.corpus == want2.corpus && got.summary == want2.summary)
          }
        }
      } finally props.foreach { case (k, _) => sys.props.remove(k) }
    }

  test("a compaction between the fold-log publish and the roll-forward loses no row") {
    // the forced full relabel replaces every mapping file
    val props = routes.toMap.apply("FullRelabel")
    props.foreach { case (k, v) => sys.props(k) = v }
    try {
      val template = tmpDir("fc_compact")
      Curate.run(spark, base, template, 100L)
      val clean = copyDir(template)
      fold(clean, b1)
      val post = snap(clean)
      val out = copyDir(template)
      intercept[IllegalStateException](withHook { s =>
        if (s == "published") throw new IllegalStateException("simulated crash")
      }(fold(out, b1)))
      graft.runner.Materialize.releaseAll()
      // a compaction from outside the fold log is refused before it
      // writes anything: it could rewrite the files the published fold
      // replaces, which then could never roll forward
      val crashed = snap(out)
      for (store <- Stores) {
        val e = intercept[IllegalArgumentException](Compactor.compact(spark, s"$out/$store"))
        assert(e.getMessage.contains("through the fold log"), e.getMessage)
        intercept[IllegalArgumentException](Compactor.compactWhere(spark, s"$out/$store", Nil))
      }
      assert(snap(out) == crashed)
      Curate.recover(spark, out)
      assert(snap(out) == post)
      fold(out, b2)
      val got = snap(out)
      assert(got.corpus == want2.corpus && got.summary == want2.summary)
    } finally props.foreach { case (k, _) => sys.props.remove(k) }
  }

  test("a compaction outside the fold log in the commit window aborts the fold, retryably") {
    // the forced full relabel replaces every mapping file
    val props = routes.toMap.apply("FullRelabel")
    props.foreach { case (k, v) => sys.props(k) = v }
    try {
      val out = tmpDir("fc_window")
      Curate.run(spark, base, out, 100L)
      val pre = snap(out)
      val log = Paths.get(out, "state", "_fold_log")
      val v0 = VersionLog.latest(log, ".json").get
      // a compaction committed straight through the commit path (the
      // compaction entry points refuse a curation store)
      val comps = s"$out/state/components"
      val e = withHook { s =>
        if (s == "staged state/docs") StagedRewrite.commit(spark, Compactor.stage(spark, comps,
          Compactor.DefaultTargetFileBytes, StagedRewrite.stagingDir(comps, "compact")))
      }(intercept[ConcurrentCommitException](fold(out, b1)))
      assert(e.getMessage.contains("state/components was rewritten"), e.getMessage)
      assert(VersionLog.latest(log, ".json").contains(v0))
      // nothing visible moved but the compaction's own rewrite
      val got = snap(out)
      assert(got.corpus == pre.corpus && got.summary == pre.summary)
      assert(got.stores.map { case (st, (_, rows)) => st -> rows } ==
        pre.stores.map { case (st, (_, rows)) => st -> rows })
      assert(stages(out).isEmpty)
      fold(out, b1)
      val rerun = snap(out)
      assert(rerun.corpus == want1.corpus && rerun.summary == want1.summary)
    } finally props.foreach { case (k, _) => sys.props.remove(k) }
  }

  test("store compactions commit through the fold log: a compaction and a fold never both publish") {
    // base, then b1 in three folds: every append store holds four files
    val q = quantiles(0.5, 7.0 / 12, 8.0 / 12, 0.75)
    val template = tmpDir("fc_logc")
    Curate.run(spark, base, template, 100L, forcePostings = true)
    q.sliding(2).zipWithIndex.foreach { case (Array(lo, hi), i) =>
      fold(template, batch(s"fc_b1_$i", lo, hi))
    }
    assert(ZoneMap.read(s"$template/state/docs").files.length == 4)
    val log = Paths.get(template, "state", "_fold_log")
    val v = VersionLog.latest(log, ".json").get
    // a compaction staged against version v, due once the floor allows
    def compact(out: String): Unit = {
      sys.props("graft.curate.compactFloor") = "4"
      try Curate.compactStores(spark, out, v,
        Files.readAllLines(Paths.get(out, "summary.csv")).asScala.toSeq)
      finally sys.props.remove("graft.curate.compactFloor")
    }

    // the fold publishes first: the compaction is dropped
    val late = copyDir(template)
    withHook(s => if (s == "published") compact(late))(fold(late, b2))
    assert(VersionLog.latest(Paths.get(late, "state", "_fold_log"), ".json").contains(v + 1))
    assert(ZoneMap.read(s"$late/state/docs").files.length == 5, "the compaction must not land")
    val got = snap(late)
    assert(got.corpus == want2.corpus && got.summary == want2.summary)
    assert(stages(late).isEmpty)

    // the compaction publishes first: the fold aborts, and its re-run
    // converges on the compacted stores
    val early = copyDir(template)
    intercept[ConcurrentCommitException](withHook { s =>
      if (s == "staged state/docs") compact(early)
    }(fold(early, b2)))
    assert(VersionLog.latest(Paths.get(early, "state", "_fold_log"), ".json").contains(v + 1))
    assert(ZoneMap.read(s"$early/state/docs").files.length == 1)
    val compacted = snap(early)
    assert(compacted.corpus == want1.corpus && compacted.summary == want1.summary)
    assert(stages(early).isEmpty)
    fold(early, b2)
    val rerun = snap(early)
    assert(rerun.corpus == want2.corpus && rerun.summary == want2.summary)
  }

  test("a curation dir without a fold log is refused, the corpus untouched") {
    val out = tmpDir("fc_legacy")
    Curate.run(spark, base, out, 100L)
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(s"$out/state/_fold_log"))
    val before = snap(out)
    val e = intercept[IllegalStateException](fold(out, b1))
    assert(e.getMessage.contains("no fold log") && e.getMessage.contains("rebuild"), e.getMessage)
    assert(snap(out) == before)
  }

  test("two folds racing for one fold-log version: exactly one publishes") {
    val out = tmpDir("fc_race")
    Curate.run(spark, base, out, 100L, forcePostings = true)
    val log = Paths.get(out, "state", "_fold_log")
    val v0 = VersionLog.latest(log, ".json").get
    // b2's fold stages everything; b1's fold runs whole inside its
    // commit window, then b2's publish finds the log moved
    var inner = false
    val e = withHook { s =>
      if (s == "staged state/docs" && !inner) { inner = true; fold(out, b1) }
    }(intercept[ConcurrentCommitException](fold(out, b2)))
    assert(inner && e.getMessage.contains("concurrent fold"))
    assert(VersionLog.latest(log, ".json").contains(v0 + 1))
    val won = new String(Files.readAllBytes(
      VersionLog.file(log, v0 + 1, ".json")))
    assert(won.contains(Paths.get(b1).toAbsolutePath.normalize.toString), "b1's fold must win")
    // the loser left no visible file: the dir reads as b1's fold alone,
    // every store's part files are exactly its manifest's, no stage
    val got = snap(out)
    assert(got.corpus == want1.corpus && got.summary == want1.summary)
    Stores.foreach { s =>
      val onDisk = Files.walk(Paths.get(out, s)).iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("part-") &&
          !p.toString.contains("/_") && !p.toString.contains("/."))
        .map(_.toString).toSet
      assert(onDisk == ZoneMap.read(s"$out/$s").files
        .map(f => new java.net.URI(f.path).getPath).toSet, s"$s holds unlisted files")
    }
    assert(stages(out).isEmpty)
    // the loser's re-run converges
    fold(out, b2)
    assert(snap(out).corpus == want2.corpus)
  }
}
