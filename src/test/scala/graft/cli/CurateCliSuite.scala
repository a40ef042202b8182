package graft.cli

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class CurateCliSuite extends SparkTestBase {

  /** Runs `body` with the fold's step seam throwing at `step`. */
  private def crashAt[T](step: String)(body: => T): Unit = {
    graft.layout.StagedRewrite.testHookAtStep = s =>
      if (s == step) throw new IllegalStateException(s"simulated crash after $s")
    try intercept[IllegalStateException](body)
    finally graft.layout.StagedRewrite.testHookAtStep = _ => ()
  }

  test("Curate writes a split-partitioned corpus matching the q72 rollup") {
    val out = tmpDir("curate_out")
    Curate.run(spark, "/root/testdata/sf0.001", out, 100L)

    val docs = spark.read.parquet(s"$out/docs")
    assert(docs.columns.toSet ==
      Set("doc_id", "text", "lang", "source", "n_chars", "n_tok", "split"))
    // every retained doc passed the quality gate, exactly once
    assert(docs.filter(col("n_chars") < 100).count() == 0)
    assert(docs.select("doc_id").distinct().count() == docs.count())

    // the written corpus rolls up to exactly the q72 gate result
    val rollup = docs.groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("total_tokens"))
      .orderBy(col("split"), col("lang"))
      .collect().map(_.toSeq).toSeq
    val q72 = graft.SparkEntry.queries("q72_curation_pipeline")(
      spark, "/root/testdata/sf0.001")
      .collect().map(_.toSeq).toSeq
    graft.runner.Materialize.releaseAll()
    assert(rollup == q72)

    // summary CSV mirrors the rollup
    val csv = scala.io.Source.fromFile(s"$out/summary.csv").getLines().toSeq
    assert(csv.head == "split,lang,n_docs,total_tokens")
    assert(csv.length == rollup.length + 1)
  }

  test("pack budget appends per-split sequence ids matching the windowed cumsum") {
    val out = tmpDir("curate_packed")
    Curate.run(spark, "/root/testdata/sf0.001", out, 100L, packBudget = Some(512L))
    val docs = spark.read.parquet(s"$out/docs")
    assert(docs.columns.contains("seq_id"))
    import org.apache.spark.sql.expressions.Window
    // per split: seq_id == floor(running-tokens-before / budget) in
    // doc_id order, and sequences never cross splits
    val ref = docs.withColumn("before",
      coalesce(sum(col("n_tok")).over(
        Window.partitionBy(col("split")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("seq_ref", floor(col("before") / 512L))
    assert(ref.filter(col("seq_id") =!= col("seq_ref")).count() == 0)
    // every split restarts its packing at sequence 0
    val starts = docs.groupBy(col("split")).agg(min(col("seq_id")).as("lo")).collect()
    assert(starts.nonEmpty && starts.forall(_.getAs[Long]("lo") == 0L))
  }

  test("add mode grows the corpus to exactly the full-build output") {
    val sf = "/root/testdata/sf0.001"
    val outFull = tmpDir("curate_full")
    Curate.run(spark, sf, outFull, 100L)

    // split the source into two "arrival batches" by doc_id
    val docs = graft.Tables.load(spark, sf, "documents")
    val m = docs.agg(expr("percentile_approx(doc_id, 0.5)")).collect()(0).getLong(0)
    val b1 = tmpDir("curate_b1"); val b2 = tmpDir("curate_b2")
    docs.filter(col("doc_id") <= m).write.parquet(s"$b1/documents.parquet")
    docs.filter(col("doc_id") > m).write.parquet(s"$b2/documents.parquet")

    val outInc = tmpDir("curate_inc")
    Curate.run(spark, b1, outInc, 100L)
    Curate.runAdd(spark, b2, outInc, 100L)

    def corpus(dir: String) = spark.read.parquet(s"$dir/docs")
      .select("doc_id", "lang", "split", "n_tok")
      .collect().map(_.toSeq.toVector).sortBy(_.head.toString.toLong).toSeq
    assert(corpus(outInc) == corpus(outFull))
    // state survives for the NEXT batch: append-only doc+signature
    // store plus the small components file
    assert(spark.read.parquet(s"$outInc/state/docs").columns.contains("sh"))
    val comps = spark.read.parquet(s"$outInc/state/components")
    assert(comps.columns.sorted.toSeq == Seq("component", "doc_id"))
    assert(comps.count() == spark.read.parquet(s"$outInc/state/docs").count())
  }

  test("add mode keeps packing when the full build set a budget") {
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.load(spark, sf, "documents")
    val m = docs.agg(expr("percentile_approx(doc_id, 0.5)")).collect()(0).getLong(0)
    val b1 = tmpDir("curate_pb1"); val b2 = tmpDir("curate_pb2")
    docs.filter(col("doc_id") <= m).write.parquet(s"$b1/documents.parquet")
    docs.filter(col("doc_id") > m).write.parquet(s"$b2/documents.parquet")

    val outFull = tmpDir("curate_pfull")
    Curate.run(spark, sf, outFull, 100L, packBudget = Some(512L))
    val outInc = tmpDir("curate_pinc")
    Curate.run(spark, b1, outInc, 100L, packBudget = Some(512L))
    // runAdd takes no budget argument — it must pick up the stored one
    Curate.runAdd(spark, b2, outInc, 100L)

    def corpus(dir: String) = spark.read.parquet(s"$dir/docs")
      .select("doc_id", "lang", "split", "n_tok", "seq_id")
      .collect().map(_.toSeq.toVector).sortBy(_.head.toString.toLong).toSeq
    assert(corpus(outInc) == corpus(outFull))
  }

  test("folds read corpus band rows from zone-pruned postings files") {
    // round-11 VERDICT "Next #5": the full build persists bh-sorted
    // band-row postings with zone manifests; a fold's touched buckets
    // become a file-prune. Pin (a) the prune is real and sound at fine
    // file granularity, (b) a fold over multi-file postings still equals
    // the full build.
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.load(spark, sf, "documents")
    val m = docs.agg(expr("percentile_approx(doc_id, 0.5)")).collect()(0).getLong(0)
    val b1 = tmpDir("curate_pb1x"); val b2 = tmpDir("curate_pb2x")
    docs.filter(col("doc_id") <= m).write.parquet(s"$b1/documents.parquet")
    docs.filter(col("doc_id") > m).write.parquet(s"$b2/documents.parquet")

    val outFull = tmpDir("curate_pfullx")
    Curate.run(spark, sf, outFull, 100L)
    val outInc = tmpDir("curate_pincx")
    Curate.run(spark, b1, outInc, 100L, forcePostings = true)

    val postDir = s"$outInc/state/postings"
    assert(graft.layout.ZoneMap.exists(postDir), "full build must write postings")
    // rewrite the postings at fine granularity (16 files) so a prune is
    // observable on this tiny corpus, exactly as a 100 TB store has far
    // more files than a micro-batch touches buckets. (Materialize via
    // collect — Spark refuses to overwrite a path it is reading.)
    val df0 = spark.read.parquet(postDir)
    val postRows = spark.createDataFrame(
      java.util.Arrays.asList(df0.collect(): _*), df0.schema)
    graft.layout.LayoutWriter.write(postRows, postDir,
      graft.layout.LayoutWriter.LayoutSpec("linear", Seq("bh"),
        numFiles = Some(16), recordKey = Some("doc_id")))
    // one bucket's key must prune to a file subset AND keep all its rows
    val one = postRows.select(col("bh")).limit(1).collect()(0).getLong(0)
    val scan = graft.table.SfcTable.open(spark, postDir,
      Some(graft.queries.IncrementalCuration.PostingsSchema)).filter(col("bh") === one)
    val view = graft.table.SfcTable.pruned(scan).get
    assert(view.filesTotal >= 15, s"expected ~16 postings files, got ${view.filesTotal}")
    assert(view.kept.length < view.filesTotal,
      s"bucket key must prune files (${view.kept.length}/${view.filesTotal})")
    val expected = postRows.filter(col("bh") === one).count()
    assert(scan.count() == expected,
      "pruned read must keep every row of the touched bucket")

    // the fold over the multi-file postings still matches the rebuild
    Curate.runAdd(spark, b2, outInc, 100L)
    def corpus(dir: String) = spark.read.parquet(s"$dir/docs")
      .select("doc_id", "lang", "split", "n_tok")
      .collect().map(_.toSeq.toVector).sortBy(_.head.toString.toLong).toSeq
    assert(corpus(outInc) == corpus(outFull))
  }

  test("a crash between postings append and docs append retries without duplicate band rows") {
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.load(spark, sf, "documents")
    val m = docs.agg(expr("percentile_approx(doc_id, 0.5)")).collect()(0).getLong(0)
    val b1 = tmpDir("curate_crb1"); val b2 = tmpDir("curate_crb2")
    docs.filter(col("doc_id") <= m).write.parquet(s"$b1/documents.parquet")
    docs.filter(col("doc_id") > m).write.parquet(s"$b2/documents.parquet")

    val outFull = tmpDir("curate_crfull")
    Curate.run(spark, sf, outFull, 100L)
    val outInc = tmpDir("curate_crinc")
    Curate.run(spark, b1, outInc, 100L, forcePostings = true)

    // the fold dies with its postings rolled forward and its docs not
    crashAt("rolled state/postings")(Curate.runAdd(spark, b2, outInc, 100L))
    graft.runner.Materialize.releaseAll()
    Curate.runAdd(spark, b2, outInc, 100L)
    graft.runner.Materialize.releaseAll()
    // no (fam, doc_id, band) appears twice in the postings store
    val dups = spark.read.parquet(s"$outInc/state/postings")
      .groupBy(col("fam"), col("doc_id"), col("band")).count()
      .filter(col("count") > 1).count()
    assert(dups == 0, "postings store has duplicate band rows after crash-retry")
    def corpus(dir: String) = spark.read.parquet(s"$dir/docs")
      .select("doc_id", "lang", "split", "n_tok")
      .collect().map(_.toSeq.toVector).sortBy(_.head.toString.toLong).toSeq
    assert(corpus(outInc) == corpus(outFull))
  }

  test("a distributed-route retry does not count the crashed fold's postings as corpus rows") {
    // A fold that crashes before its commit leaves the postings store as
    // it was, so the re-run's corpus rows hold none of the batch.
    // A synthetic family of 40 state docs (ids 1-40) and 40 batch docs
    // (ids 101-140). Every text starts with the same three words, whose
    // shingle hashes undercut every other shingle of the family, so it
    // is each doc's MinHash band-0 minimum: one bucket of 80 docs, over
    // DegenerateBucketCap. Such a bucket keeps all pairs among its 64
    // smallest ids and stars the rest from its root (id 1). Batch doc
    // 120 shares 30 leading body words with state doc 10 (Jaccard 0.61,
    // SimHash far, no other shared band), so their one candidate pair
    // comes from the head. A retry that read the crashed fold's postings
    // rows for the batch as corpus rows would count ids 101-112 twice,
    // push 120 into the tail, pair it only with the root (Jaccard 0.01)
    // and keep it as its own cluster.
    val anchor = "near dup k1728264"
    def body(d: Int): Seq[String] =
      if (d == 120) (0 until 30).map(k => s"t10w$k") ++ (30 until 40).map(k => s"t120w$k")
      else (0 until 40).map(k => s"t${d}w$k")
    import spark.implicits._
    def write(ids: Seq[Int]): String = {
      val d = tmpDir("curate_lo")
      ids.map { i =>
        val text = (anchor +: body(i)).mkString(" ")
        (i.toLong, text, "en", "syn", text.length.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$d/documents.parquet")
      d
    }
    val (state, batch) = (1 to 40, 101 to 140)
    val b1 = write(state); val b2 = write(batch)
    val outFull = tmpDir("curate_lofull")
    Curate.run(spark, write(state ++ batch), outFull, 100L)
    def corpus(dir: String) = spark.read.parquet(s"$dir/docs")
      .select("doc_id", "lang", "split", "n_tok")
      .collect().map(_.toSeq.toVector).sortBy(_.head.toString.toLong).toSeq
    val want = corpus(outFull)
    assert(!want.exists(_.head == 120L), "the rebuild must merge doc 120 into doc 10")

    val outInc = tmpDir("curate_loinc")
    Curate.run(spark, b1, outInc, 100L, forcePostings = true)
    val postDir = s"$outInc/state/postings"
    def postings() = spark.read.parquet(postDir)
      .collect().map(_.toSeq.toVector).toSeq.sortBy(_.toString)
    val before = (graft.layout.ZoneMap.read(postDir).generation, postings())
    def maxBucket() = spark.read.parquet(postDir)
      .filter(col("fam") === 1).groupBy(col("band"), col("bucket")).count()
      .agg(max(col("count"))).head().getLong(0)
    sys.props("graft.curate.localBatchRowLimit") = "0"
    try {
      // the fold dies with every store staged, before its commit
      crashAt("staged state/docs")(Curate.runAdd(spark, b2, outInc, 100L))
      graft.runner.Materialize.releaseAll()
      assert((graft.layout.ZoneMap.read(postDir).generation, postings()) == before,
        "the crashed fold must leave state/postings unchanged")
      Curate.runAdd(spark, b2, outInc, 100L)
      graft.runner.Materialize.releaseAll()
    } finally sys.props.remove("graft.curate.localBatchRowLimit")
    assert(maxBucket() > graft.queries.DedupQueries.DegenerateBucketCap,
      s"the folded store must hold an over-cap bucket (max ${maxBucket()})")
    assert(corpus(outInc) == want)
  }

  test("a fold that crashes after the corpus delta retries without duplicating") {
    // round-10 ADVICE (medium): a crash between the corpus delta and the
    // state writes used to leave the corpus ahead of the state, and a
    // retry re-appended the same representative rows. A fold now commits
    // once: this crashes it after its corpus rolled forward and before
    // any state store did, then folds another batch, which finishes the
    // crashed fold first, and re-runs the crashed batch, a no-op.
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.load(spark, sf, "documents")
    val m = docs.agg(expr("percentile_approx(doc_id, 0.5)")).collect()(0).getLong(0)
    val b1 = tmpDir("curate_rb1"); val b2 = tmpDir("curate_rb2")
    docs.filter(col("doc_id") <= m).write.parquet(s"$b1/documents.parquet")
    docs.filter(col("doc_id") > m).write.parquet(s"$b2/documents.parquet")

    val outFull = tmpDir("curate_rfull")
    Curate.run(spark, sf, outFull, 100L)
    val outInc = tmpDir("curate_rinc")
    Curate.run(spark, b1, outInc, 100L)

    val stateGen = graft.layout.ZoneMap.read(s"$outInc/state/docs").generation
    crashAt("rolled docs")(Curate.runAdd(spark, b2, outInc, 100L))
    graft.runner.Materialize.releaseAll()
    // the crash window is real: the fold is published, its stage is
    // still there, and state/docs has not rolled forward
    val stage = new java.io.File(s"$outInc/state/_fold_stage")
    assert(stage.list().length == 1, "the published fold's stage must survive the crash")
    assert(graft.layout.ZoneMap.read(s"$outInc/state/docs").generation == stateGen)

    // a DIFFERENT batch is accepted: its fold finishes b2's first (b3
    // holds only texts the state already stores, so it adds nothing)
    val b3 = tmpDir("curate_rb3")
    docs.filter(col("doc_id") <= m / 2).write.parquet(s"$b3/documents.parquet")
    Curate.runAdd(spark, b3, outInc, 100L)
    graft.runner.Materialize.releaseAll()
    assert(stage.list().isEmpty, "the finished fold must leave no stage")

    // re-running the crashed batch converges: corpus equals the full
    // build, no duplicate doc_ids
    Curate.runAdd(spark, b2, outInc, 100L)
    def corpus(dir: String) = spark.read.parquet(s"$dir/docs")
      .select("doc_id", "lang", "split", "n_tok")
      .collect().map(_.toSeq.toVector).sortBy(_.head.toString.toLong).toSeq
    val inc = corpus(outInc)
    assert(inc.map(_.head).distinct.length == inc.length,
      "retried fold must not duplicate doc_ids")
    assert(inc == corpus(outFull))
    assert(stage.list().isEmpty)
  }

  test("every guarded fold path produces the rebuild corpus (forced fallback matrix)") {
    // The fold has four label paths: driver-local pairs (default at
    // this scale), the distributed band join with driver CC, the
    // distributed band join with distributed star-round CC, and the
    // FullRelabel whole-store rewrite. Force each via its bound's
    // system property and pin fold == rebuild through all of them, over
    // doc-store-derived band rows AND over a postings store.
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.load(spark, sf, "documents")
    val m = docs.agg(expr("percentile_approx(doc_id, 0.5)")).collect()(0).getLong(0)
    val b1 = tmpDir("curate_fm1"); val b2 = tmpDir("curate_fm2")
    docs.filter(col("doc_id") <= m).write.parquet(s"$b1/documents.parquet")
    docs.filter(col("doc_id") > m).write.parquet(s"$b2/documents.parquet")
    val outFull = tmpDir("curate_fmfull")
    Curate.run(spark, sf, outFull, 100L)
    def corpus(dir: String) = spark.read.parquet(s"$dir/docs")
      .select("doc_id", "lang", "split", "n_tok")
      .collect().map(_.toSeq.toVector).sortBy(_.head.toString.toLong).toSeq
    val want = corpus(outFull)
    // the local route's changed-label cap fires only when a fold changes
    // stored labels, which a batch of higher ids does only by bridging
    // two stored components: each W_i holds the words of A_i and of B_i
    // (Jaccard ~0.7 with each), while A_i and B_i share too few (~0.4)
    // to be near-dups, so folding W_i onto a build holding A_i and B_i
    // relabels B_i
    val top = docs.agg(max(col("doc_id"))).head().getLong(0)
    def bridge(rows: Seq[(Long, Int, Int, Int)]) = {
      val spark2 = spark
      import spark2.implicits._
      rows.map { case (id, i, from, to) =>
        val text = (from to to).map(j => s"bridge${i}w$j").mkString(" ")
        (id, text, "en", "bridge", text.length.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
    }
    val ab = bridge((0 until 5).flatMap(i =>
      Seq((top + 1 + 2 * i, i, 1, 36), (top + 2 + 2 * i, i, 15, 50))))
    val w = bridge((0 until 5).map(i => (top + 11 + i, i, 1, 50)))
    val bAB = tmpDir("curate_fmab"); val bW = tmpDir("curate_fmw")
    val bAll = tmpDir("curate_fmbridged")
    docs.unionByName(ab).write.parquet(s"$bAB/documents.parquet")
    w.write.parquet(s"$bW/documents.parquet")
    docs.unionByName(ab).unionByName(w).write.parquet(s"$bAll/documents.parquet")
    val outBridged = tmpDir("curate_fmfull_bridged")
    Curate.run(spark, bAll, outBridged, 100L)
    val wantBridged = corpus(outBridged)

    val paths = Seq(
      "distributed+localCC" -> Seq("graft.curate.localBatchRowLimit" -> "0"),
      "distributed+starCC" -> Seq(
        "graft.curate.localBatchRowLimit" -> "0",
        "graft.curate.edgeCollectLimit" -> "0"),
      "fullRelabel" -> Seq(
        "graft.curate.localBatchRowLimit" -> "0",
        "graft.curate.edgeCollectLimit" -> "0",
        "graft.curate.changedLimit" -> "0"),
      "fullRelabel+local" -> Seq("graft.curate.changedLimit" -> "0"))
    for ((name, props) <- paths; postings <- Seq(false, true)) {
      props.foreach { case (k, v) => sys.props(k) = v }
      try {
        val outInc = tmpDir(s"curate_fm_${name}_$postings")
        val (built, folded, expected) =
          if (name == "fullRelabel+local") (bAB, bW, wantBridged) else (b1, b2, want)
        Curate.run(spark, built, outInc, 100L, forcePostings = postings)
        assert(graft.layout.ZoneMap.exists(s"$outInc/state/postings") == postings)
        val mapping = graft.layout.ZoneMap.read(s"$outInc/state/components").files.length
        Curate.runAdd(spark, folded, outInc, 100L)
        assert(corpus(outInc) == expected,
          s"fold != rebuild via path $name (postings=$postings)")
        if (name.startsWith("fullRelabel")) {
          // the route really ran: its fold-log version replaces every
          // mapping file
          val log = java.nio.file.Paths.get(outInc, "state", "_fold_log")
          val version = org.json4s.jackson.JsonMethods.parse(java.nio.file.Files.readString(
            graft.layout.VersionLog.file(log, graft.layout.VersionLog.latest(log, ".json").get,
              ".json")))
          val comps = (version \ "stores").children
            .find(st => (st \ "store") == org.json4s.JString("state/components")).get
          assert((comps \ "removed").children.length == mapping, s"$name (postings=$postings)")
        }
      } finally props.foreach { case (k, _) => sys.props.remove(k) }
    }
  }

  test("state/docs is zone-mapped; a manifest-less state/docs is refused") {
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.load(spark, sf, "documents")
    val m = docs.agg(expr("percentile_approx(doc_id, 0.5)")).collect()(0).getLong(0)
    val b1 = tmpDir("curate_zb1"); val b2 = tmpDir("curate_zb2")
    docs.filter(col("doc_id") <= m).write.parquet(s"$b1/documents.parquet")
    docs.filter(col("doc_id") > m).write.parquet(s"$b2/documents.parquet")

    val outNew = tmpDir("curate_zoned")
    Curate.run(spark, b1, outNew, 100L)
    val sd = s"$outNew/state/docs"
    // round-15 state format: doc_id zone manifest + __h bloom sidecar
    // (the two soak-measured O(state) fold lookups become file-scoped)
    assert(graft.layout.ZoneMap.exists(sd), "state/docs must carry a zone manifest")
    val hIdx = graft.layout.KeyIndex.indexName(Seq("__h"))
    assert(graft.layout.KeyIndex.exists(sd, hIdx), "state/docs must carry the __h bloom sidecar")

    // legacy twin: an IDENTICAL full build with the state/docs manifest
    // + sidecars stripped -> the pre-r15 on-disk shape, which no current
    // build writes: runAdd refuses it and leaves the corpus untouched
    val outOld = tmpDir("curate_legacy")
    Curate.run(spark, b1, outOld, 100L)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
    }
    rm(new java.io.File(s"$outOld/state/docs", graft.layout.ZoneMap.LogDir))
    new java.io.File(s"$outOld/state/docs").listFiles
      .filter(_.getName.startsWith(graft.layout.KeyIndex.DirName)).foreach(rm)
    assert(!graft.layout.ZoneMap.exists(s"$outOld/state/docs"))
    def corpus(dir: String) = spark.read.parquet(s"$dir/docs")
      .select("doc_id", "lang", "split", "n_tok")
      .collect().map(_.toSeq.toVector).sortBy(_.head.toString.toLong).toSeq
    val oldCorpus = corpus(outOld)
    val ex = intercept[IllegalArgumentException](Curate.runAdd(spark, b2, outOld, 100L))
    assert(ex.getMessage.contains("state/docs has no zone manifest"), ex.getMessage)
    assert(corpus(outOld) == oldCorpus, "a refused fold must leave the corpus untouched")

    // the zoned state's docs append keeps the manifest file-complete
    Curate.runAdd(spark, b2, outNew, 100L)
    val mf = graft.layout.ZoneMap.read(sd)
    val live = new java.io.File(sd).listFiles
      .count(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
    assert(mf.files.length == live,
      s"manifest (${mf.files.length}) out of sync with dir ($live files)")
    // and the sidecar advanced with the append (no torn generation)
    assert(graft.layout.KeyIndex.exists(sd, hIdx))
  }

  test("geometric store compaction fires on multi-fold append debt, folds stay exact") {
    // round-15: folds append one file per store per batch; the postings/
    // docs/components stores must re-compact once the debt exceeds the
    // trigger and folds must remain rebuild-identical through it. The
    // compactFloor hook stands in for 16 folds of setup.
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.load(spark, sf, "documents")
    val qs = docs.stat.approxQuantile("doc_id",
      Array(0.5, 0.625, 0.75, 0.875), 0.001).map(_.toLong)
    val parts = (Long.MinValue +: qs.toSeq) :+ Long.MaxValue
    val dirs = parts.sliding(2).zipWithIndex.map { case (Seq(lo, hi), i) =>
      val d = tmpDir(s"curate_gc$i")
      docs.filter(col("doc_id") > lo && col("doc_id") <= hi)
        .write.parquet(s"$d/documents.parquet")
      d
    }.toSeq

    val outFull = tmpDir("curate_gcfull")
    Curate.run(spark, sf, outFull, 100L)
    val outInc = tmpDir("curate_gcinc")
    sys.props("graft.curate.compactFloor") = "3"
    try {
      Curate.run(spark, dirs.head, outInc, 100L, forcePostings = true)
      dirs.tail.foreach(d => Curate.runAdd(spark, d, outInc, 100L))
    } finally sys.props.remove("graft.curate.compactFloor")

    def corpus(dir: String) = spark.read.parquet(s"$dir/docs")
      .select("doc_id", "lang", "split", "n_tok")
      .collect().map(_.toSeq.toVector).sortBy(_.head.toString.toLong).toSeq
    assert(corpus(outInc) == corpus(outFull), "folds through compactions != rebuild")
    // compaction actually fired: 4 folds of append debt cannot remain
    // (floor 3) and every store is back under it with tight manifests
    for (store <- Seq("state/docs", "state/postings", "state/components")) {
      val m = graft.layout.ZoneMap.read(s"$outInc/$store")
      assert(m.files.length <= 4,
        s"$store holds ${m.files.length} files — compaction never fired")
      assert(m.files.forall(f => java.nio.file.Files.exists(java.nio.file.Paths.get(
        new org.apache.hadoop.fs.Path(f.path).toUri.getPath))))
    }
    // the __h bloom sidecar survived the rebuilds and still scopes
    val sd = s"$outInc/state/docs"
    assert(graft.layout.KeyIndex.exists(sd,
      graft.layout.KeyIndex.indexName(Seq("__h"))))
  }
}
