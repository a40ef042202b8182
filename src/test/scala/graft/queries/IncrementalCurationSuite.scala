package graft.queries

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class IncrementalCurationSuite extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  private def docs: DataFrame =
    graft.Tables.parallelized(graft.Tables.load(spark, sfDir, "documents"))

  /** Comparable projection: every output column, rows as sorted seqs. */
  private def snapshot(df: DataFrame): Seq[Seq[Any]] =
    df.select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"), col("split"), col("n_tok"))
      .collect().map(_.toSeq.toVector).toSeq.sortBy(_.head.toString.toLong)

  test("full-state corpus equals the from-scratch curate pipeline") {
    val full = snapshot(CurationQueries.curate(docs))
    graft.runner.Materialize.releaseAll()
    val viaState = snapshot(IncrementalCuration.corpus(
      IncrementalCuration.initState(docs)))
    graft.runner.Materialize.releaseAll()
    assert(viaState == full)
  }

  test("batch-incremental output equals from-scratch on the gate corpus") {
    // append order: the batch is the upper half of the id space
    val m = docs.agg(expr("percentile_approx(doc_id, 0.5)")).collect()(0).getLong(0)
    val part1 = docs.filter(col("doc_id") <= m)
    val part2 = docs.filter(col("doc_id") > m)

    val full = snapshot(CurationQueries.curate(docs))
    graft.runner.Materialize.releaseAll()

    val st1 = IncrementalCuration.initState(part1)
    val st1Rows = st1.collect() // freeze before caches are released
    graft.runner.Materialize.releaseAll()
    val st1Frozen = spark.createDataFrame(
      new java.util.ArrayList(java.util.Arrays.asList(st1Rows: _*)), st1.schema)

    val st2 = IncrementalCuration.addBatch(st1Frozen, part2)
    val inc = snapshot(IncrementalCuration.corpus(st2))
    graft.runner.Materialize.releaseAll()

    assert(inc == full)
    // and the batch actually contributed docs (non-degenerate test)
    assert(inc.exists(_.head.toString.toLong > m))
  }

  test("a batch doc bridging two existing clusters merges them, min-id wins") {
    import spark.implicits._
    // hand-built corpus: doc 1 and doc 2 are far apart (different
    // clusters), doc 100 (the batch) is near BOTH -> from-scratch and
    // incremental must both collapse all three to representative 1.
    val mk = (id: Long, text: String) =>
      (id, text, "en", "unit", text.length.toLong)
    // shared-prefix construction with known shingle-set Jaccards:
    // doc1 = W ++ X, doc2 = W ++ Y, bridge = W ++ X[:20] ++ Y[:20]
    // (|W|=60, |X|=|Y|=40 words) gives J(1,2) ~ 58/138 = 0.42 < 0.5
    // (no direct edge) while J(bridge,1) = J(bridge,2) ~ 0.63 >= 0.5.
    val w = Seq.tabulate(60)(i => s"common$i")
    val x = Seq.tabulate(40)(i => s"alpha$i")
    val y = Seq.tabulate(40)(i => s"beta$i")
    val corpus0 = Seq(
      mk(1, (w ++ x).mkString(" ")),
      mk(2, (w ++ y).mkString(" "))).toDF(
      "doc_id", "text", "lang", "source", "n_chars")
    val batch = Seq(
      mk(100, (w ++ x.take(20) ++ y.take(20)).mkString(" "))).toDF(
      "doc_id", "text", "lang", "source", "n_chars")

    val full = snapshot(CurationQueries.curate(
      corpus0.unionByName(batch), minChars = 10))
    graft.runner.Materialize.releaseAll()
    // the merge changes doc 2's label: with changedLimit 0 the fold
    // answers with a FullRelabel mapping instead of a delta
    for (fullRelabel <- Seq(false, true)) {
      if (fullRelabel) sys.props("graft.curate.changedLimit") = "0"
      try {
        val st = IncrementalCuration.addBatch(
          IncrementalCuration.initState(corpus0, minChars = 10), batch, minChars = 10)
        val inc = snapshot(IncrementalCuration.corpus(st))
        graft.runner.Materialize.releaseAll()
        assert(inc == full, s"fullRelabel=$fullRelabel")
        // the scenario must actually fire: the bridge merged both
        // clusters, so ONLY the min-id representative survives
        assert(inc.map(_.head) == Seq(1L), s"expected sole survivor 1, got $inc")
      } finally sys.props.remove("graft.curate.changedLimit")
    }
  }

  test("quality-passing docs with fewer than 3 tokens survive the state") {
    import spark.implicits._
    // Regression: a doc over the char floor whose text is ONE long token
    // has no 3-gram shingles, hence no MinHash signature group — the
    // former inner sig join silently dropped it from the state while the
    // from-scratch pipeline kept it.
    val mk = (id: Long, text: String) =>
      (id, text, "en", "unit", text.length.toLong)
    val longToken = "x" * 120
    val corpus0 = Seq(
      mk(1, longToken),
      mk(2, Seq.tabulate(50)(i => s"w$i").mkString(" "))).toDF(
      "doc_id", "text", "lang", "source", "n_chars")
    val full = snapshot(CurationQueries.curate(corpus0))
    graft.runner.Materialize.releaseAll()
    val viaState = snapshot(IncrementalCuration.corpus(
      IncrementalCuration.initState(corpus0)))
    graft.runner.Materialize.releaseAll()
    assert(viaState == full)
    assert(viaState.map(_.head).contains(1L),
      s"the shingle-less doc must survive, got ${viaState.map(_.head)}")

    // and an incremental add of another shingle-less doc keeps parity
    val batch = Seq(mk(100, "y" * 150)).toDF(
      "doc_id", "text", "lang", "source", "n_chars")
    val fullB = snapshot(CurationQueries.curate(corpus0.unionByName(batch)))
    graft.runner.Materialize.releaseAll()
    val st = IncrementalCuration.addBatch(
      IncrementalCuration.initState(corpus0), batch)
    val incB = snapshot(IncrementalCuration.corpus(st))
    graft.runner.Materialize.releaseAll()
    assert(incB == fullB)
    assert(incB.map(_.head).contains(100L))
  }

  test("addBatch rejects batches whose ids do not exceed the state's") {
    import spark.implicits._
    val mk = (id: Long, text: String) =>
      (id, text, "en", "unit", text.length.toLong)
    val corpus0 = Seq(mk(10, "a" * 120)).toDF(
      "doc_id", "text", "lang", "source", "n_chars")
    val badBatch = Seq(mk(5, "b" * 120)).toDF(
      "doc_id", "text", "lang", "source", "n_chars")
    val st = IncrementalCuration.initState(corpus0)
    val ex = intercept[IllegalArgumentException] {
      IncrementalCuration.addBatch(st, badBatch)
    }
    graft.runner.Materialize.releaseAll()
    assert(ex.getMessage.contains("must exceed"))
  }

  test("null-text batch rows don't break the bloom-scoped exact-dedup probe") {
    // Regression (r15 ADVICE): text=null with populated n_chars passes
    // the quality floor; md5(null) -> null __h group whose xxhash64 is
    // null, and the bloom probe's Row.getLong on it threw NPE. The null
    // group must be SKIPPED in the probe array only — it still flows
    // through matched/keepIds (pre-r15 semantics: kept as unmatched).
    import spark.implicits._
    val mk = (id: Long, text: String) =>
      (id, text, "en", "unit", Option(text).map(_.length.toLong).getOrElse(50L))
    val corpus0 = Seq(
      mk(1, Seq.tabulate(40)(i => s"alpha$i").mkString(" ")),
      mk(2, Seq.tabulate(40)(i => s"beta$i").mkString(" "))).toDF(
      "doc_id", "text", "lang", "source", "n_chars")
    val st = IncrementalCuration.initState(corpus0, minChars = 10)
      .drop("component")
    val dir = tmpDir("curation_nulltext")
    // the store shape Curate.run writes: linear-on-doc_id + __h bloom
    graft.layout.LayoutWriter.write(st, dir,
      graft.layout.LayoutWriter.LayoutSpec("linear", Seq("doc_id"),
        numFiles = Some(1), recordKey = Some("doc_id")))
    graft.layout.KeyIndex.build(spark, dir, Seq("__h"))
    val batch = Seq(
      mk(100, Seq.tabulate(40)(i => s"gamma$i").mkString(" ")),
      mk(101, null)).toDF("doc_id", "text", "lang", "source", "n_chars")
    val prep = IncrementalCuration.prepareBatch(st, batch, minChars = 10,
      docsDir = Some(dir))
    // both batch groups (real text + the null group) stay in the keep
    // set, and the tracked result materializes without throwing
    assert(prep.nHint.contains(2L), s"keep-set hint: ${prep.nHint}")
    val kept = prep.rows.select("doc_id").as[Long].collect().toSet
    assert(kept.contains(100L), s"real doc dropped: $kept")
    graft.runner.Materialize.releaseAll()
  }
}
