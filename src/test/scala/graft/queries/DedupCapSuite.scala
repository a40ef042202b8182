package graft.queries

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Contract of the degenerate-bucket star cap (DedupQueries round 10):
  * dormant at gate scale (capped == uncapped, bit-identical), and
  * connectivity-preserving within an oversized bucket (every member
  * pairs with the bucket root).
  */
class DedupCapSuite extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  /** Unfused reference (the pre-r20 shape the edge builder replaced):
    * one sorted shingle-hash set per doc from its own aggregate, then
    * the same verification join.
    */
  private def shingleSetsOf(hashed: org.apache.spark.sql.DataFrame) =
    hashed.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("h1"))).as("hs"))

  private def verifiedByJaccard(cand: org.apache.spark.sql.DataFrame,
      hashed: org.apache.spark.sql.DataFrame) =
    DedupQueries.verifiedBySets(cand, shingleSetsOf(hashed))

  test("caps are dormant at gate scale: q69 edges identical capped vs uncapped") {
    val dd = graft.Tables.load(spark, sf, "documents")
    def edges(cap: Boolean): Set[(Long, Long)] = {
      val toks = graft.runner.Materialize.track(DedupQueries.tokens(dd))
      val hashed = graft.runner.Materialize.track(DedupQueries.shingleHashesFrom(toks))
      val sh = graft.runner.Materialize.track(DedupQueries.simhashOf(toks))
      val (mb, sb) =
        if (cap) (DedupQueries.DegenerateBucketCap, DedupQueries.SimhashBandCap)
        else (Int.MaxValue, Int.MaxValue)
      val e = DedupQueries.simhashPairsOf(sh, None, sb).select(col("da"), col("db"))
        .unionAll(verifiedByJaccard(
          DedupQueries.minhashCandidates(DedupQueries.minhashSigsOf(hashed), None, mb),
          hashed))
      val out = e.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      graft.runner.Materialize.releaseAll()
      out
    }
    assert(edges(cap = true) == edges(cap = false))
  }

  test("an oversized bucket emits head all-pairs + star candidates covering every member") {
    import spark.implicits._
    // 100 identical docs: every minhash bucket holds all 100 (> cap=8
    // here via the tiny test cap), so the head keeps all-pairs among
    // ids 1..8 and the tail stars to the root
    val docs = (1L to 100L).map(i => (i, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val toks = DedupQueries.tokens(docs)
    val hashed = DedupQueries.shingleHashesFrom(toks)
    val cand = DedupQueries.minhashCandidates(
      DedupQueries.minhashSigsOf(hashed), None, 8)
    val pairs = cand.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (for (i <- 1L to 8L; j <- (i + 1) to 8L) yield (i, j)).toSet ++
      (9L to 100L).map(x => (1L, x)).toSet
    assert(pairs == expected)
    // and the full cluster still forms: CC over the star = one component
    val comps = graft.operators.ConnectedComponents
      .run(cand.toDF("da", "db"))
      .select(col("component")).distinct().collect()
    graft.runner.Materialize.releaseAll()
    assert(comps.length == 1)
  }

  test("newFlag star keeps only pairs with a new side, roots stay append-stable") {
    import spark.implicits._
    val docs = (1L to 50L).map(i =>
      (i, "alpha beta gamma delta epsilon zeta", i > 45))
      .toDF("doc_id", "text", "__new")
    val toks = docs.select(col("doc_id"),
      graft.text.TextFunctions.words(col("text")).as("ws"))
    val hashed = DedupQueries.shingleHashesFrom(toks)
    val sigs = DedupQueries.minhashSigsOf(hashed)
      .join(docs.select("doc_id", "__new"), "doc_id")
    val pairs = DedupQueries.minhashCandidates(sigs, Some("__new"), 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // star to the bucket min (doc 1, old): only the flagged tails survive
    assert(pairs == (46L to 50L).map(x => (1L, x)).toSet)
    graft.runner.Materialize.releaseAll()
  }

  test("fused bandCensus equals the per-join census; knownMax plans emit identical pairs") {
    // round 11: capped callers run ONE bandCensus job and pass the
    // maxima into both band joins via knownMax. This pins the two
    // invariants that make that safe: (1) the fused census reads the
    // SAME band derivation as the joins (values equal the per-join
    // aggregates), (2) a knownMax-driven plan emits exactly the pairs
    // the self-censusing plan emits, on both sides of the cap.
    val dd = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val toks = graft.runner.Materialize.track(DedupQueries.tokens(dd))
    val hashed = graft.runner.Materialize.track(DedupQueries.shingleHashesFrom(toks))
    val sh = graft.runner.Materialize.track(DedupQueries.simhashOf(toks))
    val sigs = graft.runner.Materialize.track(DedupQueries.minhashSigsOf(hashed))
    val census = DedupQueries.bandCensus(sh, sigs)
    val (simMax, mhMax) = (census.simMax, census.mhMax)
    def maxOf(rows: org.apache.spark.sql.DataFrame): Long =
      rows.groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("c"))
        .agg(max(col("c"))).head() match {
          case r if r.isNullAt(0) => 0L
          case r => r.getLong(0)
        }
    assert(simMax == maxOf(DedupQueries.simhashBandRowsOf(sh, None)))
    assert(mhMax == maxOf(DedupQueries.minhashBandRowsOf(sigs, None)))

    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("da"), col("db")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // below-cap knownMax (all-pairs branch) and a tiny cap that FIRES
    // (split branch): both must match the self-censusing plan exactly
    for (cap <- Seq(DedupQueries.DegenerateBucketCap, 2)) {
      assert(
        pairSet(DedupQueries.minhashCandidates(sigs, None, cap, Some(mhMax))) ==
          pairSet(DedupQueries.minhashCandidates(sigs, None, cap)),
        s"minhash pairs diverged at cap=$cap")
      assert(
        pairSet(DedupQueries.simhashPairsOf(sh, None, cap, Some(simMax))) ==
          pairSet(DedupQueries.simhashPairsOf(sh, None, cap)),
        s"simhash pairs diverged at cap=$cap")
    }
    // knownHot (the census-collected oversized keys, cap=2 so they are
    // non-empty at gate scale): the isInCollection bucket split must
    // emit exactly the sizes-join split's pairs
    val c2 = DedupQueries.bandCensus(sh, sigs, simCap = 2, mhCap = 2)
    assert(c2.mhHot.exists(_.nonEmpty) || c2.mhMax <= 2)
    assert(
      pairSet(DedupQueries.minhashCandidates(sigs, None, 2, Some(c2.mhMax), c2.mhHot)) ==
        pairSet(DedupQueries.minhashCandidates(sigs, None, 2)),
      "minhash pairs diverged between hot-key and sizes-join splits")
    assert(
      pairSet(DedupQueries.simhashPairsOf(sh, None, 2, Some(c2.simMax), c2.simHot)) ==
        pairSet(DedupQueries.simhashPairsOf(sh, None, 2)),
      "simhash pairs diverged between hot-key and sizes-join splits")
    graft.runner.Materialize.releaseAll()
  }

  test("fused sig+sets edge pipeline equals the two-aggregate formulation") {
    // r20: nearDupEdgesFromTokens derives signatures AND verification
    // sets from ONE sigAndSetsOf aggregate instead of aggregating the
    // shingle-hash frame twice (minhashSigsOf + shingleSetsOf). This
    // pins the fused pipeline's edge multiset against the unfused
    // formulation it replaced, on the gate corpus.
    val dd = graft.Tables.load(spark, sf, "documents")
    def edgeBag(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Int] =
      df.collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(identity).view.mapValues(_.length).toMap
    val fused = edgeBag(DedupQueries.nearDupEdgesFromTokens(DedupQueries.tokens(dd)).edges)
    graft.runner.Materialize.releaseAll()
    // unfused reference: separate sigs and sets aggregates (pre-r20 shape)
    val toks = graft.runner.Materialize.track(DedupQueries.tokens(dd))
    val sh = graft.runner.Materialize.track(DedupQueries.simhashOf(toks))
    val hashed = graft.runner.Materialize.track(DedupQueries.shingleHashesFrom(toks))
    val sigs = graft.runner.Materialize.track(DedupQueries.minhashSigsOf(hashed))
    val c = DedupQueries.bandCensus(sh, sigs)
    val unfused = edgeBag(
      DedupQueries.simhashPairsOf(sh, None,
          DedupQueries.SimhashBandCap, Some(c.simMax), c.simHot)
        .select(col("da"), col("db"))
        .unionAll(verifiedByJaccard(
          DedupQueries.minhashCandidates(sigs, None,
            DedupQueries.DegenerateBucketCap, Some(c.mhMax), c.mhHot),
          hashed)))
    graft.runner.Materialize.releaseAll()
    assert(fused == unfused)
  }
}
