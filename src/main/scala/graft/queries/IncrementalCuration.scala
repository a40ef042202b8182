package graft.queries

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge.inSetLong
import graft.operators.ConnectedComponents
import graft.runner.Materialize
import graft.table.SfcTable

/** Incremental corpus curation — dedup a NEW document batch against an
  * existing curated corpus without recomputing the full near-dup graph.
  * This is the real 100 TB workflow: the corpus is built once (full
  * graph), then grows by batches whose edge computation touches only
  * batch x (batch ∪ state) signatures, never state x state.
  *
  * The STATE is one frame: every quality-passing, exact-deduped doc —
  * INCLUDING cluster-dropped ones, because a future batch doc can
  * near-dup a dropped doc without matching its surviving representative
  * (A~B, B~C non-transitivity), and from-scratch semantics route it
  * into that doc's cluster — plus its stored signatures and component:
  *
  *   (doc columns..., __h md5, sh simhash, mh0..mh7 minhash, hs, component)
  *
  * Two entry points, one per half of the curation contract:
  *
  *  - [[initState]], the full build, takes its edges and signatures from
  *    [[DedupQueries.nearDupEdgesFromTokens]], the one near-dup edge
  *    builder q69/q72 also use.
  *  - [[foldLabels]] is the one place a batch's component labels are
  *    computed, for the CLI fold (graft.cli.Curate) and [[addBatch]].
  *    The batch's band rows meet the corpus-side rows of the buckets they
  *    touch; pairs come from the driver when the bounds allow and from
  *    the distributed band join otherwise; MinHash candidates verify
  *    against the STORED shingle-hash sets (no state doc is ever
  *    re-tokenized); and one tail turns the edges into a label DELTA.
  *
  * Batch arrival reconstructs connectivity WITHOUT the old graph: the
  * old (doc_id -> component) mapping is itself a set of star edges that
  * preserves exactly the old components, so CC over
  * (old stars ∪ new batch-involved edges) equals CC over the full edge
  * set — and the result matches a from-scratch build row for row, as
  * long as batch doc_ids exceed state doc_ids (the natural append
  * order; min-id representatives can then never migrate into a batch).
  */
object IncrementalCuration {

  private val MetaCols: Seq[String] =
    Seq("__h", "sh", "hs", "component") ++ DedupQueries.SigCols

  /** Full build: quality gate -> exact dedup -> near-dup graph ->
    * components. Returns the state frame (see object doc).
    */
  def initState(dd: DataFrame, minChars: Long = 100): DataFrame = {
    val base = dd.filter(col("n_chars") >= minChars)
    val hashedDocs = base.withColumn("__h", md5(col("text")))
    val keepIds = hashedDocs.groupBy(col("__h")).agg(min(col("doc_id")).as("doc_id"))
    // persisted LAZILY: the edge builder's one fused bandCensus job scans
    // every partition of its signature frames through this input chain
    val kept = Materialize.trackLazy(hashedDocs.join(keepIds, Seq("__h", "doc_id")))
    // incremental folds compose to exactly this capped edge set: the
    // head/tail split and the bucket root are append-stable (bandedPairs
    // doc), so a doc's candidate pairs are fixed at its arrival fold and
    // never revised. IncBench asserts outputs_identical per run as the
    // empirical backstop.
    val nd = DedupQueries.nearDupEdgesFromTokens(DedupQueries.tokens(kept))
    val labels = ConnectedComponents.run(nd.edges)
      .withColumnRenamed("id", "doc_id")
    // signatures LEFT: a quality-passing doc with < 3 tokens has no
    // shingles, hence no MinHash group — an inner join would silently
    // drop it from the state (and the corpus) where the from-scratch
    // pipeline keeps it; null signatures never band. hs (the sorted
    // shingle-hash set, LEFT for the same reason) is STORED so folds
    // verify candidates from the state without re-tokenizing state docs.
    kept.join(nd.sh, Seq("doc_id")).join(nd.sigSets, Seq("doc_id"), "left")
      .join(labels, Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
  }

  /** A prepared batch: the NEW state doc rows (exact-deduped batch docs
    * with signature + shingle-set columns, no component yet). `rows` is
    * a runner-tracked cache, so persisting it (the CLI's append-only
    * state write) never re-reads the stored state mid-mutation. `nHint`
    * is the exact kept-row count when the bounded exact-dedup branch
    * computed it for free (keepIds.length); None for over-limit batches
    * — callers sizing appends fall back to natural partitioning there.
    */
  case class BatchPrep(rows: DataFrame, nHint: Option[Long] = None)

  /** Above this many distinct batch text hashes the exact dedup falls
    * back to the distributed anti-join (a bulk load, not a fold).
    */
  val BatchHashLimit: Int = 200000

  /** Quality-gate, exact-dedup (batch-internal min id + drop texts the
    * state already has), and signature computation for a new batch —
    * the only full-text kernels of an incremental add, batch-sized.
    * `state` here (and in [[foldLabels]]) is the doc+signature store
    * WITHOUT the component column: none of the signature/text reads
    * need it, and requiring the (docs ⋈ components) join as input made
    * every narrow projection pay a corpus×corpus shuffle join (round-10
    * phase profile: the join appeared 4× in one add).
    */
  def prepareBatch(state: DataFrame, batch: DataFrame, minChars: Long = 100,
      docsDir: Option[String] = None): BatchPrep = {
    val base = batch.filter(col("n_chars") >= minChars)
    val bh = base.withColumn("__h", md5(col("text")))
    // exact dedup as two bounded driver collects (round-12 VERDICT
    // "Next #1"): the old formulation anti-joined against the state's
    // __h column, which the static planner BROADCAST — a corpus-wide
    // build job re-executed by every consumer that re-ran the batch
    // subtree, and a join operator buried in every downstream batch
    // plan. Driver-side, the batch's kept ids become one InSet filter
    // on the batch scan (pushdown-friendly, trivially re-executable)
    // and the state side is one narrow InSet-pushed scan per fold.
    // __hh rides along in the SAME collect: the bloom probe below needs
    // xxhash64(__h) and computing it here costs nothing extra
    val hashRows = bh.groupBy(col("__h")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("__h"), col("doc_id"), xxhash64(col("__h")).as("__hh"))
      .limit(BatchHashLimit + 1).collect()
    var nKeptHint: Option[Long] = None
    val bKept = if (hashRows.length > BatchHashLimit) {
      val keepIds = bh.groupBy(col("__h")).agg(min(col("doc_id")).as("doc_id"))
      // no distinct on the state side: state docs are exact-deduped by
      // construction, so __h is already unique — the anti join semantics
      // are identical and the fold skips a corpus-wide aggregate exchange
      Materialize.trackLazy(
        bh.join(keepIds, Seq("__h", "doc_id"))
          .join(state.select(col("__h")), Seq("__h"), "left_anti"))
    } else {
      // which batch hashes already exist in the state: __h is a random
      // md5, so neither zones nor parquet range pushdown can scope this
      // probe — the secondary __h BLOOM sidecar can (round-15: the
      // 50-batch soak measured the un-scoped probe growing with the
      // store). Bloom-positive files only; no positives means no scan
      // job at all. Fail-safes: no sidecar (an in-memory fold, or a
      // dropped one) -> full scan; files committed after the sidecar's
      // generation are included by affectedPaths.
      val hProbe: Either[Set[String], DataFrame] = docsDir match {
        case Some(d) if hashRows.nonEmpty && graft.layout.KeyIndex.exists(
            d, graft.layout.KeyIndex.indexName(Seq("__h"))) =>
          val manifest = graft.layout.ZoneMap.read(d)
          // null text → md5 null → xxhash64 null: getLong would NPE on
          // the null-__h group's row. Skip it in the probe array only —
          // the group still flows through matched/keepIds below
          // (getString(0)=null, Set.contains(null) is fine), preserving
          // the pre-r15 null-text semantics (r15 ADVICE).
          graft.layout.KeyIndex.affectedPaths(state.sparkSession, d,
              hashRows.iterator.filterNot(_.isNullAt(2))
                .map(_.getLong(2)).toSeq, manifest, Seq("__h")) match {
            case Some(paths) =>
              val files = manifest.files.filter(f =>
                paths.contains(graft.layout.KeyIndex.norm(f.path)))
              System.err.println(s"[curate.add]   hash_bloom_prune " +
                s"${files.length}/${manifest.files.length} files")
              if (files.isEmpty) Left(Set.empty[String])
              else Right(graft.layout.StagedRewrite.readFiles(
                  state.sparkSession, d, files.map(_.path),
                  manifest.hivePartitions.nonEmpty, Some(state.schema))
                .select(col("__h")))
            case None => Right(state.select(col("__h")))
          }
        case _ => Right(state.select(col("__h")))
      }
      val matched =
        if (hashRows.isEmpty) Set.empty[String]
        else hProbe match {
          case Left(none) => none
          case Right(stateH) => stateH
            .filter(org.apache.spark.sql.graftbridge.Bridge.inSetString(
              col("__h"), hashRows.map(_.getString(0))))
            .collect().map(_.getString(0)).toSet
        }
      val keepIds = hashRows.collect {
        case r if !matched(r.getString(0)) => r.getLong(1)
      }.toSeq
      nKeptHint = Some(keepIds.length.toLong)
      Materialize.trackLazy(
        if (keepIds.isEmpty) bh.limit(0)
        else bh.filter(inSetLong(col("doc_id"), keepIds)))
    }
    // batch-sized kernels are NOT individually tracked (round-10): at a
    // realistic add cadence the dominant cost of the fold is fixed
    // per-job latency, and each eager track is one more job — letting
    // the tokenize/simhash subtrees compute twice inside the two tracked
    // results below is milliseconds of repeated batch-local work
    val toks = DedupQueries.tokens(bKept)
    val hashedB = DedupQueries.shingleHashesFrom(toks)
    val shB = DedupQueries.simhashOf(toks)
    // signatures + sorted shingle sets in ONE aggregation (no glue
    // join, no second groupBy pipeline — round-11 VERDICT "Next #4")
    val sigHsB = DedupQueries.sigAndSetsOf(hashedB)
    BatchPrep(nHint = nKeptHint, rows =
      // sig/hs LEFT for the same reason as initState: shingle-less docs
      // stay in the state with null signatures.
      // ONE eager count materializes the cache (round-10 VERDICT
      // "Next #4"): rows' plan reads bKept directly, and the fused
      // aggregation inside it scans every hashedB partition, which in
      // turn scans every bKept partition — the lazily-persisted bKept
      // materializes as a by-product of this single job.
      Materialize.track(
        bKept.join(shB, Seq("doc_id")).join(sigHsB, Seq("doc_id"), "left")))
  }

  // ---- the fold: one entry point for a batch's component labels

  /** A changed state-doc label: the doc must be rewritten in the
    * components store (and, when it was its own component, retired from
    * the curated corpus — a cluster-merge event).
    */
  case class ChangedLabel(docId: Long, component: Long, oldComponent: Long)

  sealed trait DeltaResult

  /** The O(touched) outcome: labels for every batch doc, plus the
    * driver-collected state docs whose label changed. Everything else
    * in the components store is untouched — the fold never reads or
    * writes the unaffected corpus mapping.
    */
  case class CompDelta(batchLabels: DataFrame, changed: Seq[ChangedLabel])
    extends DeltaResult

  /** Degenerate outcome (a merge storm beyond the caps): the full
    * (state ∪ batch) mapping, for a whole-store rewrite.
    */
  case class FullRelabel(labels: DataFrame) extends DeltaResult

  /** Cap on the driver-collected endpoint / touched-component sets;
    * above it the fold falls back to [[FullRelabel]].
    */
  val TouchedCompLimit: Int = 1000000

  /** Changed-label cap, above which the fold falls back to
    * [[FullRelabel]]. It stays low deliberately: beyond ~200k changed
    * labels the keyed delta rewrites most of the store anyway (scattered
    * ids touch every file zone), so the whole-store rewrite is the same
    * bytes with less bookkeeping — measured at sf10 (round 13: 1.38x via
    * FullRelabel vs 1.17x via a 200k-row keyed delta). Overridable via
    * system property so suites can force the fallback on toy corpora.
    */
  def changedLimit: Int =
    sys.props.get("graft.curate.changedLimit").map(_.toInt).getOrElse(200000)

  /** Edge-set size up to which the batch-bounded subgraph's CC runs on
    * the driver (a collect of an already-cached frame; 4M edges ≈
    * 400 MB transient Rows in an 8 GB JVM). Above it the distributed
    * star rounds run. Overridable via system property (suites).
    */
  def EdgeCollectLimit: Int = sys.props.get("graft.curate.edgeCollectLimit")
    .map(_.toInt).getOrElse(ConnectedComponents.SmallGraphEdges.toInt)

  /** Collected head band-row bound and generated-pair bound of the
    * driver-side pair generation (each row ~150 B on the driver; 4M ≈
    * 600 MB transient in the 8 GB bench JVM — measured surviving
    * comfortably at sf10, where the adversarial dup-dense fold collects
    * 1.32M head rows and driver pairs beat the distributed join 7.2 s vs
    * 13.3 s).
    */
  val LocalRowLimit: Int = ConnectedComponents.SmallGraphEdges.toInt
  val LocalPairLimit: Int = ConnectedComponents.SmallGraphEdges.toInt

  /** Above this many batch band rows (~8k docs) pairs come from the
    * distributed band join up front: a batch that size amortizes its
    * fixed costs anyway, and on a dup-dense corpus its touched head rows
    * would blow [[LocalRowLimit]] only after paying the window scan.
    * The fold checks it against a bound known before any job, the kept
    * batch docs times [[BandRowsPerDoc]]. Overridable via system
    * property (suites).
    */
  def LocalBatchRowLimit: Int =
    sys.props.get("graft.curate.localBatchRowLimit").map(_.toInt).getOrElse(65536)

  /** Above this many distinct candidate doc_ids the verification reads
    * the whole hs column instead of an id-pruned slice.
    */
  val CandIdLimit: Int = 200000

  /** Component labels after folding a prepared batch into the state, as
    * a DELTA against the stored (doc_id, component) mapping `stateComps`
    * (or a [[FullRelabel]] when a cap overflows). The one entry point for
    * fold labels — the CLI fold and [[addBatch]] both call it.
    *
    *  1. Band rows: the batch's own ([[postingsAll]]) and the corpus-side
    *     rows of the buckets they touch ([[corpusBandRows]] — a pruned
    *     postings read when the state has a store, derived from the doc
    *     store otherwise).
    *  2. Pairs: on the driver ([[localCandidates]]) when every bound
    *     holds — the micro/small-batch regime, where two bounded collects
    *     replace the census job and the band-join broadcasts — else from
    *     the distributed capped band join over the same rows
    *     ([[distributedEdges]]). Both emit exactly [[DedupQueries]]'
    *     head/tail candidate set with at least one batch side.
    *  3. Verification: SimHash pairs at hamming <= 3, MinHash candidates
    *     at exact Jaccard >= 0.5 against the stored sets
    *     ([[candidateSets]]).
    *  4. Labels ([[labelTail]]): CC over the batch edges plus the star
    *     edges of the old components they touch, diffed against the
    *     stored labels.
    */
  def foldLabels(state: DataFrame, stateComps: DataFrame, prep: BatchPrep,
      postingsDir: Option[String] = None,
      docsDir: Option[String] = None): DeltaResult = {
    val lap = stepTimer()
    val batchBand = postingsAll(prep.rows)
    // the route comes from a bound, not a LIMIT collect: a limit pushed
    // into the union's branches names its counter from a JVM-wide id, so
    // its generated classes are new code on every fold
    val local = prep.nHint.exists(_ * BandRowsPerDoc <= LocalBatchRowLimit)
    val batchRows = if (local) batchBand.collect() else Array.empty[Row]
    if (local) lap(s"batch_rows (${batchRows.length})")
    if (local && batchRows.isEmpty) return selfLabels(prep)
    // touched bucket keys (both families share the key space — a
    // cross-family bh collision only lets a few extra untouched rows
    // through, which the >=1-new pair condition then ignores)
    val touched: Option[Set[Long]] =
      if (local) Some(batchRows.map(_.getLong(5)).toSet)
      else {
        val keys = batchBand.select(col("bh"))
          .distinct().limit(TouchedKeyLimit + 1).collect()
        lap(s"touched_keys (${keys.length})")
        if (keys.length > TouchedKeyLimit) None
        else Some(keys.map(_.getLong(0)).toSet)
      }
    val (corpus, keptBound) = corpusBandRows(state, postingsDir, touched)
    val localEdges =
      if (!local) None
      else localCandidates(corpus, keptBound, batchRows, lap)
        .map { case (simPairs, mhPairs) =>
          // MinHash verification stays distributed: the hs arrays stay in
          // the store, only the candidate frame is local
          val mhEdges =
            if (mhPairs.isEmpty) Nil
            else {
              val ids = mhPairs.iterator.flatMap(p => Iterator(p._1, p._2)).toSet
              val sets = candidateSets(state, prep,
                Some(ids).filter(_.size <= CandIdLimit), docsDir)
              DedupQueries.verifiedBySets(
                  state.sparkSession.createDataFrame(mhPairs).toDF("da", "db"), sets)
                .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
            }
          lap(s"mh_verify (${mhEdges.length})")
          simPairs ++ mhEdges
        }
    labelTail(stateComps, prep,
      localEdges.toLeft(distributedEdges(state, prep, batchBand, corpus, docsDir, lap)),
      lap)
  }

  /** Per-step wall clock on stderr — the fold's phase profile. */
  private def stepTimer(): String => Unit = {
    var tl = System.nanoTime()
    step => {
      val t = System.nanoTime()
      System.err.println(f"[curate.add]   fold/$step ${(t - tl) / 1e9}%.2fs")
      tl = t
    }
  }

  private def selfLabels(prep: BatchPrep): DeltaResult = CompDelta(
    prep.rows.select(col("doc_id")).withColumn("component", col("doc_id")), Nil)

  /** Corpus-side band rows in [[postingsAll]] form, restricted to the
    * `touched` bucket keys (all rows when None). With a postings store
    * the keys prune files by their `bh` zones and an InSet drops the
    * untouched rows of kept files; without one the rows derive from the
    * doc store's stored signatures. Returns the pruned read's kept-row
    * upper bound alongside (from the manifest, before any job runs).
    *
    * Candidate-set parity with an unrestricted read: the filter keeps
    * every row of every touched bucket (bh is a function of (band,
    * bucket)), and untouched buckets cannot emit a >=1-new pair.
    */
  private def corpusBandRows(state: DataFrame, postingsDir: Option[String],
      touched: Option[Set[Long]]): (DataFrame, Option[Long]) =
    (postingsDir, touched) match {
      case (Some(dir), Some(keys)) =>
        val df = SfcTable.open(state.sparkSession, dir, Some(PostingsSchema))
          .filter(inSetLong(col("bh"), keys))
        (df, SfcTable.pruned(df).map(_.kept.map(_.rows).sum))
      case (Some(dir), None) =>
        (state.sparkSession.read.schema(PostingsSchema).parquet(dir), None)
      case (None, Some(keys)) =>
        (postingsAll(state).filter(inSetLong(col("bh"), keys)), None)
      case (None, None) => (postingsAll(state), None)
    }

  /** Driver-side candidate generation: (SimHash pairs already hamming-
    * verified, MinHash candidates), or None when a bound is exceeded.
    *
    *  - Per (fam, band, bucket) the candidate set is the bucket HEAD
    *    (smallest `cap` ids) all-pairs plus root→tail stars, with at
    *    least one batch side — exactly [[DedupQueries]]' head/tail
    *    split. Batch ids exceed all state ids, so the head's state part
    *    is the per-bucket rank <= cap of corpus rows (the window below)
    *    and the batch part completes locally; old tail members are never
    *    collected because their only candidate pair (with the old root)
    *    fails the >=1-new condition.
    *  - The distributed join's census-driven all-pairs vs head/tail
    *    branch emits the same set either way for buckets at or under
    *    the cap (pure head), so computing head/tail uniformly here
    *    cannot diverge.
    */
  private def localCandidates(corpus: DataFrame, keptBound: Option[Long],
      batchRows: Array[Row], lap: String => Unit)
      : Option[(Seq[(Long, Long)], Seq[(Long, Long)])] = {
    // free driver-only gate: the manifest's kept-file row counts
    // upper-bound the head collect BEFORE any job runs. On a dup-dense
    // store where the batch touches every file (the adversarial ScaleUp
    // corpus) the bound is the whole store and the collect would only
    // discover the overflow after paying the window scan. The 2x slack is
    // the measured post-cap survival fraction (~0.3-0.4 of kept rows
    // survive the touched-bucket InSet + rank filter at sf1 AND on the
    // dup-dense sf10 store).
    if (keptBound.exists(_ > 2L * LocalRowLimit)) {
      lap(s"kept_bound_gate (${keptBound.get} rows kept, skip)")
      return None
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fam"), col("band"), col("bucket"))
      .orderBy(col("doc_id"))
    val headRows = corpus
      .withColumn("__r", row_number().over(w))
      .filter((col("fam") === 0 && col("__r") <= DedupQueries.SimhashBandCap) ||
        (col("fam") === 1 && col("__r") <= DedupQueries.DegenerateBucketCap))
      // postingsAll column order — `add` below reads both row kinds
      .select(col("fam"), col("doc_id"), col("band"), col("bucket"), col("sh"))
      .limit(LocalRowLimit + 1).collect()
    lap(s"head_rows (${headRows.length})")
    if (headRows.length > LocalRowLimit) return None

    case class M(id: Long, sh: Long, isNew: Boolean)
    val byBucket = new mutable.HashMap[(Int, Int, String), mutable.ArrayBuffer[M]]()
    def add(r: Row, isNew: Boolean): Unit = {
      val key = (r.getInt(0), r.getInt(2), r.getString(3))
      val sh = if (r.isNullAt(4)) 0L else r.getLong(4)
      byBucket.getOrElseUpdate(key, new mutable.ArrayBuffer[M]()) +=
        M(r.getLong(1), sh, isNew)
    }
    headRows.foreach(add(_, isNew = false))
    batchRows.foreach(add(_, isNew = true))
    val simPairs = new mutable.HashSet[(Long, Long)]()
    val mhPairs = new mutable.HashSet[(Long, Long)]()
    var overflow = false
    byBucket.foreach { case ((fam, _, _), ms0) =>
      if (!overflow && ms0.exists(_.isNew)) {
        val ms = ms0.sortBy(_.id)
        val cap = if (fam == 0) DedupQueries.SimhashBandCap
          else DedupQueries.DegenerateBucketCap
        val head = ms.take(cap)
        val root = ms.head
        def emit(a: M, b: M): Unit = {
          val p = (math.min(a.id, b.id), math.max(a.id, b.id))
          if (fam == 0) {
            if (java.lang.Long.bitCount(a.sh ^ b.sh) <= 3) simPairs += p
          } else mhPairs += p
          if (simPairs.size + mhPairs.size > LocalPairLimit) overflow = true
        }
        // head pairs with >=1 new side: iterate each NEW head member
        // against all strictly-smaller head members — old ids are always
        // smaller than new ids, so old x new is covered once from the new
        // side and new x new once from the larger side; old x old never
        var i = 0
        while (i < head.length && !overflow) {
          val n = head(i)
          if (n.isNew) {
            var j = 0
            while (j < i && !overflow) { emit(head(j), n); j += 1 }
          }
          i += 1
        }
        // root -> tail stars with >=1 new side: old tail members only
        // pair with the (old) root, so only NEW tail members emit
        var k = cap
        while (k < ms.length && !overflow) {
          val m = ms(k)
          if (m.isNew && m.id != root.id) emit(root, m)
          k += 1
        }
      }
    }
    if (overflow) return None
    lap(s"pairs (sim=${simPairs.size} mh_cand=${mhPairs.size})")
    Some((simPairs.toSeq, mhPairs.toSeq))
  }

  /** Batch-involved near-dup edges from the distributed capped band join
    * over the same corpus + batch band rows [[localCandidates]] reads —
    * the bulk-batch / degenerate-corpus route.
    */
  private def distributedEdges(state: DataFrame, prep: BatchPrep,
      batchBand: DataFrame, corpus: DataFrame, docsDir: Option[String],
      lap: String => Unit): DataFrame = {
    // trackLazy: the fused census below is the materializing scan, and
    // the pair joins then stream the CACHED rows
    val allRows = Materialize.trackLazy(corpus.withColumn("__new", lit(false))
      .unionByName(batchBand.withColumn("__new", lit(true))))
    val simAll = allRows.filter(col("fam") === 0)
    val mhAll = allRows.filter(col("fam") === 1)
    val c = DedupQueries.bandCensusRows(simAll, mhAll)
    lap("census")
    val simEdges = DedupQueries
      .simhashPairsOfRows(simAll, Some("__new"), DedupQueries.SimhashBandCap,
        Some(c.simMax), c.simHot)
      .select(col("da"), col("db"))
    // trackLazy is sound despite the r12 partial-materialization gotcha:
    // the materializing action is the candidate-id collect, whose plan
    // has a DISTINCT between the scan and the LIMIT — its shuffle map
    // stage processes every cache partition before any limit can fire
    val cand = Materialize.trackLazy(
      DedupQueries.minhashCandidatesRows(mhAll, Some("__new"),
        DedupQueries.DegenerateBucketCap, Some(c.mhMax), c.mhHot))
    val idRows = cand
      .select(explode(array(col("da"), col("db"))).as("doc_id"))
      .distinct().limit(CandIdLimit + 1).collect()
    lap(s"cand_ids (${idRows.length})")
    val ids =
      if (idRows.length > CandIdLimit) None
      else Some(idRows.map(_.getLong(0)).toSet)
    // cached: verification joins the sets on BOTH pair sides
    val sets = Materialize.trackLazy(candidateSets(state, prep, ids, docsDir))
    simEdges.unionAll(DedupQueries.verifiedBySets(cand, sets))
  }

  /** The (doc_id, hs) frame [[DedupQueries.verifiedBySets]] joins each
    * candidate side against — the STORED sorted shingle sets of the
    * candidate docs `ids` (the whole hs column when None), so no state
    * doc is ever re-tokenized by a fold. With a zone-mapped docs store
    * the ids prune FILES first (round-15: the 50-batch soak measured an
    * unpruned lookup growing 0.5 s -> 3.2 s over 50 sf1 folds, because
    * scattered ids defeat parquet's In->range pushdown and the scan
    * decompressed the whole hs column). The store's doc_id zones are
    * tight (linear build layout + id-monotone appends), so the prune
    * keeps O(candidate) files; batch ids exceed every zone and come from
    * prep.rows.
    */
  private def candidateSets(state: DataFrame, prep: BatchPrep,
      ids: Option[Set[Long]], docsDir: Option[String]): DataFrame = {
    val stateSets = (docsDir, ids) match {
      case (Some(d), Some(is)) =>
        val df = SfcTable.open(state.sparkSession, d, Some(state.schema))
          .filter(inSetLong(col("doc_id"), is))
        SfcTable.pruned(df).foreach(v => System.err.println(
          s"[curate.add]   fold/verify_docs_prune ${v.kept.length}/${v.filesTotal} files"))
        df.select(col("doc_id"), col("hs"))
      case _ => state.select(col("doc_id"), col("hs"))
    }
    val sets = stateSets.unionByName(prep.rows.select(col("doc_id"), col("hs")))
    ids.fold(sets)(is => sets.filter(inSetLong(col("doc_id"), is)))
  }

  /** Batch edges -> labels, as a delta against the stored mapping.
    * Driver-local edges (Left) come from the driver pair route; a
    * distributed edge frame (Right) is collected when it fits
    * [[EdgeCollectLimit]], and otherwise runs the distributed star-round
    * CC — the only route that scales past the driver.
    *
    * Soundness: merges happen only through batch edges, and every state
    * endpoint of a batch edge names its old component; so the set of
    * old components that can change is exactly the old components of
    * those endpoints (C_S). CC over (batch edges ∪ star edges of C_S
    * members) therefore equals full-graph CC restricted to the docs
    * that can change, and labels agree because each old component's
    * label IS its min id, present in the subgraph via its star edges
    * (or as a batch-edge endpoint for singleton components). A state
    * doc can never BECOME a representative (labels only shrink), so
    * changed labels are the complete corpus-retirement signal.
    *
    * Scale shape: two narrow scans of the (doc_id, component) store —
    * one InSet filter by endpoint, one by touched component — and
    * everything else is batch-bounded: the label algebra runs on driver
    * rows, and the one frame the executors still need (the batch's
    * labels) re-enters the plan as a LocalRelation whose broadcast
    * build launches no job.
    */
  private def labelTail(stateComps: DataFrame, prep: BatchPrep,
      edges: Either[Seq[(Long, Long)], DataFrame],
      lap: String => Unit): DeltaResult = {
    val spark = stateComps.sparkSession
    val (localEdges, edgeFrame) = edges match {
      case Left(es) => (Some(es), () => spark.createDataFrame(es).toDF("da", "db"))
      case Right(df) =>
        // persisted coalesced: the union-of-joins parents add up to
        // hundreds of near-empty partitions whose per-task scheduling
        // every downstream job would pay. The collect below scans every
        // partition (limit plans start at all partitions in a fold), so
        // it is the materializing action.
        val e = Materialize.trackLazy(df.coalesce(
          math.max(8, spark.sparkContext.defaultParallelism)))
        val rows = e.limit(EdgeCollectLimit + 1).collect()
        lap(s"edges (${rows.length})")
        (if (rows.length > EdgeCollectLimit) None
          else Some(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq),
          () => e)
    }
    // over the caps: CC over the batch edges plus EVERY stored star edge
    def storeRelabel = FullRelabel(overrideMapping(stateComps, prep,
      ConnectedComponents.run(edgeFrame().unionAll(
          stateComps.filter(col("component") =!= col("doc_id"))
            .select(col("doc_id").as("da"), col("component").as("db"))))
        .withColumnRenamed("id", "doc_id")))
    val endpointIds: Set[Long] = localEdges match {
      case Some(es) => es.iterator.flatMap(p => Iterator(p._1, p._2)).toSet
      case None => edgeFrame()
        .select(explode(array(col("da"), col("db"))).as("doc_id")).distinct()
        .limit(TouchedCompLimit + 1).collect().map(_.getLong(0)).toSet
    }
    if (endpointIds.size > TouchedCompLimit) return storeRelabel
    // no edges at all: no label can change, no store scan and no CC
    if (endpointIds.isEmpty) return selfLabels(prep)
    // old components of the edge endpoints that exist in the store
    // (batch endpoints aren't in it)
    val endpointsOld = stateComps
      .filter(inSetLong(col("doc_id"), endpointIds))
      .select(col("doc_id"), col("component"))
      .limit(TouchedCompLimit + 1).collect()
    val cs = endpointsOld.map(_.getLong(1)).distinct
    // every stored row of a touched component — members contribute their
    // star edges to CC; reps (self rows) contribute their old label to
    // the changed detection (a rep has no star edge of its own but its
    // label can still drop in a merge)
    val tRows =
      if (cs.isEmpty) Array.empty[Row]
      else stateComps.filter(inSetLong(col("component"), cs))
        .select(col("doc_id"), col("component"))
        .limit(TouchedCompLimit + 1).collect()
    lap(s"touched (${endpointsOld.length}+${tRows.length})")
    if (tRows.length > TouchedCompLimit) return storeRelabel
    val tStars = tRows.iterator
      .map(r => (r.getLong(0), r.getLong(1))).filter(e => e._1 != e._2).toSeq
    val newLabel: Map[Long, Long] = localEdges match {
      case Some(es) => ConnectedComponents.local(es.iterator ++ tStars.iterator)
      case None =>
        // the changed-label collect stays bounded: an overflow reuses the
        // checkpoint-backed frame, never a full collect
        val distDf = ConnectedComponents
          .run(edgeFrame().unionAll(spark.createDataFrame(tStars).toDF("da", "db")))
          .withColumnRenamed("id", "doc_id")
        val labelRows = distDf.limit(changedLimit + 1).collect()
        if (labelRows.length > changedLimit)
          return FullRelabel(overrideMapping(stateComps, prep, distDf))
        labelRows.map(r => (r.getLong(0), r.getLong(1))).toMap
    }
    lap(s"cc_labels (${newLabel.size})")
    // old label of every doc that can change; a doc can be both an
    // endpoint and a touched member — the map write dedups
    val oldOf: Map[Long, Long] = (tRows.iterator ++ endpointsOld.iterator)
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val changed = oldOf.iterator.flatMap { case (id, old) =>
      newLabel.get(id).filter(_ != old).map(ChangedLabel(id, _, old))
    }.toSeq
    // CHANGED count — not subgraph size — decides the keyed-delta vs
    // whole-store-rewrite branch: a dup-dense corpus yields a large
    // touched subgraph whose labels almost all stay put (sf10: 377k
    // subgraph labels, ~200 changed), and the keyed delta only writes
    // the changed rows
    if (changed.length > changedLimit)
      return FullRelabel(overrideMapping(stateComps, prep,
        spark.createDataFrame(newLabel.toSeq).toDF("doc_id", "component")))
    // batch-side labels only (state-side changes ride in `changed`): the
    // broadcast build stays batch-sized even when the touched subgraph is
    // corpus-scale
    val batchLocal = newLabel.iterator.filter(kv => !oldOf.contains(kv._1)).toSeq
    CompDelta(prep.rows.select(col("doc_id"))
      .join(broadcast(spark.createDataFrame(batchLocal)
        .toDF("doc_id", "component")), Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("component"), col("doc_id"))),
      changed)
  }

  /** Full (state ∪ batch) mapping from a computed label frame: stored
    * labels overridden where `labelsDf` has one, self-labels for new
    * docs otherwise.
    */
  private def overrideMapping(stateComps: DataFrame, prep: BatchPrep,
      labelsDf: DataFrame): DataFrame =
    stateComps.select(col("doc_id"), col("component").as("__old"))
      .unionByName(prep.rows
        .select(col("doc_id"), col("doc_id").as("__old")))
      .join(labelsDf, Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("component"), col("__old")))
      .select(col("doc_id"), col("component"))

  // ---- persisted bucket-postings fold path (round-11 VERDICT "Next #5")

  /** Pruning key of a band bucket for the postings store: the TOP 40
    * bits of xxhash64(band, bucket). 2^40 values are exactly double-
    * representable, which the manifest's zone stats require — a full
    * 64-bit hash rounds above 2^53 and a rounded min/max could
    * unsoundly prune a file. A key collision merges two buckets for
    * PRUNING only (the pair joins still match on the exact (band,
    * bucket)), so collisions coarsen the read, never the result.
    */
  private def bucketKey = shiftrightunsigned(
    xxhash64(col("band"), col("bucket")), 24)

  /** Band rows of a state/batch doc frame in postings-store form, BOTH
    * families in one frame: (fam, doc_id, band, bucket, sh, bh) with
    * fam 0 = SimHash (sh payload rides along for the hamming verify)
    * and fam 1 = MinHash (sh null; shingle-less docs have no rows,
    * exactly as they never band in the full build). One store
    * means one append, one stats scan and one pruned read per fold
    * instead of two of each — half the fixed job latency. The bucket is
    * normalized to its string form BEFORE the bh hash so batch-derived
    * rows and stored rows always hash identically.
    */
  def postingsAll(docsF: DataFrame): DataFrame = {
    val sim = DedupQueries.simhashBandRowsOf(
        docsF.select(col("doc_id"), col("sh")), None)
      .select(lit(0).as("fam"), col("doc_id"), col("band"),
        col("bucket").cast("string").as("bucket"), col("sh"))
    val mh = DedupQueries.minhashBandRowsOf(
        docsF.select((col("doc_id") +: DedupQueries.SigCols.map(col)): _*), None)
      .select(lit(1).as("fam"), col("doc_id"), col("band"),
        col("bucket").cast("string").as("bucket"),
        lit(null).cast("long").as("sh"))
    sim.unionByName(mh).withColumn("bh", bucketKey)
  }

  /** Upper bound on one doc's rows in [[postingsAll]]: 4 SimHash bands
    * plus 4 MinHash bands (a shingle-less doc has only the SimHash 4).
    */
  val BandRowsPerDoc: Int = 8

  /** The postings store's schema — passed to the pruned read so a fold
    * never pays a footer-inference job.
    */
  val PostingsSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("fam", IntegerType), StructField("doc_id", LongType),
      StructField("band", IntegerType), StructField("bucket", StringType),
      StructField("sh", LongType), StructField("bh", LongType)))
  }

  /** Above this many distinct batch bucket keys the fold skips the
    * key restriction and reads the corpus band rows whole (still skinny
    * band rows — never the wide doc store). Under it the keys prune
    * postings FILES by their `bh` zones — the hourly-micro-batch regime:
    * a 100-doc batch touches ~800 buckets, so a 100 TB store of ~10k
    * files is read through <=800 of them — and a codegen InSet drops
    * every untouched bucket's ROWS before the census and the pair joins
    * (round 11: a semi-JOIN here cost 1.6x the fold; a driver-broadcast
    * InSet is the join-free form).
    */
  val TouchedKeyLimit: Int = 200000

  /** Fold a new batch into the state (frame-level composition of
    * [[prepareBatch]] + [[foldLabels]]). Existing docs can only LOSE
    * retained status (a batch doc bridging two old clusters merges
    * them — the higher representative drops), exactly as a from-scratch
    * rebuild would decide.
    */
  def addBatch(state: DataFrame, batch: DataFrame, minChars: Long = 100): DataFrame = {
    // the rebuild-parity argument requires batch ids ABOVE all state ids
    // (component minima must not migrate; equal ids would fan out every
    // doc_id join) — two scalar aggs turn silent corruption into an error
    val smax = state.agg(max(col("doc_id"))).collect()(0)
    val bmin = batch.agg(min(col("doc_id"))).collect()(0)
    if (!smax.isNullAt(0) && !bmin.isNullAt(0)) {
      require(bmin.getLong(0) > smax.getLong(0),
        s"addBatch: batch doc_ids must exceed all state doc_ids " +
          s"(state max ${smax.getLong(0)}, batch min ${bmin.getLong(0)})")
    }
    val stateDocs = state.drop("component")
    val comps = state.select(col("doc_id"), col("component"))
    val prep = prepareBatch(stateDocs, batch, minChars)
    val labels = foldLabels(stateDocs, comps, prep) match {
      case CompDelta(batchLabels, changed) =>
        overrideMapping(comps, prep, batchLabels.unionByName(state.sparkSession
          .createDataFrame(changed.map(c => (c.docId, c.component)))
          .toDF("doc_id", "component")))
      case FullRelabel(all) => all
    }
    stateDocs.unionByName(prep.rows).join(labels, Seq("doc_id"))
  }

  /** The curated corpus a state represents: cluster representatives
    * with the deterministic split and token count — the same output
    * frame [[CurationQueries.curate]] builds from scratch.
    */
  def corpus(state: DataFrame): DataFrame =
    CurationQueries.withSplitAndTokens(
      state.filter(col("doc_id") === col("component")).drop(MetaCols: _*))
}
