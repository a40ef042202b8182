package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming over the events shape (ts, user_id, event_type,
  * value). The reference has no stream processing (its only "stream" is
  * a sequence of insert batches, SURVEY.md §1.1) — this is the
  * greenfield streaming surface a continuously-ingesting lakehouse needs.
  *
  * Scale design: watermarked windowed aggregation is incremental state
  * partitioned by (window, event_type); sessionization uses
  * flatMapGroupsWithState keyed by user with an event-time timeout, so
  * state size is O(active users), not O(events).
  */
object EventStream {

  /** Hourly tumbling-window counts with a watermark — the streaming
    * equivalent of the batch q19_events_hourly query.
    */
  def hourlyCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("hour_ts"), col("event_type"),
        col("cnt"), col("sum_value"))

  /** Streaming exact dedup on an id column: state is bounded by the
    * watermark horizon (ids older than the watermark are forgotten —
    * the standard at-least-once → effectively-once pattern for
    * training-data ingest).
    */
  def dedupeStream(events: DataFrame, idCol: String,
      watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicates(idCol, "ts")

  case class Event(ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)
  case class SessionState(start: Long, last: Long, events: Int, sum: Double)
  case class Session(user_id: Long, startTs: java.sql.Timestamp,
      endTs: java.sql.Timestamp, events: Int, sumValue: Double)

  /** Stream-static enrichment: join the stream against a static
    * dimension frame. The static side re-resolves per micro-batch
    * (standard Spark stream-static join semantics) and broadcasts when
    * small — state-free, unlike stream-stream joins.
    */
  def enrich(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Streaming near-dup gate against the STATIC curated-corpus state:
    * newly arriving documents are dropped on arrival when they sit at
    * SimHash hamming <= 3 from any already-curated doc — the streaming
    * twin of IncrementalCuration's batch near-dup check. EXACT by the
    * same pigeonhole as the batch q31 band join (hamming <= 3 ⇒ at
    * least one of the four 15-bit bands is identical), expressed as
    * four CHAINED stream-static LEFT ANTI equi-joins, one per band: a
    * doc survives only if every band join misses. Each join's key is
    * the band value — hash-joinable, so the state side shuffles or
    * broadcasts like any dimension and there is NO nested-loop scan;
    * state-free on the stream side (no watermark needed — stream-static
    * anti joins keep no stream state).
    *
    * `stateSig` is the stored `(sh)` signature column of the curated
    * corpus (Curate writes it in state/docs); re-resolved per
    * micro-batch, so a corpus grown between batches gates later
    * arrivals against the newer state.
    */
  def nearDupGate(docs: DataFrame, stateSig: DataFrame): DataFrame = {
    import graft.text.TextFunctions._
    val s = docs.withColumn("__sh", simhash60(words(col("text"))))
    (0 until 4).foldLeft(s) { (acc, j) =>
      val st = stateSig.select(col("sh").as("__ssh"),
        simhashBand(col("sh"), j).as("__sbv"))
      acc.join(st,
        simhashBand(col("__sh"), j) === col("__sbv") &&
          hamming(col("__sh"), col("__ssh")) <= 3,
        "left_anti")
    }.drop("__sh")
  }

  /** The full streaming arrival gate — the streaming twin of the batch
    * curation pipeline's per-doc stages: quality floor, exact dedup
    * against the stored corpus (anti join on the content hash), then
    * the [[nearDupGate]] band joins. All three are stateless on the
    * stream side (per-row expressions + stream-static anti joins), so
    * the gate runs at ingest rate with no watermark or state store;
    * within-batch duplicates are left to the periodic batch fold
    * (IncrementalCuration), which also refreshes `state` so later
    * micro-batches gate against the grown corpus.
    *
    * `state` needs the stored `(__h, sh)` columns (content-hash +
    * simhash signature — both written by Curate's state store,
    * IncrementalCuration.initState).
    */
  def arrivalGate(docs: DataFrame, state: DataFrame,
      minChars: Long = 100): DataFrame = {
    val fresh = docs.filter(col("n_chars") >= minChars)
      .withColumn("__fp", md5(col("text")))
      .join(state.select(col("__h").as("__fp")), Seq("__fp"), "left_anti")
      .drop("__fp")
    nearDupGate(fresh, state.select(col("sh")))
  }

  /** Streaming BM25 scoring: score each ARRIVING doc against a fixed
    * query under corpus statistics frozen from the persisted index
    * (SearchIndex.stats) — relevance/contamination triage at ingest
    * rate. 100% stateless and join-free: per-term tf is a per-row
    * array-count expression over the tokenized text, doc length is
    * `size(words)`, and N/avgdl/df enter the plan as literals — no
    * explode, no aggregation, no watermark, no state store. Identical
    * math to InvertedIndex.bm25 (Lucene-style non-negative idf);
    * parity pinned in the suite. Docs containing no query term score
    * 0.0 (they are not dropped — triage, not a gate).
    */
  def bm25Score(docs: DataFrame,
      stats: graft.operators.SearchIndex.Bm25Stats, terms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import graft.text.TextFunctions.words
    val ws = words(col("text"))
    val dl = size(ws).cast("double")
    val termScores = terms.distinct.flatMap { t =>
      stats.df.get(t).map { dft =>
        val idf = math.log(
          (stats.n - dft + 0.5) / (dft + 0.5) + 1.0)
        val tf = size(filter(ws, w => w === t)).cast("double")
        when(tf > 0,
          lit(idf) * tf /
            (tf + lit(k1) * (lit(1 - b) + lit(b) * dl / lit(stats.avgdl))))
          .otherwise(lit(0.0))
      }
    }
    val score =
      if (termScores.isEmpty) lit(0.0)
      else termScores.reduce(_ + _)
    docs.withColumn("score", score)
  }

  /** Stream-stream interval join — the streaming twin of the batch
    * RangeJoin: every left row opens a window `[lTs, lTs+window)` and
    * matches right rows inside it. Spark refuses stream-stream joins
    * without an equality predicate, so the same bin-bucketing trick
    * supplies one: left rows replicate to the (at most two, with
    * binWidth = window) bins their window overlaps, right rows map to
    * exactly one bin, and the exact range condition rides along as a
    * residual — each matching pair meets in exactly one bucket. The
    * two-sided event-time range over both watermarked columns is what
    * lets Spark evict buffered state older than watermark + window.
    * Column names must be disjoint; event times must be post-epoch
    * (integral `div` truncation == floor for non-negatives).
    */
  def intervalJoin(left: DataFrame, lTs: String, right: DataFrame, rTs: String,
      windowSeconds: Long = 3600, watermark: String = "2 hours"): DataFrame = {
    val w = windowSeconds * 1000000L
    val l = left.withWatermark(lTs, watermark)
      .withColumn("__ij_bin", explode(array_distinct(array(
        expr(s"unix_micros($lTs) div ${w}L"),
        expr(s"(unix_micros($lTs) + ${w - 1}L) div ${w}L")))))
    val r = right.withWatermark(rTs, watermark)
      .withColumn("__ij_bin", expr(s"unix_micros($rTs) div ${w}L"))
    l.join(r, l("__ij_bin") === r("__ij_bin")
        && expr(s"$rTs >= $lTs AND $rTs < $lTs + INTERVAL '$windowSeconds' SECOND"))
      .drop("__ij_bin")
  }

  /** Continuous keyed ingest: every micro-batch copy-on-write-upserts
    * into a graft layout table (record key + precombine from the
    * table's manifest) — the streaming half of the Hudi-style sink.
    * Caller starts/stops the returned writer; exactly-once per batch
    * comes from the upsert's precombine semantics (replayed batches
    * re-apply the same latest-wins outcome).
    */
  def upsertSink(events: DataFrame, tableDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.foreachBatch {
      (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) { graft.table.Upserter.upsert(batch.sparkSession, tableDir, batch); () }
    }

  /** Continuous corpus curation (round 13): every micro-batch of
    * arriving documents folds into a curated-corpus state dir through
    * [[graft.cli.Curate.runAdd]] — near-dup detection against the
    * stored state, component delta, corpus/summary delta, postings
    * append — so the streaming pipeline maintains exactly the corpus a
    * from-scratch rebuild over everything-so-far would produce (the
    * fold == rebuild contract, CurateCliSuite/IncBench).
    *
    * Exactly-once WITHOUT a side ledger: a fold commits atomically, so
    * a crashed one changed nothing or is finished by the next fold's
    * entry, and a replayed batch (checkpoint rewind, restarted query) is
    * a NATURAL no-op — the fold's exact-dedup drops every text the state
    * already stores. The doc_id guard below merely skips a replay's jobs
    * when it is cheap to prove (batch max id <= state max id under
    * monotone doc_ids, the contract `addBatch` requires and the stream
    * keeps: an arrival sequence number qualifies). Each micro-batch
    * first finishes a published fold a crash cut short
    * ([[graft.cli.Curate.recover]]): its state/docs may already hold the
    * replayed ids while summary.csv or the corpus still lag, and the
    * guard would then skip the one fold whose entry completes them.
    */
  def curationSink(docs: DataFrame, outDir: String, minChars: Long = 100)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      foldStreamBatch(batch, outDir, minChars)
    }

  /** One micro-batch of [[curationSink]]: written to a fresh stage dir
    * under `outDir/stream_stage/`, folded, and the stage deleted.
    */
  private[graft] def foldStreamBatch(batch: DataFrame, outDir: String,
      minChars: Long = 100): Unit =
    if (!batch.isEmpty) {
      graft.cli.Curate.recover(batch.sparkSession, outDir)
      // the state's max doc_id from its manifest's zones, with no job; a
      // zone max at or above 2^53 may be rounded, so it skips no batch
      val stateMax = graft.layout.ZoneMap.read(s"$outDir/state/docs").files
        .flatMap(_.ranges.get("doc_id").flatMap(_.max)).maxOption
      val batchMax = batch.agg(max(col("doc_id"))).collect()(0).getLong(0)
      if (stateMax.forall(m => m >= (1L << 53) || batchMax.toDouble > m)) {
        val stage = java.nio.file.Paths.get(outDir, "stream_stage",
          s"batch-${java.util.UUID.randomUUID()}").toString
        try {
          batch.write.parquet(s"$stage/documents.parquet")
          graft.cli.Curate.runAdd(batch.sparkSession, stage, outDir, minChars)
        } finally org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(stage))
      }
    }

  /** Gap-based sessionization (30-min inactivity closes a session) via
    * flatMapGroupsWithState with an event-time timeout.
    */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 30): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60 * 1000L

    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(user,
              new java.sql.Timestamp(s.start), new java.sql.Timestamp(s.last),
              s.events, s.sum))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[Session]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.last <= gapMs =>
                  cur = Some(s.copy(last = math.max(s.last, t),
                    events = s.events + 1, sum = s.sum + e.value))
                case Some(s) =>
                  closed ::= Session(user, new java.sql.Timestamp(s.start),
                    new java.sql.Timestamp(s.last), s.events, s.sum)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last + gapMs)
            }
            closed.reverseIterator
          }
      }
  }
}
