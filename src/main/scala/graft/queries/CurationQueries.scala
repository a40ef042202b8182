package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.text.TextFunctions._

/** The end-to-end training-data curation pipeline, as ONE composed
  * lazy plan: quality gate → exact dedup (keep min-id per content hash)
  * → near-dup CLUSTER dedup (union of verified-MinHash and SimHash
  * signals → connected components → keep each cluster's min-id
  * representative) → deterministic hash split → per-split/lang corpus
  * accounting. This is the composition a reference user would run
  * end-to-end; every stage is an operator already gated individually
  * (q24-q31, q69, q71), composed here the way a real corpus build
  * chains them.
  *
  * Scale shape: the quality gate and content hash are map-side; exact
  * dedup is one hash shuffle; the near-dup graph is banded (never
  * all-pairs) and its component step is the log-round
  * large-star/small-star operator; the split is a pure column
  * expression. Nothing is driver-side.
  */
object CurationQueries {

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.parallelized(Tables.load(s, d, "documents"))

  /** The curated corpus: input docs reduced to quality-gated,
    * exact-deduped, cluster-deduped survivors, each with its
    * deterministic split and token count attached. The CLI writes this
    * frame; q72 rolls it up.
    */
  def curate(dd: DataFrame, minChars: Long = 100): DataFrame = {
    // 1. quality gate (deterministic min-length floor)
    val base = dd.filter(col("n_chars") >= minChars)
    // 2. exact dedup decided on a light proxy (guide §8): only
    //    (md5, doc_id) flows into the winner-per-hash aggregate, and the
    //    winner id set joins back on doc_id ALONE — doc_id is unique, so
    //    the ("__h","doc_id") join key the old shape used forced a
    //    second md5 pass over the probe side for nothing (r20, §1.2).
    val keepIds = base
      .select(col("doc_id"), md5(col("text")).as("__h"))
      .groupBy(col("__h")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    // kept feeds three downstream consumers (simhash signatures,
    // shingle index, final projection) — materialize once per run,
    // WITH the token array: the regex tokenizer runs once here and the
    // near-dup signals plus the final n_tok projection all read the
    // stored column (r20, guide §1.2 — the old pipeline re-tokenized
    // the survivors after the edge builder had already tokenized them).
    // trackLazy: deterministic (join of deterministic frames on a unique
    // key), and the ONE first action over it is the edge builder's fused
    // band census, which scans every partition through the token projection —
    // the eager count() was a redundant full corpus pass (r20)
    val kept = graft.runner.Materialize.trackLazy(
      base.join(keepIds, Seq("doc_id")).withColumn("__ws", words(col("text"))))
    // 3. near-dup cluster dedup: union signal edges, CC, keep each
    //    component's min (== the component label itself)
    val dropIds = graft.operators.ConnectedComponents.run(
        DedupQueries.nearDupEdgesFromTokens(
          kept.select(col("doc_id"), col("__ws").as("ws"))).edges)
      .filter(col("id") =!= col("component"))
      .select(col("id").as("doc_id"))
    // no broadcast hint: on a dup-heavy corpus the drop set is
    // corpus-scale; AQE broadcasts it while it is actually small
    val uniq = kept.join(dropIds, Seq("doc_id"), "left_anti")
    // 4. deterministic split + token count
    withSplitAndTokens(uniq)
  }

  /** Deterministic hash split (80/10/10 on md5 of the doc id — stable
    * under corpus growth, so incremental curation assigns the same
    * split a from-scratch build would) plus the token count. Shared by
    * [[curate]] and [[IncrementalCuration.corpus]].
    */
  private[queries] def withSplitAndTokens(df: DataFrame): DataFrame = {
    val bucket = conv(substring(
      md5(concat(lit("split|"), col("doc_id").cast("string"))), 1, 4),
      16, 10).cast("long") % 100
    // a caller that already tokenized (curate's cached __ws) hands the
    // stored array over instead of paying a fresh regex pass; the
    // incremental corpus() path has no __ws and tokenizes here as before
    val nTok =
      if (df.columns.contains("__ws")) size(col("__ws"))
      else size(words(col("text")))
    df
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
      .withColumn("n_tok", nTok)
      .drop("__ws")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q72_curation_pipeline" -> ((s, d) =>
      curate(docs(s, d))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("total_tokens"))
        .orderBy(col("split"), col("lang"))),

    // Benchmark-contamination detection: flag training docs sharing >= 3
    // distinct 5-gram shingles with the held-out eval set (simulated
    // here as a deterministic 1% id slice — in production the eval set
    // is the benchmark suite). Inverted-index join on the 60-bit shingle
    // hash: the eval shingle set is benchmark-sized (tiny — AQE
    // broadcasts it), the train side streams, output is bounded by the
    // train shingle count — linear at 100 TB, no pair blow-up. Joining
    // on the hash instead of the string cuts shuffle payload ~4x; the
    // oracle joins on the raw string, so a 60-bit collision could flag
    // one extra doc on the Spark side only — negligible, not impossible.
    "q73_contamination" -> ((s, d) => {
      val dd = docs(s, d)
      val isEval = pmod(col("doc_id"), lit(100)) === 7
      val sh5 = (f: DataFrame) => f.select(col("doc_id"), col("lang"),
        explode(shinglesDistinct(words(col("text")), 5)).as("shingle"))
        .withColumn("h", wordHash60(col("shingle"))).drop("shingle")
      val evalSh = sh5(dd.filter(isEval)).select(col("h")).distinct()
      val trainSh = sh5(dd.filter(!isEval))
      val contaminated = trainSh.join(evalSh, "h")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_common"))
        .filter(col("n_common") >= 3)
        .select(col("doc_id"), lit(1).as("__c"))
      dd.filter(!isEval)
        .join(contaminated, Seq("doc_id"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_train"),
          count(col("__c")).as("n_contaminated"))
        .orderBy(col("lang"))
    }),

    // Stratified sampling for dataset mixing: per-language keep rates
    // applied via the deterministic md5 bucket (same trick as the q71
    // split — reproducible across runs and cluster sizes, no RNG state).
    // Downsamples the dominant language to rebalance the mix; a pure
    // column expression, map-side only until the final rollup.
    "q74_stratified_sample" -> ((s, d) => {
      val dd = docs(s, d)
      val bucket = conv(substring(
        md5(concat(lit("mix|"), col("doc_id").cast("string"))), 1, 4),
        16, 10).cast("long") % 1000
      val rate = when(col("lang") === "en", 500L).otherwise(1000L) // en: 50%
      dd.filter(bucket < rate)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sampled"),
          sum(size(words(col("text")))).cast("bigint").as("total_tokens"))
        .orderBy(col("lang"))
    }),

    // Sequence packing: chain docs (in stable doc_id order) into
    // fixed-budget 2048-token training sequences via the distributed
    // cumulative-sum operator (range exchange + broadcast offsets — no
    // global window, GlobalRanks.packByBudget). Output: corpus-level
    // packing accounting. The per-seq rollup shuffles |sequences| rows —
    // corpus_tokens/2048, linear.
    "q77_seq_packing" -> ((s, d) => {
      val t = docs(s, d).select(col("doc_id"),
        size(words(col("text"))).cast("long").as("n_tok"))
      val packed = graft.operators.GlobalRanks
        .packByBudget(t, "doc_id", "n_tok", 2048L)
      packed.groupBy(col("seq_id"))
        .agg(count(lit(1)).as("docs"), sum(col("n_tok")).as("toks"))
        .agg(count(lit(1)).as("n_seqs"),
          sum(col("docs")).as("n_docs"),
          max(col("docs")).as("max_docs_per_seq"),
          min(col("toks")).as("min_seq_tokens"),
          max(col("toks")).as("max_seq_tokens"))
    }),

    // Deterministic weighted sampling: priority sampling (Duffield, Lund
    // & Thorup, JACM'07) with priority w/u — w the doc's token count, u
    // a uniform 60-bit md5 hash of its id — and the top 10 priorities
    // kept per language. Longer docs are proportionally likelier to be
    // drawn, yet membership is a pure function of the corpus (no RNG
    // state, stable under re-runs/appends — same property as q71/q74).
    // Runs on the TopKByScore aggregate: k-bounded heaps map-side, no
    // per-lang window over the corpus. Priorities are exact IEEE
    // divisions of identical integers, so both engines rank identically.
    "q83_weighted_sample" -> ((s, d) => {
      val u = conv(substring(
        md5(concat(lit("ws|"), col("doc_id").cast("string"))), 1, 15),
        16, 10).cast("long")
      val t = docs(s, d).select(col("lang"), col("doc_id"),
        size(words(col("text"))).cast("long").as("n_tok"))
        .withColumn("priority",
          col("n_tok").cast("double") / (u + 1).cast("double"))
      t.groupBy(col("lang"))
        .agg(graft.operators.TopKAgg
          .topKByScore(col("priority"), col("doc_id").cast("string"), 10).as("top"))
        .select(col("lang"), posexplode(col("top")))
        .select(col("lang"), (col("pos") + 1).cast("int").as("rk"),
          col("col.payload").cast("long").as("doc_id"))
        .orderBy(col("lang"), col("rk"))
    }),

    // Token-budget mixture sampling: given a global token budget (half
    // the corpus) split equally across languages, derive each
    // language's deterministic keep-rate — min(1, langShare/langTokens)
    // as an integer bucket cut so both engines compute identical
    // arithmetic — and sample via the md5 bucket. The rate table is a
    // #langs-row frame (broadcast); docs stream through one hash-bucket
    // filter: map-side at 100 TB, and re-runs/new shards keep identical
    // membership (no RNG).
    "q78_mixture_budget" -> ((s, d) => {
      val t = graft.runner.Materialize.track(
        docs(s, d).select(col("doc_id"), col("lang"),
          size(words(col("text"))).cast("long").as("n_tok")))
      val lt = t.groupBy(col("lang")).agg(sum(col("n_tok")).as("tok"))
      val g = lt.agg((sum(col("tok")).cast("long")).as("total"),
        count(lit(1)).as("nl"))
      val cuts = lt.crossJoin(broadcast(g))
        .withColumn("cut",
          least(lit(10000L), expr("(10000 * ((total DIV 2) DIV nl)) DIV tok")))
        .select(col("lang"), col("cut"))
      val bucket = conv(substring(
        md5(concat(lit("mixb|"), col("doc_id").cast("string"))), 1, 4),
        16, 10).cast("long") % 10000
      t.join(broadcast(cuts), "lang")
        .filter(bucket < col("cut"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_tok")).as("kept_tokens"),
          max(col("cut")).as("bucket_cut"))
        .orderBy(col("lang"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q72_curation_pipeline" ->
      s"""WITH RECURSIVE
         |base AS (SELECT * FROM documents WHERE n_chars >= 100),
         |keep1 AS (SELECT min(doc_id) AS doc_id FROM base GROUP BY md5(text)),
         |kept AS (SELECT b.* FROM base b JOIN keep1 USING (doc_id)),
         |${DedupQueries.shingleCteFrom("kept")},
         |${DedupQueries.nearDupEdgeCtes("kept")},
         |${DedupQueries.ccCtes},
         |uniq AS (
         |  SELECT * FROM kept
         |  WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> component))
         |SELECT split, lang, count(*) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS total_tokens
         |FROM (SELECT lang,
         |        CASE WHEN b < 80 THEN 'train'
         |             WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
         |        len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tok
         |      FROM (SELECT lang, text,
         |              ('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
         |                % 100 AS b
         |            FROM uniq))
         |GROUP BY split, lang ORDER BY split, lang""".stripMargin,
    // contamination: same 5-gram shingle universe, eval = the 1% id
    // slice, >= 3 shared distinct shingles flags a train doc
    "q73_contamination" ->
      """WITH base AS (
        |  SELECT doc_id, lang, text, doc_id % 100 = 7 AS is_eval FROM documents),
        |sh5 AS (
        |  SELECT doc_id, is_eval,
        |    unnest(list_distinct(list_transform(
        |      generate_series(1, greatest(len(ws)-4, 0)),
        |      i -> array_to_string(ws[i:i+4], ' ')))) AS shingle
        |  FROM (SELECT doc_id, is_eval,
        |          string_split_regex(lower(trim(text)), '\s+') AS ws
        |        FROM base)),
        |ev AS (SELECT DISTINCT shingle FROM sh5 WHERE is_eval),
        |cont AS (
        |  SELECT doc_id FROM sh5 JOIN ev USING (shingle)
        |  WHERE NOT is_eval GROUP BY doc_id HAVING count(*) >= 3)
        |SELECT lang, count(*) AS n_train,
        |  CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM cont)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated
        |FROM base WHERE NOT is_eval
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q74_stratified_sample" ->
      """SELECT lang, count(*) AS n_sampled,
        |  CAST(sum(len(string_split_regex(lower(trim(text)), '\s+'))) AS BIGINT)
        |    AS total_tokens
        |FROM (SELECT lang, text,
        |        ('0x' || substr(md5('mix|' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
        |          % 1000 AS b
        |      FROM documents)
        |WHERE b < CASE WHEN lang = 'en' THEN 500 ELSE 1000 END
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q83_weighted_sample" ->
      """WITH t AS (
        |  SELECT lang, doc_id,
        |    len(string_split_regex(lower(trim(text)), '\s+')) AS n_tok,
        |    ('0x' || substr(md5('ws|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS u
        |  FROM documents),
        |p AS (
        |  SELECT lang, doc_id,
        |    CAST(n_tok AS DOUBLE) / CAST(u + 1 AS DOUBLE) AS pr
        |  FROM t),
        |rk AS (
        |  SELECT lang, doc_id, row_number() OVER (
        |    PARTITION BY lang ORDER BY pr DESC, CAST(doc_id AS VARCHAR)) AS rk
        |  FROM p)
        |SELECT lang, CAST(rk AS INTEGER) AS rk, doc_id
        |FROM rk WHERE rk <= 10 ORDER BY lang, rk""".stripMargin,
    "q77_seq_packing" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(string_split_regex(lower(trim(text)), '\s+')) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tok,
        |    coalesce(sum(n_tok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
        |  FROM t),
        |s AS (
        |  SELECT before // 2048 AS seq_id, count(*) AS docs, sum(n_tok) AS toks
        |  FROM c GROUP BY 1)
        |SELECT count(*) AS n_seqs,
        |  CAST(sum(docs) AS BIGINT) AS n_docs,
        |  CAST(max(docs) AS BIGINT) AS max_docs_per_seq,
        |  CAST(min(toks) AS BIGINT) AS min_seq_tokens,
        |  CAST(max(toks) AS BIGINT) AS max_seq_tokens
        |FROM s""".stripMargin,
    "q78_mixture_budget" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    len(string_split_regex(lower(trim(text)), '\s+')) AS n_tok
        |  FROM documents),
        |lt AS (SELECT lang, sum(n_tok) AS tok FROM t GROUP BY lang),
        |g AS (SELECT sum(tok) AS total, count(*) AS nl FROM lt),
        |cuts AS (
        |  SELECT lang, least(10000, (10000 * ((total // 2) // nl)) // tok) AS cut
        |  FROM lt, g)
        |SELECT t.lang, count(*) AS n_kept,
        |  CAST(sum(t.n_tok) AS BIGINT) AS kept_tokens,
        |  CAST(max(cut) AS BIGINT) AS bucket_cut
        |FROM t JOIN cuts ON t.lang = cuts.lang
        |WHERE ('0x' || substr(md5('mixb|' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
        |  % 10000 < cut
        |GROUP BY t.lang ORDER BY t.lang""".stripMargin
  )
}
