package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.layout.LayoutWriter
import graft.layout.LayoutWriter.LayoutSpec
import graft.table.SfcTable

/** A PERSISTED search index: the scale path for repeated retrieval over
  * a corpus that is too big to re-tokenize per query.
  *
  * [[InvertedIndex]]'s inline operators re-derive postings from text on
  * every call — right for one-off queries, wrong for a 100 TB corpus
  * served many queries. `build` pays the tokenize+explode ONCE and
  * stores:
  *  - `dir/postings` — positional postings `(term, doc_id, pos)`,
  *    linear-sorted by term through [[LayoutWriter]], so the zone-map
  *    manifest gives every file a term min–max and
  *    [[SfcTable.open]]-based readers skip whole files on term
  *    predicates (the same machinery the layout family is graded on —
  *    an `IN (query terms)` scan opens only the files holding those
  *    terms' postings);
  *  - `dir/doclen` — `(doc_id, dl)`, the BM25 length normalizer, two
  *    longs per doc.
  *
  * Query-time work is then O(matching postings) + one small doclen
  * scan: no text column is ever read. At warehouse scale the postings
  * table is the one you'd compact/bucket further with the table
  * maintenance family; its layout is a plain graft table, so Compactor
  * and zone-map tooling apply unchanged.
  */
object SearchIndex {

  /** Tokenize once and persist the index tables. `numFiles` bounds the
    * postings file count (term-range-sorted; more files = finer skips).
    */
  def build(df: DataFrame, idCol: String, textCol: String, dir: String,
      numFiles: Int = 16): Unit = {
    LayoutWriter.write(InvertedIndex.postings(df, idCol, textCol),
      s"$dir/postings", LayoutSpec("linear", Seq("term"),
        numFiles = Some(numFiles)))
    InvertedIndex.docLengths(df, idCol, textCol)
      .write.mode("overwrite").parquet(s"$dir/doclen")
  }

  /** The postings table with zone-map file skipping active. */
  def postings(spark: SparkSession, dir: String): DataFrame =
    SfcTable.open(spark, s"$dir/postings")

  /** Fold a NEW document batch into the stored index without touching
    * existing files: the batch's postings append as term-sorted files
    * whose entries the write itself records, and join the manifest —
    * O(batch), the same incremental contract as `Curate add`.
    * Batch files overlap the old files' term ranges, so skipping
    * degrades as batches accumulate; [[optimize]] restores one global
    * term sort. Caller owns doc_id disjointness (index a curated
    * corpus, not raw arrivals).
    */
  def add(spark: SparkSession, batch: DataFrame, idCol: String,
      textCol: String, dir: String, batchFiles: Int = 4): Unit = {
    val pdir = s"$dir/postings"
    val before = graft.layout.ZoneMap.read(pdir)
    val staged = graft.layout.StagedRewrite.stage(
      graft.layout.StagedRewrite.stagingDir(pdir, "add"),
      LayoutWriter.cut(InvertedIndex.postings(batch, idCol, textCol),
        before.layout, before.layoutCols, before.bits, batchFiles).rows,
      Nil, before.statsCols)
    // an empty batch appends no file: skip the whole update, or the
    // manifest and doclen would fall out of step
    if (staged.files.nonEmpty) {
      // appends remove nothing, but a racing optimize() rewrites the
      // whole postings set - the commit fails loudly instead
      graft.layout.StagedRewrite.commit(spark,
        graft.layout.StagedRewrite.Pending(pdir, before, Nil, staged))
      appendParts(InvertedIndex.docLengths(batch, idCol, textCol), s"$dir/doclen")
    }
  }

  /** Append `df` to the parquet dir `dest` as new part files: written
    * into a fresh hidden staging dir inside `dest`, then each part file
    * moves in under its own uuid name. Writing straight into `dest` in
    * append mode would rewrite its `_SUCCESS` marker and checksum in
    * place, and replacing a non-empty file forces a flush on ext4.
    * Readers skip the hidden staging dir.
    */
  private def appendParts(df: DataFrame, dest: String): Unit = {
    val stage = new org.apache.hadoop.fs.Path(dest, s".append_tmp-${java.util.UUID.randomUUID()}")
    df.write.mode("overwrite").parquet(stage.toString)
    val fs = stage.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    fs.listStatus(stage).map(_.getPath).filter(_.getName.startsWith("part-"))
      .foreach(f => fs.rename(f, new org.apache.hadoop.fs.Path(dest, f.getName)))
    fs.delete(stage, true)
  }

  /** Re-sort the postings into one global term order (the maintenance
    * pass after a run of [[add]]s) — delegates to the table-maintenance
    * family; the index is a plain graft table.
    */
  def optimize(spark: SparkSession, dir: String,
      targetFileBytes: Long = graft.layout.Compactor.DefaultTargetFileBytes): Unit =
    graft.layout.Compactor.compact(spark, s"$dir/postings", targetFileBytes)

  /** Frozen BM25 corpus statistics for a query — the driver-side handle
    * that lets a STREAM score arrivals without joins (see
    * EventStream.bm25Score). Reading df(t) touches only the query
    * terms' postings files; N/avgdl come from the doclen table.
    */
  case class Bm25Stats(n: Long, avgdl: Double, df: Map[String, Long])

  def stats(spark: SparkSession, dir: String, terms: Seq[String]): Bm25Stats = {
    val dl = spark.read.parquet(s"$dir/doclen")
    val r = dl.agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl")).collect()(0)
    val dfm = postings(spark, dir).filter(col("term").isin(terms: _*))
      .groupBy(col("term")).agg(countDistinct(col("doc_id")).as("df"))
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    Bm25Stats(r.getLong(0), r.getDouble(1), dfm)
  }

  /** BM25 top scores from the stored index — identical math and output
    * to [[InvertedIndex.bm25]], but reads only the query terms' postings
    * files plus the doclen table; the corpus text is never touched.
    */
  def bm25(spark: SparkSession, dir: String, terms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val post = postings(spark, dir).filter(col("term").isin(terms: _*))
    val dl = spark.read.parquet(s"$dir/doclen")
    InvertedIndex.bm25FromPostings(post, dl, k1, b)
  }

  /** Phrase search from the stored index — identical output to
    * [[InvertedIndex.phraseHits]]. The postings read is term-filtered
    * (file-skipped) and tracked, so the m join sides share one read.
    */
  def phraseHits(spark: SparkSession, dir: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phraseHits: empty phrase")
    val post = graft.runner.Materialize.track(
      postings(spark, dir).filter(col("term").isin(phrase.distinct: _*)))
    InvertedIndex.phraseFromPostings(post, phrase)
  }
}
