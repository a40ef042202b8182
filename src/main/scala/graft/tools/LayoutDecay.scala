package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.layout._
import graft.layout.LayoutWriter.LayoutSpec
import graft.table.SfcTable

/** Reference RQ7 analog on our manifest tables: LAYOUT DECAY under
  * keyed copy-on-write updates, and its repair by re-clustering
  * compaction (reference: scripts/run_RQ_7_matrix.sh — SF16 base,
  * SF4-scale update stream upserted in 10 batches, query bytes/files
  * scanned recorded after each; notebooks/figures/
  * rq7_tpch_summary_bytes_scanned_ev.csv).
  *
  * Protocol here: zorder the lineitem table on (l_quantity,
  * l_extendedprice) with a synthetic unique record key; 10 update
  * batches of ~2.5% of rows each (uniformly scattered keys — the
  * worst case for COW: every batch's key range intersects every
  * file's key zone, as a Hudi bloom-index upsert of a scattered batch
  * rewrites every touched file group). After each upsert a fixed
  * S1-band probe records files/bytes kept by zone pruning; a final
  * [[Compactor.compact]] re-runs the recorded layout sort and the
  * probe shows pruning restored.
  *
  * Usage: runMain graft.tools.LayoutDecay [sfDir] [workDir] [batches] [mode] [keysPerBatch] [source]
  * Writes workDir/layout_decay.csv (copy to results/rq7_layout/).
  *
  * `source` (round-16): `tpch` (default) is the protocol above;
  * `amazon:<rows>` swaps the base for [[AmazonGen]]'s reviews table
  * with the reference's own keyed config — COMPOSITE STRING record key
  * (user_id, asin), precombine record_timestamp, zorder layout over
  * the STRING pair (asin, parent_asin) — so the decay run exercises
  * the L15/L16 machinery (sorted COW + bloom KeyIndex) on string keys
  * end-to-end. The probe is a fixed asin IN-list (StrIn zone pruning,
  * the amazon Q3 point family); batches sample existing (user_id,
  * asin) keys and bump helpful_vote with a later precombine timestamp.
  *
  * `keysPerBatch` (round-14, optional): switch from the bulk-smear
  * protocol (~2.5% of rows per batch — every file touched, nothing can
  * scope) to the PRODUCTION regime: N uniformly-scattered keys per
  * batch with the bloom KeyIndex built on the base table, so the
  * affected set is key-proportional and the sorted rewrite touches
  * O(batch) bytes while any recluster stays O(table).
  *
  * `mode` (round-13): the three update-path variants the decay design
  * rule offers —
  *  - `plain`  (default): unsorted COW, no policy — the unmitigated
  *    cliff the round-12 artifact measured;
  *  - `sorted`: [[graft.table.Upserter]] `sortRewrites` — every rewrite
  *    re-runs the recorded layout sort within the touched file set;
  *  - `policy`: unsorted COW with `autoRecluster` — the
  *    [[Compactor.maybeRecluster]] health threshold fires a full
  *    recluster when the manifest says a point query would scan more
  *    than half the rows AND the commit-counter rate limit allows
  *    (round-14: at most one recluster per
  *    [[Compactor.MinCommitsBetweenReclusters]] keyed commits);
  *  - `sorted+policy` (round-14, the production default composition):
  *    sorted rewrites keep health low so the rate-limited policy is
  *    the rare backstop — 10 scattered upserts must trigger ≤1
  *    recluster with pruning ≤25% throughout.
  * The csv gains a `health` column (the manifest-derived expected
  * point-scan fraction) in all modes, and `reclustered` flags policy
  * fires.
  */
object LayoutDecay {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sf16")
    val work = args.lift(1).getOrElse("/tmp/graft_rq7layout")
    val nBatches = args.lift(2).map(_.toInt).getOrElse(10)
    val mode = args.lift(3).getOrElse("plain")
    require(Seq("plain", "sorted", "policy", "sorted+policy").contains(mode),
      s"unknown mode $mode (plain|sorted|policy|sorted+policy)")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.runner.Sessions
      .tuned(SparkSession.builder().master(s"local[$cpus]"), cpus, sfDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def rec(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rec)); f.delete()
    }
    rec(new java.io.File(work))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(work))
    val table = s"$work/table"

    val keysPerBatch = args.lift(4).map(_.toInt)
    val source = args.lift(5).getOrElse("tpch")

    // drift context IN the artifact (r16 stretch #8): probes first...
    val calFirst = graft.runner.Calibration.measure(spark, sfDir)

    // (base rows, probe filter, batch maker) per source — the decay
    // loop below is shared
    val (li, probeFilter, mkBatch) =
      if (source.startsWith("amazon")) {
        val rows = source.split(":").lift(1).map(_.toLong).getOrElse(8000000L)
        val nUsers = math.max(1000L, rows / 16)
        val nAsins = math.max(500L, rows / 80)
        // a user can review the same product once: the composite record
        // key must be unique in the base, as Hudi's first commit would
        // enforce via precombine
        val base = AmazonGen.reviews(spark, rows, nUsers, nAsins)
          .dropDuplicates("user_id", "asin")
        LayoutWriter.write(base, table, LayoutSpec(
          "zorder", Seq("asin", "parent_asin"), numFiles = Some(52),
          recordKeys = Seq("user_id", "asin"),
          precombineCol = Some("record_timestamp")),
          extraStatsCols = Seq("record_timestamp", "rating", "helpful_vote"))
        // fixed asin IN probe (the amazon Q3 point family): zone pruning
        // over the string layout
        val probeAsins = AmazonGen.sampleCodes(
          spark, nAsins, 8, 21, "B0", 8, seed = 4242)
        val mk = (df: org.apache.spark.sql.DataFrame, i: Int) =>
          df.orderBy(xxhash64(col("user_id"), col("asin"), lit(i)))
            .limit(keysPerBatch.getOrElse((rows / 40).toInt))
            .withColumn("helpful_vote", col("helpful_vote") + 1)
            // strictly later precombine so the update wins the dedup
            .withColumn("record_timestamp",
              col("record_timestamp") + expr(s"INTERVAL ${i + 1} SECONDS"))
        (base, col("asin").isin(probeAsins: _*), mk)
      } else {
        // l_linenumber is 1..7, so *8 folds the composite key into one
        // column; the driver's synthetic lineitem carries DUPLICATE
        // (orderkey, linenumber) pairs (sf0.1: 600k rows, 457k distinct),
        // so the keyed base table dedups once up front — an upsert
        // experiment needs a well-defined record key, exactly as Hudi's
        // first commit on such data would collapse them
        val base = graft.Tables.load(spark, sfDir, "lineitem")
          .withColumn("lkey", col("l_orderkey") * 8 + col("l_linenumber"))
          .dropDuplicates("lkey")
        LayoutWriter.write(base, table, LayoutSpec(
          "zorder", Seq("l_quantity", "l_extendedprice"),
          numFiles = Some(52), recordKey = Some("lkey")))
        val mk = (df: org.apache.spark.sql.DataFrame, i: Int) =>
          (keysPerBatch match {
            case Some(n) => df.orderBy(xxhash64(col("lkey"), lit(i))).limit(n)
            case None => df.filter(col("lkey") % 4 === 0 &&
              pmod(xxhash64(col("lkey")), lit(nBatches)) === i)
          }).withColumn("l_extendedprice", col("l_extendedprice") * 1.001)
        // fixed S1-band probe (~2.2% per dimension, the rq1 protocol's
        // finest band): zone pruning quality is (files, bytes) kept
        (base,
          col("l_quantity").between(24.0, 25.0) &&
            col("l_extendedprice").between(30000.0, 32000.0), mk)
      }
    keysPerBatch.foreach(_ => KeyIndex.build(spark, table))
    // rewrite/compaction file sizing follows the BASE table: the fixed
    // 48 MB (the sf16 lineitem ratio) over-merges a smaller table's
    // sorted rewrites — 12 touched ~9 MB files bin-pack into 2, the
    // file count halves in a few batches, and pruning granularity dies
    // of CONSOLIDATION rather than clustering decay (observed on the
    // amazon run before this derivation)
    val targetBytes = {
      val m0 = ZoneMap.read(table)
      val total = m0.files.flatMap(_.bytes).sum
      math.max(8L * 1024 * 1024,
        if (m0.files.nonEmpty) total / m0.files.length else 48L * 1024 * 1024)
    }
    val csv = new scala.collection.mutable.ArrayBuffer[String]
    csv += "phase,batch,files_kept,files_total,bytes_kept_mb,bytes_total_mb,probe_rows,probe_sec,mutate_sec,health,reclustered"
    var lastReclustered = false
    def probe(phase: String, batch: Int, mutateSec: Double): Unit = {
      val t0 = System.nanoTime()
      val probeDf = SfcTable.open(spark, table).filter(probeFilter)
      val m = graft.runner.QueryRunner.run(spark, probeDf, s"probe-$phase-$batch")
      val sec = (System.nanoTime() - t0) / 1e9
      val view = SfcTable.pruned(probeDf).get
      val health = Compactor.clusteringHealth(ZoneMap.read(table))
        .map(h => f"$h%.3f").getOrElse("")
      csv += f"$phase,$batch,${m.filesScanned},${view.filesTotal}," +
        f"${m.filesSize / 1e6}%.1f,${view.bytesTotal / 1e6}%.1f,${m.rows},$sec%.3f,$mutateSec%.2f,$health,$lastReclustered"
      println(csv.last)
    }
    probe("base", 0, 0.0)

    // ~25% of keys form the update stream, hash-split into batches —
    // the reference's SF4-source-into-SF16-base ratio; the price bump
    // keeps values inside the probe's domain (updates, not drift)
    for (i <- 0 until nBatches) {
      val batch0 = mkBatch(li, i)
      // small batches MATERIALIZE before the timer: the sampler re-runs
      // li's dropDuplicates shuffle (~the whole table) lazily inside the
      // upsert otherwise, drowning the actual O(touched-files) mutate
      // cost this regime exists to measure. Bulk batches stay lazy —
      // streaming 2.5% of the table through the writer is the protocol.
      val batch = keysPerBatch match {
        case Some(_) =>
          val rows = batch0.collect()
          spark.createDataFrame(
            new java.util.ArrayList(java.util.Arrays.asList(rows: _*)),
            batch0.schema)
        case None => batch0
      }
      val t0 = System.nanoTime()
      val res = graft.table.Upserter.upsertResult(spark, table, batch,
        sortRewrites = mode == "sorted" || mode == "sorted+policy",
        autoRecluster = mode == "policy" || mode == "sorted+policy",
        targetFileBytes = targetBytes)
      lastReclustered = res.reclustered
      probe("upsert", i + 1, (System.nanoTime() - t0) / 1e9)
    }

    // repair: compaction re-runs the recorded layout sort (L5's
    // "never degrades clustering" contract) and pruning returns
    val t0 = System.nanoTime()
    Compactor.compact(spark, table, targetFileBytes = targetBytes)
    probe("compacted", nBatches + 1, (System.nanoTime() - t0) / 1e9)

    java.nio.file.Files.write(
      java.nio.file.Paths.get(work, "layout_decay.csv"),
      csv.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // ...and last: the decay numbers carry their own drift context
    val calLast = graft.runner.Calibration.measure(spark, sfDir)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(work, "calibration.json"),
      (graft.runner.Calibration.inRunJson(calFirst, calLast) + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[layoutdecay] -> $work/layout_decay.csv (+calibration.json)")
    spark.stop()
  }
}
