package graft.layout

import org.apache.spark.sql.SparkSession

/** Bin-packing compaction — the reference's L5 (Delta OPTIMIZE
  * executeCompaction, Iceberg rewrite_data_files binpack, Hudi small-file
  * clustering; reference: lakehouse_op/delta_write_layout.py:199-209,
  * iceberg_write_layout.py:215-224, hudi_write_layout.py:119-123).
  *
  * Rewrites a table dir into files of ~targetFileBytes, preserving the
  * recorded layout order (re-runs the layout sort so compaction never
  * degrades clustering). Sizes come from the manifest's recorded file
  * bytes; the rewrite commits through [[StagedRewrite.commit]] like every
  * other mutation, so no half-compacted table is ever visible and a
  * racing commit aborts the compaction instead of being overwritten.
  */
object Compactor {

  val DefaultTargetFileBytes: Long = 128L * 1024 * 1024 // reference default

  /** Rows-weighted expected fraction of the table's ROWS a point query
    * on `c` must scan, straight off the manifest (no Spark job):
    * Σ_f rows_f · width_f / (total_rows · global_width), where width is
    * the file's zone extent on `c`. A perfectly range-partitioned
    * column scores ~1/numFiles; a fully smeared one scores ~1. Rows
    * weighting matters: one giant unsorted file among many narrow ones
    * IS most of the damage, and a file-count average would hide it.
    * STRING layout columns (round-16): widths come from the same
    * lexicographic prefix code the curve writers normalize strings
    * through ([[StringCode]], the ONE shared implementation — round-17)
    * applied to the stored min/max strings — so the health metric sees
    * exactly the domain the layout was clustered in, and the
    * auto-recluster policy is no longer blind on string-keyed tables
    * (the amazon decay run measured an empty health column while
    * pruning decayed 34 -> 46 files kept). Deep-common-prefix pools
    * are handled by the same common-prefix strip the writer applies
    * (round-17; pre-strip they collapsed the code to width 0 —
    * results/rq1_amazon C1deep). None when the column has
    * neither numeric nor string stats or the manifest has no rows.
    * Files with missing/all-null stats for `c` count as full-width
    * (they can never be pruned).
    */
  def scanFraction(manifest: TableManifest, c: String): Option[Double] = {
    val entries = manifest.files.filter(_.rows > 0)
    // Global common-prefix skip for string stats, derived from the
    // manifest's own min/max (every value in [gMin, gMax] shares their
    // common prefix — StringCode doc), so the metric measures the SAME
    // stripped domain a fresh curve write of this data would cluster
    // in. Self-adapting: appends that widen the prefix pool shrink the
    // skip here automatically, no dependence on the recorded
    // manifest.strOffsets.
    val strSkip: Int = {
      val ss = entries.flatMap(_.ranges.get(c)).filterNot(_.allNull)
        .flatMap(r => r.minStr.toSeq ++ r.maxStr.toSeq)
      if (ss.isEmpty) 0
      else StringCode.commonPrefixLen(
        ss.reduce((a, b) => if (StrOrder.lte(a, b)) a else b),
        ss.reduce((a, b) => if (StrOrder.gte(a, b)) a else b))
    }
    val spans = entries.map { f =>
      f.ranges.get(c) match {
        case Some(r) if !r.allNull =>
          val num = for { mn <- r.min; mx <- r.max } yield (mn, mx)
          def str = for { mn <- r.minStr; mx <- r.maxStr }
            yield (StringCode.code(mn, strSkip), StringCode.code(mx, strSkip))
          (f.rows, num.orElse(str))
        case _ => (f.rows, None)
      }
    }
    val known = spans.flatMap { case (_, s) => s }
    if (known.isEmpty) return None
    val gMin = known.map(_._1).min
    val gMax = known.map(_._2).max
    val w = gMax - gMin
    val totalRows = spans.map(_._1).sum
    if (totalRows <= 0) return None
    if (w <= 0) return Some(0.0) // single-valued column: pruning is moot
    val weighted = spans.map {
      case (rows, Some((mn, mx))) => rows * ((mx - mn) / w)
      case (rows, None) => rows.toDouble // unstatted file: never prunable
    }.sum
    Some(weighted / totalRows)
  }

  /** Clustering health of the table's declared layout: the WORST (max)
    * [[scanFraction]] across layout columns — a table is as decayed as
    * its most-smeared clustering column. None when no layout column has
    * numeric stats. Note the healthy baseline depends on the layout
    * family: linear partitions its leading column (~1/N), a d-column
    * space-filling curve tiles each column at ~N^(-1/d) — both far
    * under [[DefaultDecayThreshold]] for real file counts, while COW
    * smear drives the metric toward 1 regardless of family.
    */
  def clusteringHealth(manifest: TableManifest): Option[Double] = {
    val fs = manifest.layoutCols.flatMap(scanFraction(manifest, _))
    if (fs.isEmpty) None else Some(fs.max)
  }

  /** Recluster when a point query is expected to scan more than this
    * fraction of the table's rows on some layout column.
    */
  val DefaultDecayThreshold: Double = 0.5

  /** Below this many files the metric is dominated by granularity, not
    * decay (a healthy 4-file zorder table already scores 0.5) — the
    * policy stays quiet and lets normal compaction cadence handle it.
    */
  val MinReclusterFiles: Int = 8

  /** Minimum keyed-COW commits between two policy reclusters — the
    * rate limit that keeps a scattered update stream from paying an
    * O(table) recluster per O(batch) commit (round-13 VERDICT "What's
    * wrong #3": layout_decay_policy.csv measured recluster-per-commit
    * on an orthogonal-key zorder table). 4 is Hudi's own
    * hoodie.clustering.inline.max.commits default. Health still gates
    * the trigger; this only bounds its FREQUENCY.
    */
  val MinCommitsBetweenReclusters: Int = 4

  /** The auto-recluster policy hook (the manifest-metric analog of
    * Hudi's clustering-every-N-commits, hudi_write_layout.py:188-190,
    * with the trigger derived from measured decay AND rate-limited by
    * the manifest's commit counter): re-cluster iff [[clusteringHealth]]
    * exceeds `threshold` and at least `minCommits` keyed commits landed
    * since the last recluster. Pure manifest math on the trigger path —
    * a healthy table pays zero Spark jobs. Returns the post-compaction
    * manifest iff it fired. Wired into [[graft.table.Upserter]] so
    * scattered-key COW upserts (the RQ7 one-commit pruning cliff,
    * results/rq7_layout/) self-heal instead of waiting for a human to
    * notice — at a bounded rate.
    */
  def maybeRecluster(
      spark: SparkSession,
      dir: String,
      threshold: Double = DefaultDecayThreshold,
      targetFileBytes: Long = DefaultTargetFileBytes,
      minCommits: Int = MinCommitsBetweenReclusters): Option[TableManifest] = {
    val manifest = ZoneMap.read(dir)
    if (manifest.files.length < MinReclusterFiles) return None
    if (manifest.commitsSinceCluster.getOrElse(0) < minCommits) return None
    clusteringHealth(manifest).filter(_ > threshold).map { h =>
      System.err.println(
        f"[graft] maybeRecluster: clustering health $h%.3f > $threshold%.2f " +
          s"on ${manifest.layout}(${manifest.layoutCols.mkString(",")}) at $dir " +
          "— re-clustering")
      compact(spark, dir, targetFileBytes)
    }
  }

  /** Re-cluster the whole table: the manifest's files, read in manifest
    * order, go through the same cut, byte-balance pass and stats as
    * [[LayoutWriter.write]] with the table's own spec, into a staging
    * dir; the commit replaces every file at once and resets the
    * recluster counter. Aborts on a concurrent commit.
    */
  def compact(
      spark: SparkSession,
      dir: String,
      targetFileBytes: Long = DefaultTargetFileBytes): TableManifest = {
    refuseCurationStore(dir)
    // orphans from a crashed prior mutation are purged first (round-12
    // ADVICE), mirroring Upserter/KeyedDelta
    StagedRewrite.reconcile(spark, dir, ZoneMap.read(dir))
    StagedRewrite.commit(spark,
      stage(spark, dir, targetFileBytes, StagedRewrite.stagingDir(dir, "compact")))
  }

  /** Refuse a store of a curation dir (one whose `state/_fold_log`
    * exists): a fold published to that log may be about to replace the
    * files a compaction would rewrite, and could then not roll forward.
    * Its stores compact through the log (`graft.cli.Curate`'s store
    * compaction).
    */
  private def refuseCurationStore(dir: String): Unit = {
    val d = java.nio.file.Paths.get(new org.apache.hadoop.fs.Path(dir).toUri.getPath)
      .toAbsolutePath.normalize
    require(!Seq(d.getParent, d.getParent.getParent).exists(a =>
        a != null && java.nio.file.Files.exists(a.resolve("state").resolve("_fold_log"))),
      s"$dir is a store of a curation dir: compact it through the fold log " +
        "(Curate's store compaction, which every fold runs), not directly")
  }

  /** The same re-cluster staged into `staging`, uncommitted. */
  def stage(spark: SparkSession, dir: String, targetFileBytes: Long,
      staging: String): StagedRewrite.Pending = {
    val manifest = ZoneMap.read(dir)
    // the manifest's files in manifest order, not a dir listing (whose
    // order follows the part names' uuids): the cut's input, and so the
    // order of rows that tie on the layout key, repeats
    val df = StagedRewrite.readFiles(spark, dir, manifest.files.map(_.path),
      manifest.hivePartitions.nonEmpty)
    val spec = LayoutWriter.LayoutSpec(
      layout = manifest.layout,
      cols = manifest.layoutCols,
      bits = Some(manifest.bits),
      numFiles = Some(filesFor(manifest.files, targetFileBytes)),
      recordKey = manifest.recordKey,
      recordKeys = manifest.recordKeys.getOrElse(Nil),
      precombineCol = manifest.precombineCol,
      partitionBy = manifest.hivePartitions) // preserve hive partitioning
    val (laid, staged) = LayoutWriter.stage(df, staging, spec,
      manifest.statsCols.diff(manifest.layoutCols), KeyIndex.bloomSpecs(manifest))
    StagedRewrite.Pending(dir,
      manifest.copy(commitsSinceCluster = None, strOffsets = laid.strOffsets),
      manifest.files, staged)
  }

  /** Files of ~`targetFileBytes` that `files`' recorded bytes fill. */
  private def filesFor(files: Seq[FileEntry], targetFileBytes: Long): Int =
    math.max(1, math.ceil(files.flatMap(_.bytes).sum.toDouble / targetFileBytes).toInt)

  /** Scoped compaction — the reference's L6 (`OPTIMIZE ... WHERE`,
    * delta_write_layout.py:136-138,195-219): only files whose zone
    * intersects `preds` are rewritten; the rest of the table (files and
    * manifest entries) is untouched. Cost is O(matching files).
    * Hive-partitioned tables are supported: the file-list read keeps the
    * partition columns via basePath and the staged rewrite moves part
    * files back under their partition subdirs ([[StagedRewrite]]).
    */
  def compactWhere(
      spark: SparkSession,
      dir: String,
      preds: Seq[ZonePredicate],
      targetFileBytes: Long = DefaultTargetFileBytes): TableManifest = {
    refuseCurationStore(dir)
    val manifest = ZoneMap.read(dir)
    // Crash inside a previous mutation (incl. this one, after the
    // commit's file moves but before its manifest swap) leaves orphan
    // part files that dir-level readers would double-count — clean them
    // at entry, same as Upserter/KeyedDelta (round-12 ADVICE).
    StagedRewrite.reconcile(spark, dir, manifest)
    val partitioned = manifest.hivePartitions.nonEmpty
    val affected = manifest.files.filter(f => preds.forall(_.mayMatch(f)))
    if (affected.length <= 1) return manifest // nothing to bin-pack

    val df0 = StagedRewrite.readFiles(spark, dir, affected.map(_.path), partitioned)
    val arranged = LayoutWriter.cut(df0, manifest.layout, manifest.layoutCols,
      manifest.bits, filesFor(affected, targetFileBytes)).rows
    StagedRewrite.commit(spark, StagedRewrite.Pending(dir, manifest, affected,
      StagedRewrite.stage(StagedRewrite.stagingDir(dir, "compactw"), arranged,
        manifest.hivePartitions, manifest.statsCols, KeyIndex.bloomSpecs(manifest))))
  }
}
