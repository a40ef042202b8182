package graft.layout

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.curve.{Curves, CurveExpressions}

/** Physical-layout writer — the reference's L1–L8 operator family
  * (reference: lakehouse_op/delta_write_layout.py:165-280,
  * hudi_write_layout.py:111-228, iceberg_write_layout.py:68-265) on plain
  * parquet + our zone-map manifest.
  *
  * Layouts:
  *  - `baseline`: write as-loaded (delta_write_layout.py:107,253)
  *  - `linear`:   sortWithinPartitions on the layout columns across
  *                quantile-cut files (delta_write_layout.py:165-181)
  *  - `zorder`:   Morton curve key (delegated in the reference: delta
  *                OPTIMIZE ZORDER BY)
  *  - `hilbert`:  Hilbert curve key (Hudi-only in the reference)
  *
  * Every sized write, upsert rewrite and scoped compaction cuts rows
  * into files through one function, [[cut]]: a key (the curve key, or
  * linear's concatenated per-column codes), cuts at its quantiles, a
  * bucket id per row, and `repartitionById` routing bucket p to file
  * p. The cuts depend only on the rows, never on the session's job
  * history, so the same spec over the same input writes the same files.
  * The curve key is a codegen'd Catalyst expression over rank-normalized
  * coordinates, so the pre-write sort stays inside whole-stage codegen.
  */
object LayoutWriter {

  case class LayoutSpec(
      layout: String, // baseline | linear | zorder | hilbert
      cols: Seq[String] = Nil,
      bits: Option[Int] = None,
      // files to cut the rows into; required by every layout but
      // baseline, where None keeps the input partitioning
      numFiles: Option[Int] = None,
      recordKey: Option[String] = None,
      precombineCol: Option[String] = None,
      partitionBy: Seq[String] = Nil, // hive-style partition dirs (S3/P8)
      // composite record key (reference ComplexKeyGenerator,
      // tpch_all_loader.py:141-148); wins over `recordKey` when nonEmpty
      recordKeys: Seq[String] = Nil,
      // curve layouts: rebalance file BYTES after the write (round-18;
      // row-count cuts on curve-sorted data compress unevenly — RQ6
      // sf10 measured 2.4–7 MB files from equal-row cuts, straggling
      // full-scan task waves). false = keep the raw row-balanced cuts.
      byteBalance: Boolean = true) {

    /** The effective record-key tuple. */
    def keyCols: Seq[String] =
      if (recordKeys.nonEmpty) recordKeys else recordKey.toSeq
  }

  /** Lay `df` out into `dir` as `spec` says and commit a fresh manifest
    * there; returns the committed (generation-stamped) manifest. Columns
    * the manifest keeps stats for: layout cols always; callers can pass
    * extras (e.g. partition-ish columns queried with equality).
    */
  def write(
      df: DataFrame,
      dir: String,
      spec: LayoutSpec,
      extraStatsCols: Seq[String] = Nil): TableManifest = {
    // the write below replaces the dir, log included: the new version
    // goes after the one it wipes, so no version name is reused
    val wiped = ZoneMap.headerGeneration(dir)
    val (manifest, staged) = stage(df, dir, spec, extraStatsCols)
    ZoneMap.write(dir, manifest.copy(generation = wiped, files = StatsWriter.entries(df.sparkSession,
      dir, staged.files, spec.partitionBy, manifest.statsCols).map(_.entry)))
  }

  /** Cut and write `df` into `out` as `spec` lays it out, committing
    * nothing: the manifest for the layout (no files yet) and the written
    * files, for [[write]] to commit in place or a whole-table rewrite to
    * move into its table ([[StagedRewrite.commit]]). `blooms` as for
    * [[StatsWriter.write]].
    */
  private[graft] def stage(
      df: DataFrame,
      out: String,
      spec: LayoutSpec,
      extraStatsCols: Seq[String],
      blooms: Seq[(String, Seq[String])] = Nil): (TableManifest, StagedRewrite.Staged) = {
    val spark = df.sparkSession
    require(
      Seq("baseline", "linear", "zorder", "hilbert").contains(spec.layout),
      s"unknown layout ${spec.layout}")
    if (spec.layout != "baseline") {
      require(spec.cols.nonEmpty, s"${spec.layout} layout needs layout columns")
      require(spec.numFiles.isDefined, s"${spec.layout} layout needs numFiles")
    }
    val missing = spec.cols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"layout columns not in schema: $missing")

    val bits = spec.bits.getOrElse(Curves.bitsFor(spec.cols.length))
    val arranged = spec.numFiles match {
      case Some(n) => cut(df, spec.layout, spec.cols, bits, n)
      case None => Cut(df, None, Map.empty)
    }
    // Partition columns live in dir paths, not files, but come back as
    // regular columns on read, so the manifest keeps their ranges and
    // prunes on them like any other column (partition pruning). The
    // record key always gets stats: Upserter's file-scoped COW needs key
    // zones to avoid rewriting the whole table.
    val keyCols = spec.keyCols
    val statsCols =
      (spec.cols ++ spec.partitionBy ++ keyCols ++ extraStatsCols).distinct
    val written = StatsWriter.write(arranged.rows, out, spec.partitionBy, statsCols, blooms)

    // Byte-balance pass (round-18, RQ6 sf10 straggler class): the cuts
    // above equalize ROWS per file, but curve-sorted data compresses
    // unevenly across key regions, so file BYTES skew (measured 2.4–7
    // MB on the hilbert sf10 lineitem) and full-scan task waves
    // straggle. Split oversized files at snapped curve cuts / merge
    // runs of adjacent undersized files until sizes sit in a tight
    // band. No-op when the write came out balanced.
    val files = arranged.curveKey match {
      case Some(key) if spec.byteBalance && spec.numFiles.exists(_ > 1) &&
          bits * spec.cols.length <= 52 =>
        byteBalancePass(spark, out, key, bits * spec.cols.length,
          spec.partitionBy, statsCols, written)
      case _ => written
    }
    val manifest = TableManifest(
      layout = spec.layout,
      layoutCols = spec.cols,
      bits = bits,
      statsCols = statsCols,
      // single keys stay on the legacy field (old manifests/readers
      // unchanged); composite tuples go to recordKeys
      recordKey = if (keyCols.length == 1) Some(keyCols.head) else None,
      recordKeys = if (keyCols.length > 1) Some(keyCols) else None,
      precombineCol = spec.precombineCol,
      files = Nil,
      partitionCols = if (spec.partitionBy.nonEmpty) Some(spec.partitionBy) else None,
      // string common-prefix offsets the key stripped (advisor and
      // observability; the health metric re-derives its own skip from
      // the manifest's global min/max so it stays sound across appends
      // that widen the prefix pool)
      strOffsets =
        if (arranged.strOffsets.exists(_._2 > 0)) Some(arranged.strOffsets) else None)
    (manifest, StagedRewrite.Staged(out, files, spec.partitionBy, statsCols))
  }

  /** Rows arranged into files by [[cut]]: `rows` is ready for the
    * parquet writer; `curveKey` is the curve key of a zorder/hilbert cut
    * (built from unresolved col() refs + literal normalization state, so
    * the byte-balance pass re-applies it to a re-read of the written
    * files); `strOffsets` are the string prefix offsets the key stripped.
    */
  private[graft] case class Cut(rows: DataFrame, curveKey: Option[Column],
      strOffsets: Map[String, Int])

  /** The one path from a layout to files: cut `df` into `n` files of
    * contiguous key ranges, rows sorted within each.
    *
    *  - baseline (or no layout columns): `repartition(n)`, no sort;
    *  - otherwise build the key — the curve key, or for linear the
    *    per-column codes concatenated (linear IS the degenerate curve
    *    whose interleave is per-column blocks) — take n-quantile cuts of
    *    it, snap them to aligned boundaries for the curves
    *    ([[snapCuts]]), and route each row's bucket id to exactly that
    *    partition with `repartitionById`, so file part-0000p holds
    *    bucket p and part-name order is key order. Within a file linear
    *    sorts by the raw columns, the curves by the key. Manifest
    *    min/max come from file contents, so quantization fuzz at bucket
    *    edges cannot affect pruning soundness.
    *
    * With n = 1 there is no cut pass. An empty bucket writes no file, so
    * duplicate or snapped-together cuts give fewer than n files.
    * `sample`, when given, is where the key's normalization and the cuts
    * are taken from instead of `df`: rows spanning the same keys that
    * are cheaper to scan (cuts set file balance only, never which rows
    * are written).
    */
  private[graft] def cut(df: DataFrame, layout: String, cols: Seq[String],
      bits: Int, n: Int, sample: Option[DataFrame] = None): Cut = {
    val curve = layout == "zorder" || layout == "hilbert"
    if (layout == "baseline" || cols.isEmpty) Cut(df.repartition(n), None, Map.empty)
    else if (n == 1 && !curve)
      Cut(df.repartition(1).sortWithinPartitions(cols.map(col): _*), None, Map.empty)
    else {
      // linear's concatenated key stays double-exact for the casts below
      val keyBits = if (curve) bits else math.min(bits, 52 / cols.length)
      val src = sample.getOrElse(df)
      val (key, offs) = curveKeyAndOffsets(src, cols, keyBits, layout)
      val rows =
        if (n == 1) df.repartition(1).sortWithinPartitions(key)
        else {
          val probes = (1 until n).map(_.toDouble / n).toArray
          val raw = src.select(key.cast(DoubleType).as("__d"))
            .stat.approxQuantile("__d", probes, 1.0 / (8 * n))
          val cuts =
            if (curve) snapCuts(raw.map(_.toLong), keyBits * cols.length).map(_.toDouble)
            else raw.distinct.sorted
          val keyed = df.withColumn("__graft_ck", key)
          val fid = CurveExpressions
            .bucketIndexCol(col("__graft_ck").cast(DoubleType), cuts).cast("int")
          keyed.repartitionById(cuts.length + 1, fid)
            .sortWithinPartitions((if (curve) Seq(col("__graft_ck")) else cols.map(col)): _*)
            .drop("__graft_ck")
        }
      Cut(rows, if (curve) Some(key) else None, offs)
    }
  }

  /** Curve-key expression plus the string common-prefix offsets it
    * stripped (column → skipped code points, string layout columns
    * only). Each layout column is rank-normalized to [0, 2^bits):
    * equi-depth quantile buckets from one approxQuantile pass over all
    * layout columns (the production z-order approach — Delta's OPTIMIZE
    * ZORDER partitions each column by range_partition_id for the same
    * reason), so skewed or clustered value distributions get uniform
    * coordinate mass and every interleaved bit carries signal. Null
    * coordinates sort to the curve origin. `curve` is zorder, hilbert or
    * linear (the codes concatenated, first column in the high bits).
    */
  private[layout] def curveKeyAndOffsets(df: DataFrame, cols: Seq[String], bits: Int,
      curve: String): (Column, Map[String, Int]) = {
    // One extra min/max aggregate, string layout columns only: the skip
    // offsets that keep deep-common-prefix id pools (ASIN "B0...",
    // tenant-prefixed UUIDs) from collapsing the curve coordinate to a
    // single value (StringCode doc; results/rq1_amazon C1deep measured
    // curves at 1x files-ratio vs linear 12x before the strip).
    val strSkips = StringCode.offsets(df, cols)
    // one quantile pass for ALL columns; 2^10 equi-depth buckets per
    // column is resolution far beyond any realistic file count, and
    // duplicate cuts (hot values / low ndv) collapse harmlessly
    val b = math.min(bits, 10)
    val probes = (1 until (1 << b)).map(_.toDouble / (1 << b)).toArray
    val viewNames = cols.indices.map(i => s"__cv_$i")
    val view = df.select(cols.zip(viewNames).map { case (c, a) =>
      doubleView(df, c, strSkips).as(a)
    }: _*)
    val cuts = view.stat.approxQuantile(viewNames.toArray, probes, 0.001)
    val norms = cols.indices.map { i =>
      CurveExpressions.rankNormalizedCol(
        doubleView(df, cols(i), strSkips), cuts(i).distinct.sorted, bits)
    }
    val key = curve match {
      case "hilbert" => CurveExpressions.hilbertvalue(bits, norms: _*)
      case "linear" => norms.reduceLeft((hi, lo) => hi * lit(1L << bits) + lo)
      case _ => CurveExpressions.zvalue(bits, norms: _*)
    }
    (key, strSkips)
  }

  /** Double view of a column for normalization (dates → days, timestamps →
    * epoch seconds, strings → a lexicographic prefix code so string
    * columns can participate in curve keys).
    */
  private def doubleView(df: DataFrame, c: String,
      strSkips: Map[String, Int]): Column =
    df.schema(c).dataType match {
      case _: NumericType => col(c).cast(DoubleType)
      case DateType => datediff(col(c), lit("1970-01-01").cast(DateType)).cast(DoubleType)
      case TimestampType | TimestampNTZType =>
        // NTZ values are interpreted in the (UTC) session zone — only the
        // ordering matters for curve coordinates. Fractional seconds via
        // a double cast (matches ZoneMap's stats domain).
        col(c).cast(TimestampType).cast(DoubleType)
      case StringType =>
        // the shared prefix code, common prefix stripped (StringCode doc)
        StringCode.codeColumn(col(c), strSkips.getOrElse(c, 0))
      case dt => throw new IllegalArgumentException(s"cannot curve-order $c: $dt")
    }

  /** Snap each quantile curve-key cut to the COARSEST power-of-two
    * boundary that stays within its slack window (half the gap to each
    * neighbor cut, so rough balance is preserved). Coarser alignment =
    * whole quadrants at a higher level = tighter per-file bounding boxes:
    * a z-range that straddles a quadrant boundary JUMPS spatially, and
    * both neighboring files inherit a box spanning the jump (measured
    * ~2x pruning loss vs hilbert, results/rq1 through r7). [[cut]] snaps
    * both curves; linear cuts stay raw (contiguous lexicographic ranges
    * need no alignment).
    * Sequential: each window is additionally floored just above the
    * previous snapped cut, so the cut COUNT survives (file sizing is a
    * real constraint — merging cuts doubles a file). Pathological
    * integer-adjacent cuts may still collide; the final distinct only
    * fires then.
    */
  private[layout] def snapCuts(raw: Array[Long], totalBits: Int): Array[Long] = {
    val sorted = raw.sorted.distinct
    val domainHi = if (totalBits >= 63) Long.MaxValue else 1L << totalBits
    val out = new Array[Long](sorted.length)
    var prev = 0L
    for (i <- sorted.indices) {
      val c = sorted(i)
      // symmetric half-gap windows; edge cuts mirror their inner gap
      // (extending an edge window to the domain bound lets the snap run
      // away to a coarse boundary past the data, emptying an edge file)
      val gapL =
        if (i > 0) (c - sorted(i - 1)) / 2
        else if (sorted.length > 1) (sorted(1) - c) / 2
        else c / 2
      val gapR =
        if (i < sorted.length - 1) (sorted(i + 1) - c) / 2
        else gapL
      val hi = math.min(c + gapR, domainHi)
      val lo = math.max(math.max(c - gapL, 1L), prev + 1)
      var best = math.min(math.max(c, lo), hi)
      var k = totalBits - 1
      var found = false
      while (k >= 0 && !found) {
        val a = 1L << math.min(k, 62)
        val down = (c / a) * a
        val up = down + a
        if (down >= lo && down <= hi) { best = down; found = true }
        else if (up >= lo && up <= hi) { best = up; found = true }
        else k -= 1
      }
      out(i) = best
      prev = best
    }
    out.distinct
  }

  /** One byte-balance rewrite unit: `paths` are consecutive-in-curve-
    * order files (within one hive partition dir) rewritten into
    * `pieces` output files cut at snapped curve boundaries.
    */
  private[layout] case class BalanceGroup(paths: Seq[String], bytes: Long,
      pieces: Int)

  /** Greedy size-banding over files in curve order (pure; suite-pinned).
    * Files inside [tolLow, tolHigh]×target are left untouched — the
    * common balanced case rewrites NOTHING. An oversized file becomes
    * its own group split into round(bytes/target) pieces; runs of
    * consecutive undersized files merge (and re-split if the run grew
    * past the band). A trailing single undersized file stays — one
    * small edge file is cheaper than rewriting it forever.
    */
  private[layout] def balancePlan(
      files: Seq[(String, Long)],
      target: Long,
      tolHigh: Double = 1.3,
      tolLow: Double = 0.7): Seq[BalanceGroup] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[BalanceGroup]
    var run = List.empty[(String, Long)]
    var runBytes = 0L
    // ceil against 1.2x target: no PLANNED piece may exceed ~1.2x the
    // mean — rounding (round(bytes/target)) let a merge run flushed at
    // 1.38-1.6x target collapse to ONE oversized piece, which put the
    // sf10 hilbert max/median spread at 1.63x (> the 1.5x bar) even
    // after balancing
    def pieces(bytes: Long, atLeast: Int): Int =
      math.max(atLeast, math.ceil(bytes.toDouble / (1.2 * target)).toInt)
    def flushRun(): Unit = {
      if (run.length >= 2)
        out += BalanceGroup(run.reverse.map(_._1), runBytes, pieces(runBytes, 1))
      run = Nil; runBytes = 0L
    }
    for ((p, b) <- files) {
      if (b > tolHigh * target) {
        flushRun()
        out += BalanceGroup(Seq(p), b, pieces(b, 2))
      } else if (b < tolLow * target) {
        // close an already-acceptable run rather than grow it past the
        // piece ceiling (a 0.8t run + 0.6t file = one 1.4t piece or
        // two 0.7t pieces; flushing first yields 0.8t + a fresh run)
        if (runBytes >= 0.75 * target && runBytes + b > 1.2 * target) flushRun()
        run ::= (p, b); runBytes += b
        if (runBytes >= 0.9 * target) flushRun()
      } else flushRun()
    }
    if (run.length >= 2) flushRun() // trailing run merges; a single stays
    out.toSeq
  }

  /** Post-write byte balancing of a curve layout (round-18): group the
    * written files per hive partition dir (curve order == part-name
    * order: [[cut]] routes bucket p to part p), plan
    * [[balancePlan]] groups against target = median file bytes, and
    * rewrite each group into byte-balanced pieces cut at
    * [[snapCuts]]-aligned curve boundaries (interior cuts from one
    * percentile pass per batch, so a whole pass is TWO Spark jobs over
    * only the skewed tail — nothing when the write came out balanced).
    * Returns the table's files after the pass. Scale: at 100 TB the
    * rewrite cost is proportional to the skewed byte mass, not the
    * table; group count per job is capped so the CASE dispatch
    * expression stays small.
    */
  private[layout] def byteBalancePass(
      spark: SparkSession,
      dir: String,
      key: Column,
      totalBits: Int,
      hiveCols: Seq[String],
      statsCols: Seq[String],
      files: Seq[StatsWriter.Produced]): Seq[StatsWriter.Produced] = {
    if (files.length < 2) return files
    // target = MEDIAN first-write size, not mean: the mean is inflated
    // by the oversized tail this pass exists to remove, so an
    // untouched "in band" file (<= 1.3x mean) could still sit 1.6x
    // above the post-balance median (measured on the sf10 hilbert
    // lineitem: kept 3.64 MB = 1.3 x mean 2.80 vs final median 2.23).
    // Banding against the median keeps max/median <= ~1.3 by
    // construction.
    val sorted = files.map(_.status.getLen).sorted
    val target = math.max(1L, sorted(sorted.length / 2))
    val groups = files.map(_.status).groupBy(_.getPath.getParent.toString).toSeq
      .flatMap { case (_, inDir) =>
        balancePlan(
          inDir.sortBy(_.getPath.getName)
            .map(s => (s.getPath.toString, s.getLen)),
          target)
      }
    if (groups.isEmpty) return files
    val pieces = groups.grouped(MaxGroupsPerJob).flatMap(batch =>
      rewriteGroups(spark, dir, batch, key, totalBits, hiveCols, statsCols)).toSeq
    // listings are cached across queries (FileStatusCache) — drop them
    // so readers see the post-balance file set
    spark.catalog.refreshByPath(dir)
    val replaced = groups.flatMap(_.paths).toSet
    files.filterNot(p => replaced(p.status.getPath.toString)) ++ pieces
  }

  /** CASE-dispatch bound per rewrite job (expression size / codegen). */
  private[layout] val MaxGroupsPerJob = 128

  /** Common quantile grid for per-group interior cuts: one
    * percentile_approx aggregate serves every group in the batch; a
    * group needing k pieces picks the nearest grid points to i/k
    * (placement error ≤ 1/(2·Grid) of the group's rows).
    */
  private val Grid = 24

  private def rewriteGroups(
      spark: SparkSession,
      dir: String,
      groups: Seq[BalanceGroup],
      key: Column,
      totalBits: Int,
      hiveCols: Seq[String],
      statsCols: Seq[String]): Seq[StatsWriter.Produced] = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val partitioned = hiveCols.nonEmpty
    val allPaths = groups.flatMap(_.paths)
    val df0 = StagedRewrite.readFiles(spark, dir, allPaths, partitioned)

    // file → group id via input_file_name, scheme-normalized on both
    // sides ("file:///x" and "file:/x" both → "/x")
    // RAW (still-encoded) URI path: input_file_name() returns the
    // URI-ENCODED form, so a decoded getPath would never match a table
    // path containing a space/%/non-ASCII char (every row would fall to
    // the otherwise(-1) piece and the balance pass would merge whole
    // dirs). Both sides stay in the encoded form.
    def norm(p: String): String = new Path(p).toUri.getRawPath
    val gidPairs = groups.zipWithIndex.flatMap { case (g, i) =>
      g.paths.flatMap(p => Seq(lit(norm(p)), lit(i)))
    }
    val fileNorm = regexp_replace(
      input_file_name(), "^[a-zA-Z][a-zA-Z0-9+.\\-]*:/+", "/")
    val gid = element_at(map(gidPairs: _*), fileNorm)
    val keyd = key.cast(DoubleType)

    // one quantile+bounds job for every group that splits; cuts snap
    // inside the group's own key range ([[snapCutsIn]])
    val fracs = (1 until Grid).map(_.toDouble / Grid)
    val quants: Map[Int, (Array[Double], Long, Long)] =
      if (!groups.exists(_.pieces > 1)) Map.empty
      else df0.select(gid.as("__gid"), keyd.as("__k"))
        .groupBy(col("__gid"))
        .agg(percentile_approx(
            col("__k"), array(fracs.map(lit): _*), lit(10000)).as("q"),
          min(col("__k")).as("lo"), max(col("__k")).as("hi"))
        .collect()
        .map(r => r.getInt(0) -> (r.getSeq[Double](1).toArray,
          r.getDouble(2).toLong, r.getDouble(3).toLong)).toMap
    val pieceCuts: IndexedSeq[Array[Long]] = groups.indices.map { i =>
      val k = math.min(groups(i).pieces, Grid)
      if (k <= 1) Array.empty[Long]
      else {
        val (qs, lo, hi) = quants(i)
        val raw = (1 until k).map { j =>
          val idx = math.min(Grid - 1, math.max(1,
            math.round(j.toDouble * Grid / k).toInt))
          qs(idx - 1).toLong
        }.toArray
        snapCutsIn(raw, totalBits, lo, hi)
      }
    }
    // dense global piece ids: group i's pieces start at bases(i)
    val bases = pieceCuts.scanLeft(0L)((acc, c) => acc + c.length + 1)
    val pid = groups.indices.tail
      .foldLeft(when(gid === 0, pieceExpr(bases(0), pieceCuts(0), keyd))) {
        (acc, i) => acc.when(gid === i, pieceExpr(bases(i), pieceCuts(i), keyd))
      }.otherwise(lit(-1L))

    // exact file-per-piece via dynamic partitionBy on __piece: hash
    // collisions of piece ids in one task still write separate files.
    // The sort satisfies the writer's required (partition-cols)
    // ordering as a prefix, so no extra sort is inserted and the curve
    // order inside each piece survives to disk.
    val staging = dir.stripSuffix("/") + ".balance_tmp"
    val out = df0.withColumn("__piece", pid)
      .repartition(col("__piece"))
      .sortWithinPartitions(hiveCols.map(col) ++ Seq(col("__piece"), key): _*)
    val produced = StatsWriter.write(out, staging, hiveCols :+ "__piece", statsCols)

    // move pieces in (strip the __piece=N path segment), then drop the
    // originals. A piece is named after its group's first file plus its
    // index in the group, so part-name order stays curve order and no
    // name depends on the staging write's uuid (rows outside every
    // group, piece -1, keep the staging name)
    val moved = produced.map { p =>
      val segs = p.stats.rel.split("/")
      val pieceId = segs.find(_.startsWith("__piece="))
        .map(_.stripPrefix("__piece=").toLong).getOrElse(0L)
      val kept = segs.filterNot(_.startsWith("__piece="))
      val g = bases.lastIndexWhere(_ <= pieceId)
      val name =
        if (g < 0) kept.last.stripSuffix(".parquet") + s"-b$pieceId.parquet"
        else new Path(groups(g).paths.head).getName.stripSuffix(".parquet") +
          f"-b${pieceId - bases(g)}%02d.parquet"
      val dst = new Path(dir, (kept.init :+ name).mkString("/"))
      fs.mkdirs(dst.getParent)
      fs.rename(p.status.getPath, dst)
      p.copy(status = fs.getFileStatus(dst))
    }
    fs.delete(new Path(staging), true)
    allPaths.foreach(p => fs.delete(new Path(p), false))
    moved
  }

  private def pieceExpr(base: Long, cuts: Array[Long], keyd: Column): Column =
    if (cuts.isEmpty) lit(base)
    else lit(base) + CurveExpressions.bucketIndexCol(keyd, cuts.map(_.toDouble))

  /** [[snapCuts]] with EXPLICIT domain bounds — the group-local variant
    * the byte-balance pass needs. The global snapCuts mirrors each edge
    * cut's inner gap to build its slack window; inside one small group
    * (often a single cut from a single split file) that mirror window
    * spans far past the group's actual key range, and a snap landing
    * outside [lo, hi] puts every row in one piece — no split at all
    * (caught by ByteBalanceSuite). Here the windows are half-gaps
    * against the group's own [lo, hi] endpoints and the result is
    * clamped strictly inside them, so every cut lands where the group
    * has data on both sides while still preferring the coarsest aligned
    * boundary that fits.
    */
  private[layout] def snapCutsIn(
      raw: Array[Long], totalBits: Int, lo: Long, hi: Long): Array[Long] = {
    val sorted = raw.sorted.distinct.filter(c => c > lo && c <= hi)
    if (sorted.isEmpty || hi <= lo) return Array.empty
    val out = new Array[Long](sorted.length)
    var prev = lo
    for (i <- sorted.indices) {
      val c = sorted(i)
      val gapL = (c - (if (i > 0) sorted(i - 1) else lo)) / 2
      val gapR = ((if (i < sorted.length - 1) sorted(i + 1) else hi) - c) / 2
      val winHi = math.min(c + gapR, hi)
      val winLo = math.max(c - gapL, prev + 1)
      var best = math.min(math.max(c, winLo), winHi)
      var k = totalBits - 1
      var found = false
      while (k >= 0 && !found) {
        val a = 1L << math.min(k, 62)
        val down = (c / a) * a
        val up = down + a
        if (down >= winLo && down <= winHi) { best = down; found = true }
        else if (up >= winLo && up <= winHi) { best = up; found = true }
        else k -= 1
      }
      out(i) = best
      prev = best
    }
    out.distinct
  }
}
