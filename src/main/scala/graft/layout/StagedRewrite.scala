package graft.layout

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.hadoop.fs.{FileSystem, Path}

/** Shared mechanics for partial-table rewrites (scoped compaction L6,
  * keyed upsert L9) that also work on hive-partitioned tables — the
  * round-3 gap: a naive `spark.read.parquet(files)` loses partition
  * columns, and a flat file-move drops the partition-dir values
  * entirely (reference compacts and upserts partitioned tables
  * routinely: delta_write_layout.py:136-138, hudi_upsert.py:217-228).
  */
object StagedRewrite {

  /** Read an explicit file list; with `partitioned`, `basePath` keeps the
    * hive partition columns in the schema. A statically-known `schema`
    * (which must include the partition columns for partitioned tables)
    * skips the footer-inference job.
    */
  def readFiles(
      spark: SparkSession,
      dir: String,
      paths: Seq[String],
      partitioned: Boolean,
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val r = schema.foldLeft(spark.read)((r, s) => r.schema(s))
    (if (partitioned) r.option("basePath", dir) else r).parquet(paths: _*)
  }

  /** Part files an IN-FLIGHT mutation has moved into a table dir but not
    * yet committed: [[reconcile]] must not purge them as orphans — a
    * concurrent mutation on the same table runs reconcile at entry, and
    * without this registry it would delete the other writer's staged
    * rewrite out from under its commit (round-19 OCC work). Keyed by
    * filesystem path component. [[writeAndMove]] registers; mutators
    * [[release]] in a finally after commit or abort (an aborting writer
    * deletes its own moved files first — see Upserter). Same-JVM only,
    * matching the driver-side writer topology writeCas serializes.
    */
  private val inFlight = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def pathKey(uri: String): String = new java.net.URI(uri).getPath

  /** Deregister moved files once their manifest commit landed (or their
    * abort cleanup deleted them).
    */
  def release(files: Seq[StatsWriter.WrittenFile]): Unit =
    files.foreach(f => inFlight.remove(pathKey(f.entry.path)))

  /** Write `df` to `staging` (partitionBy when the table is partitioned)
    * through [[StatsWriter]], then move every part file that holds rows
    * into `dir` PRESERVING its partition-relative subpath
    * (`p=1/part-xxx.parquet` stays under `dir/p=1/`). Part names are
    * UUID-unique, so moves cannot collide with surviving files. Returns
    * the moved files' manifest entries and blooms (`blooms`: see
    * [[KeyIndex.bloomSpecs]]); `schema` types the partition columns as
    * [[readFiles]] with that schema would. The moved files are registered
    * in-flight until [[release]].
    */
  def writeAndMove(
      spark: SparkSession,
      dir: String,
      staging: String,
      df: DataFrame,
      partitionCols: Seq[String],
      statsCols: Seq[String],
      blooms: Seq[(String, Seq[String])] = Nil,
      schema: Option[org.apache.spark.sql.types.StructType] = None)
      : Seq[StatsWriter.WrittenFile] = {
    val produced = StatsWriter.write(df, staging, partitionCols, statsCols, blooms)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val moved = produced.map { p =>
      val dst = new Path(dir, p.stats.rel)
      fs.mkdirs(dst.getParent)
      fs.rename(p.status.getPath, dst)
      inFlight.add(dst.toUri.getPath)
      p.copy(status = fs.getFileStatus(dst))
    }
    fs.delete(new Path(staging), true)
    StatsWriter.entries(spark, dir, moved, partitionCols, statsCols, schema)
  }

  /** Delete `files` (by manifest URI) from the table. */
  def deleteFiles(fs: FileSystem, files: Seq[FileEntry]): Unit =
    files.foreach(f => fs.delete(new Path(new java.net.URI(f.path)), false))

  /** Reconcile the table dir against its manifest: delete part files the
    * manifest does not reference (round-11 ADVICE). The manifest-first
    * commit order means a crash can only leave ORPHANS — new part files
    * moved in before the manifest rename, or superseded files whose
    * post-commit delete never ran. Manifest-driven readers are already
    * consistent; this makes dir-level readers (plain
    * spark.read.parquet(dir)) consistent too. Runs at mutation entry —
    * a healthy table pays one directory listing.
    */
  def reconcile(spark: SparkSession, dir: String, manifest: TableManifest): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // URIs differ in form across producers (file:/ vs file:///) — compare
    // by filesystem path component
    val referenced = manifest.files
      .map(f => new java.net.URI(f.path).getPath).toSet
    // collect candidates first: if NOTHING in this dir is referenced
    // while the manifest references files elsewhere, this is a moved
    // legacy (root-less) table, not crash debris — deleting would wipe
    // the data (round-15; rooted manifests rebase on read instead)
    val candidates = scala.collection.mutable.ArrayBuffer.empty[Path]
    var anyReferenced = false
    def walk(p: Path): Unit = fs.listStatus(p).foreach { s =>
      if (s.isDirectory) {
        // hidden (_/. prefixed) dirs are metadata, not data — the
        // key-index sidecar's part files must not be purged as orphans
        val n = s.getPath.getName
        if (!n.startsWith("_") && !n.startsWith(".")) walk(s.getPath)
      }
      else if (s.getPath.getName.startsWith("part-")) {
        if (referenced.contains(s.getPath.toUri.getPath)) anyReferenced = true
        // in-flight files belong to a concurrent mutation that has not
        // committed yet — not crash debris
        else if (!inFlight.contains(s.getPath.toUri.getPath))
          candidates += s.getPath
      }
    }
    walk(new Path(dir))
    if (referenced.nonEmpty && candidates.nonEmpty && !anyReferenced)
      throw new IllegalStateException(
        s"$dir: the manifest references no file present here but the dir " +
          s"holds ${candidates.length} data files — a moved/copied table " +
          "written before manifests carried a root stamp. Refusing to " +
          "reconcile (it would delete the data); rewrite the manifest " +
          "paths or rebuild the table.")
    candidates.foreach(p => fs.delete(p, false))
    if (candidates.nonEmpty) spark.catalog.refreshByPath(dir)
  }
}
