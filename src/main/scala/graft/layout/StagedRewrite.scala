package graft.layout

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Paths}

/** The one commit path for every mutation of an existing table —
  * upsert, keyed delta, scoped and whole-table compaction and index
  * append: the rewrite is [[stage]]d beside the table as a [[Pending]],
  * then [[commit]] moves it in and publishes `base` minus the replaced
  * files plus the new ones, with their key-index parts, through the
  * manifest's check-and-swap, the one atomic metadata commit Delta, Hudi
  * and Iceberg each use. A curation fold commits several pending
  * rewrites at once through its own log and lands each with [[landed]]
  * and [[finish]]. Works on hive-partitioned tables: reads keep the
  * partition columns, moves keep each file's partition subdir
  * (reference compacts and upserts partitioned tables routinely:
  * delta_write_layout.py:136-138, hudi_upsert.py:217-228).
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
      schema: Option[StructType] = None): DataFrame = {
    val r = schema.foldLeft(spark.read)((r, s) => r.schema(s))
    (if (partitioned) r.option("basePath", dir) else r).parquet(paths: _*)
  }

  /** Files written into a staging dir beside a table, not yet part of
    * it: `files` hold rows; `partitionCols`, `statsCols` and `schema`
    * type their manifest entries once moved in ([[StatsWriter.entries]]).
    */
  case class Staged(dir: String, files: Seq[StatsWriter.Produced],
      partitionCols: Seq[String], statsCols: Seq[String],
      schema: Option[StructType] = None)

  /** A fresh staging dir for one `kind` of mutation on the table at
    * `dir`: `<table>.<kind>_stage-<id>`, unique per call, so two
    * mutations of one kind on one table never share (and overwrite) a
    * stage. It stays in flight until [[commit]] takes it; [[reconcile]]
    * sweeps only stage dirs no live mutation owns.
    */
  def stagingDir(dir: String, kind: String): String = {
    val staging = dir.stripSuffix("/") +
      s".${kind}$StageTag-${java.util.UUID.randomUUID().toString.take(8)}"
    inFlight.add(new Path(staging).toUri.getPath)
    staging
  }

  private val StageTag = "_stage"
  // `<kind>_stage-<id>`, and the fixed `<kind>_stage` older builds used
  private val StageSuffix = raw"[a-z]+_stage(-[0-9a-f]{8})?".r

  /** Write `df` through [[StatsWriter]] into the fresh dir `staging`
    * (partitionBy when the table is partitioned), recording each file's
    * zone entry and the `blooms` ([[KeyIndex.bloomSpecs]]).
    */
  def stage(staging: String, df: DataFrame, partitionCols: Seq[String],
      statsCols: Seq[String], blooms: Seq[(String, Seq[String])] = Nil,
      schema: Option[StructType] = None): Staged = {
    val files = StatsWriter.write(df, staging, partitionCols, statsCols, blooms)
    // nothing to commit: a caller that skips the commit leaves no dir
    if (files.isEmpty) {
      new Path(staging).getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
        .delete(new Path(staging), true)
      inFlight.remove(new Path(staging).toUri.getPath)
    }
    Staged(staging, files, partitionCols, statsCols, schema)
  }

  /** A rewrite of the table at `dir` staged against `base` and not yet
    * committed: committing it replaces `removed` with the staged files.
    */
  case class Pending(dir: String, base: TableManifest, removed: Seq[FileEntry],
      staged: Staged)

  /** The staged files' manifest entries (and blooms) at the paths they
    * take in the table, known before any file moves.
    */
  def entries(spark: SparkSession, p: Pending): Seq[StatsWriter.WrittenFile] = {
    val fs = new Path(p.dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    StatsWriter.entries(spark, p.dir, p.staged.files.map { f =>
      f.copy(status = new org.apache.hadoop.fs.FileStatus(f.status.getLen, false, 0, 0,
        f.status.getModificationTime, fs.makeQualified(new Path(p.dir,
          StatsWriter.relOf(f.status.getPath, p.staged.partitionCols.length)))))
    }, p.staged.partitionCols, p.staged.statsCols, p.staged.schema)
  }

  /** Staging dirs of live mutations, and part files an IN-FLIGHT commit
    * has moved into a table dir but not yet published: [[reconcile]]
    * must not purge them — a concurrent mutation on the same table runs
    * reconcile at entry, and would otherwise delete the other writer's
    * rewrite out from under its commit. Keyed by filesystem path
    * component. Same-JVM only: a mutation in another JVM can lose its
    * stage or moved files to this JVM's reconcile and then fails; it
    * never publishes a manifest naming a missing file.
    */
  private val inFlight = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Test seam: runs inside every [[commit]] after the staged files are
    * moved in and BEFORE the check-and-swap, so a suite can run a whole
    * competing mutation (or a crash) in the commit window
    * deterministically — a thread race would leave the interleaving to
    * the scheduler.
    */
  private[graft] var testHookBeforeCommit: () => Unit = () => ()

  /** Test seam: called with each named step of a commit as it completes
    * — [[publish]]'s "parts staged" and "CAS", [[commit]]'s "replaced
    * data deleted", an index-only commit's "replaced parts deleted"
    * ([[KeyIndex]]) and each step of a curation fold
    * (`graft.cli.Curate`) — so a suite can crash after it.
    */
  private[graft] var testHookAtStep: String => Unit = _ => ()

  /** Commit `p` into its table:
    *  1. stage the key-index parts of the new files beside them
    *     ([[KeyIndex.stageParts]]);
    *  2. link the staged files and parts in, each under its partition
    *     or shard subdir (names are uuid-unique, so they cannot collide
    *     with live files);
    *  3. check-and-swap `base` minus `removed` plus the new entries, the
    *     new parts added to each index ([[ZoneMap.writeCas]]) — the
    *     manifest goes first, so a crash leaves at worst orphans the next
    *     mutation's [[reconcile]] purges, never a manifest naming a
    *     deleted file, and data and index publish together;
    *  4. on a lost race, delete what this commit linked in and rethrow
    *     [[ConcurrentCommitException]];
    *  5. [[finish]], then the amortized index upkeep
    *     ([[KeyIndex.maintain]]).
    * Returns the committed (generation-stamped) manifest.
    *
    * `rebase` (upserts only): on a lost race against a commit that
    * replaced none of `removed`, retry on `rebase(fresh manifest)` — the
    * two file sets are disjoint, so carrying the other writer's files
    * forward loses nothing. If the other commit replaced a file this one
    * rewrote, the key ranges overlap and a merge would drop one side's
    * rows: abort instead.
    */
  def commit(spark: SparkSession, p: Pending,
      rebase: Option[TableManifest => TableManifest] = None): TableManifest = {
    val written = entries(spark, p)
    val added = written.map(_.entry)
    val gone = p.removed.map(f => ZoneMap.canonical(f.path)).toSet
    var parts = Map.empty[String, Seq[String]]
    def next(m: TableManifest) = KeyIndex.withParts(
      m.copy(files = m.files.filterNot(f => gone(ZoneMap.canonical(f.path))) ++ added),
      parts, p.removed.length)
    val committed = publish(spark, p.dir, p.staged.dir) {
      parts = KeyIndex.stageParts(spark, p, written)
      added.map(_.path) ++ parts.values.flatten
    } {
      testHookBeforeCommit()
      var from = p.base
      var attempt = 0
      var done: TableManifest = null
      while (done == null) {
        try done = ZoneMap.writeCas(p.dir, next(from))
        catch {
          case e: ConcurrentCommitException if rebase.isDefined && attempt < 5 =>
            attempt += 1
            val fresh = ZoneMap.read(p.dir)
            val lost = gone -- fresh.files.map(f => ZoneMap.canonical(f.path))
            if (lost.nonEmpty)
              throw new ConcurrentCommitException(
                s"overlapping concurrent commits on ${p.dir}: ${lost.size} " +
                  "file(s) this commit rewrote were already replaced by " +
                  s"another commit (e.g. ${lost.head}) — the key ranges " +
                  "overlap; re-run against the fresh table", e.onDisk, e.expected)
            from = rebase.get(fresh)
        }
      }
      done
    }
    finish(spark, p.dir, p.removed)
    testHookAtStep("replaced data deleted")
    KeyIndex.maintain(spark, p.dir, committed)
    committed
  }

  /** One commit of `dir` from the fresh stage `stage`: `prepare` writes
    * what the stage holds and names the paths its files take in the
    * table, [[landed]] links them in and `cas` publishes the manifest
    * version. On a lost race the links go before the exception
    * propagates; the stage goes either way. Steps "parts staged" and
    * "CAS".
    */
  private[layout] def publish(spark: SparkSession, dir: String, stage: String)(
      prepare: => Seq[String])(cas: => TableManifest): TableManifest = {
    var linked = Seq.empty[String]
    try {
      linked = prepare
      testHookAtStep("parts staged")
      val committed = landed(dir, stage, linked)(cas)
      testHookAtStep("CAS")
      committed
    } catch {
      case e: ConcurrentCommitException =>
        deletePaths(spark, linked)
        spark.catalog.refreshByPath(dir)
        throw e
    } finally {
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(stage))
      inFlight.remove(new Path(stage).toUri.getPath)
    }
  }

  /** Link each of `paths` (URIs in `dir`) into place from the same
    * relative path under `stage`, then run `publish`, the links in
    * flight meanwhile so a concurrent [[reconcile]] never purges them. A
    * file already in place is kept, so landing again after a crash is a
    * no-op.
    */
  private[graft] def landed[A](dir: String, stage: String,
      paths: Seq[String])(publish: => A): A = {
    val root = Paths.get(new Path(dir).toUri.getPath).toAbsolutePath.normalize
    val dsts = paths.map(p => Paths.get(new java.net.URI(p)))
    dsts.foreach(d => inFlight.add(d.toString))
    try {
      dsts.filterNot(Files.exists(_)).foreach { dst =>
        Files.createDirectories(dst.getParent)
        Files.createLink(dst, Paths.get(stage).resolve(root.relativize(dst)))
      }
      publish
    } finally dsts.foreach(d => inFlight.remove(d.toString))
  }

  /** After a commit of `dir`: delete the files it replaced and drop
    * cached listings (links bypass Spark's write-path invalidation).
    */
  private[graft] def finish(spark: SparkSession, dir: String, removed: Seq[FileEntry]): Unit = {
    deletePaths(spark, removed.map(_.path))
    spark.catalog.refreshByPath(dir)
  }

  private[layout] def deletePaths(spark: SparkSession, paths: Seq[String]): Unit =
    paths.foreach { f =>
      val p = new Path(new java.net.URI(f))
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false)
    }

  /** Reconcile the table dir against its manifest: delete part files the
    * manifest does not reference (round-11 ADVICE), key-index parts and
    * unions included. The manifest-first commit order means a crash can
    * only leave ORPHANS — new files linked in before the manifest
    * publish, or replaced files whose post-commit delete never ran.
    * Manifest-driven readers are already
    * consistent; this makes dir-level readers (plain
    * spark.read.parquet(dir)) consistent too. Runs at mutation entry —
    * a healthy table pays one directory listing. A moved table is safe:
    * its manifest's root stamp rebases the entry paths onto `dir` on
    * read ([[ZoneMap.read]]), so its files stay referenced.
    */
  def reconcile(spark: SparkSession, dir: String, manifest: TableManifest): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // URIs differ in form across producers (file:/ vs file:///) — compare
    // by filesystem path component
    val referenced = (manifest.files.map(_.path) ++
        manifest.indexes.values.flatMap(ix => ix.parts ++ ix.unions))
      .map(p => new java.net.URI(p).getPath).toSet
    val candidates = scala.collection.mutable.ArrayBuffer.empty[Path]
    def walk(p: Path): Unit = fs.listStatus(p).foreach { s =>
      val n = s.getPath.getName
      if (s.isDirectory) {
        // hidden (_/. prefixed) dirs are metadata, not data — but the
        // key-index sidecars hold parts swept like data parts
        if (n.startsWith(KeyIndex.DirName) || !n.startsWith("_") && !n.startsWith("."))
          walk(s.getPath)
      }
      // in-flight files belong to a concurrent mutation that has not
      // committed yet — not crash debris
      else if ((n.startsWith("part-") || n.startsWith("unions-")) &&
          !referenced.contains(s.getPath.toUri.getPath) &&
          !inFlight.contains(s.getPath.toUri.getPath))
        candidates += s.getPath
    }
    walk(new Path(dir))
    // stage dirs beside the table that no live mutation of this JVM owns
    // are a crashed mutation's leftovers
    val table = new Path(dir)
    val deadStages = Option(table.getParent).toSeq
      .flatMap(p => scala.util.Try(fs.listStatus(p)).getOrElse(Array.empty))
      .map(_.getPath)
      .filter { p =>
        val n = p.getName
        n.startsWith(table.getName + ".") &&
          StageSuffix.matches(n.stripPrefix(table.getName + ".")) &&
          !inFlight.contains(p.toUri.getPath)
      }
    candidates.foreach(p => fs.delete(p, false))
    deadStages.foreach(p => fs.delete(p, true))
    if (candidates.nonEmpty) spark.catalog.refreshByPath(dir)
  }
}
