package graft.layout

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.graftbridge.PartitionBridge
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.CollectionAccumulator

/** Stats on write: every table write goes through [[write]], which writes
  * plain parquet and folds each row into its file's zone entry as the
  * row is written — the way Delta records per-file `stats` in its commit
  * and Hudi writes its key bloom into the footer — so no mutation re-reads
  * the files it just wrote to learn their min/max or bloom them.
  *
  * Per file the writer keeps the row count and, per stats column, the
  * min, max and non-null count of the manifest's value for it: the
  * [[ZoneMap.numericView]] double for numeric, date and timestamp
  * columns, the string cast otherwise. Min/max use Spark's own ordering
  * (NaN above everything, -0.0 == 0.0, the first-seen of equal values
  * kept), so an entry equals what a grouped min/max over the written file
  * computes. Partition-column ranges come from the file's directory
  * ([[entries]]). For each key-index sidecar the caller names, the writer
  * also keeps the file's [[KeyIndex.keyHashCol]] values and builds the
  * file's bloom when it closes.
  *
  * One record per file reaches the driver through an accumulator; the
  * records live in driver memory only until the caller's manifest commit.
  */
object StatsWriter {

  /** What the writer folded into one file. `rel` is the file's path under
    * the written dir (partition dirs + name); `ranges` covers the data
    * columns; `blooms` maps a key-index sidecar name to the file's
    * serialized key bloom.
    */
  case class FileStats(rel: String, rows: Long, ranges: Map[String, ColRange],
      blooms: Map[String, Array[Byte]])

  /** A produced file at its current location. */
  case class Produced(status: FileStatus, stats: FileStats)

  /** A written file's manifest entry plus its blooms by sidecar name —
    * the key-index rows its commit stages without reading the file
    * ([[KeyIndex.stageParts]]).
    */
  case class WrittenFile(entry: FileEntry, blooms: Map[String, Array[Byte]] = Map.empty)

  private[layout] case class Request(statsCols: Seq[String],
      blooms: Seq[(String, Seq[String])], partitionDepth: Int,
      acc: CollectionAccumulator[FileStats])

  /** The write option that names a write's request. Spark may plan the
    * write on another thread than the caller's (under AQE the write
    * command can run in a query stage on a pooled thread), so the
    * request travels with the write's options, not with the thread.
    */
  private[layout] val RequestOption = "graftstatsrequest"

  // live requests by id: [[bind]] registers, and drops in a finally
  private val requests = new java.util.concurrent.ConcurrentHashMap[String, Request]()

  /** Run `body` with `req` registered under a fresh id it receives. */
  private[layout] def bind[T](req: Request)(body: String => T): T = {
    val id = java.util.UUID.randomUUID().toString
    requests.put(id, req)
    try body(id) finally requests.remove(id)
  }

  private[layout] def request(options: Map[String, String]): Request =
    options.get(RequestOption).flatMap(id => Option(requests.get(id))).getOrElse(
      throw new IllegalStateException(
        "StatsParquetFormat writes only through StatsWriter.write"))

  /** Write `df` as parquet into `out` (hive dirs for `partitionCols`),
    * replacing whatever `out` held — the helper owns the whole output
    * dir — and return every part file the commit produced that holds
    * rows, each with its record, in path order. A file with no rows
    * stays where the commit put it and is not returned: it gets no
    * manifest entry (a grouped stats scan sees none). `blooms` names
    * (sidecar, key columns) pairs to bloom per file; key columns must be
    * data columns. Throws if a produced file has no record (or a record
    * no file), before any caller can commit a manifest.
    */
  def write(df: DataFrame, out: String, partitionCols: Seq[String],
      statsCols: Seq[String], blooms: Seq[(String, Seq[String])] = Nil): Seq[Produced] = {
    val missing = statsCols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"stats columns not in schema: $missing")
    val spark = df.sparkSession
    val acc = new CollectionAccumulator[FileStats]
    spark.sparkContext.register(acc)
    bind(Request(statsCols, blooms, partitionCols.length, acc)) { id =>
      val w = df.write.mode(SaveMode.Overwrite).format(classOf[StatsParquetFormat].getName)
        .option(RequestOption, id)
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).save(out)
    }
    import scala.jdk.CollectionConverters._
    val records = acc.value.asScala.map(s => s.rel -> s).toMap
    val root = new Path(out)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def partFiles(p: Path): Seq[FileStatus] =
      fs.listStatus(p).toSeq.flatMap { s =>
        if (s.isDirectory) partFiles(s.getPath)
        else if (s.getPath.getName.startsWith("part-")) Seq(s)
        else Nil
      }
    val files = partFiles(root).map(s => relOf(s.getPath, partitionCols.length) -> s).toMap
    // records and files must pair up exactly: a file without a record
    // has no stats, a record without a file is a listing gone wrong
    val unpaired = (files.keySet -- records.keySet) ++ (records.keySet -- files.keySet)
    if (unpaired.nonEmpty)
      throw new IllegalStateException(s"$out: written files and stats records " +
        s"do not pair up: ${unpaired.toSeq.sorted.mkString(", ")}")
    files.toSeq.sortBy(_._1).map { case (rel, s) => Produced(s, records(rel)) }
      .filter(_.stats.rows > 0)
  }

  /** A file's path under its table dir: `depth` partition dirs + name. */
  private[layout] def relOf(p: Path, depth: Int): String =
    Iterator.iterate(p)(_.getParent).take(depth + 1).map(_.getName)
      .toSeq.reverse.mkString("/")

  /** Manifest entries for produced files now under `base`, in path order.
    * Partition-column ranges are parsed from each file's directory and
    * typed the way a read of these files under `base` types them
    * (`schema`, when given, fixes the types as a user-specified read
    * schema does). Paths use the string form a scan's `input_file_name`
    * reports; `bytes` is the on-disk length.
    */
  def entries(spark: SparkSession, base: String, files: Seq[Produced],
      partitionCols: Seq[String], statsCols: Seq[String],
      schema: Option[StructType] = None): Seq[WrittenFile] = {
    val partStats = statsCols.filter(partitionCols.contains)
    val partRanges: Map[String, Map[String, ColRange]] =
      if (partStats.isEmpty || files.isEmpty) Map.empty
      else {
        val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
        val spec = PartitionBridge.parsePartitions(spark,
          files.map(_.status.getPath.getParent).distinct,
          fs.makeQualified(new Path(base)), schema)
        val pSchema = spec.partitionColumns
        val ordinals = partStats.map(pSchema.fieldIndex).toArray
        val views = Bridge.boundExprs(spark, pSchema, partStats.map(viewCol(pSchema, _))).toArray
        val numeric = partStats.map(isNumeric(pSchema, _)).toArray
        spec.partitions.map { pp =>
          val fold = new ValueFold(ordinals, views, numeric)
          fold.add(pp.values)
          pp.path.toUri.getPath -> partStats.zip(fold.ranges).toMap
        }.toMap
      }
    files.map { p =>
      val dir = p.status.getPath.getParent.toUri.getPath
      val ranges = p.stats.ranges ++ partRanges.getOrElse(dir, Map.empty)
      WrittenFile(FileEntry(
        org.apache.spark.paths.SparkPath.fromFileStatus(p.status).urlEncoded,
        p.stats.rows, statsCols.flatMap(c => ranges.get(c).map(c -> _)).toMap,
        Some(p.status.getLen)), p.stats.blooms)
    }.sortBy(_.entry.path)
  }

  private def isNumeric(schema: StructType, c: String): Boolean =
    ZoneMap.numericView(schema(c).dataType, c).isDefined

  /** The manifest's value of column `c`: numeric view, else string cast. */
  private def viewCol(schema: StructType, c: String) =
    ZoneMap.numericView(schema(c).dataType, c).getOrElse(col(c).cast(StringType))

  /** A write's request bound on the driver to the data schema of its
    * files: per stats column its ordinal and value expression, per bloom
    * its key ordinals and hash expression. Shipped to every writer.
    */
  private[layout] case class Plan(statsOrdinals: Array[Int], views: Array[Expression],
      numeric: Array[Boolean], statsNames: Array[String],
      blooms: Array[(String, Array[Int], Expression)], partitionDepth: Int,
      acc: CollectionAccumulator[FileStats])

  /** Bind a request against the data schema of the files being written. */
  private[layout] def plan(spark: SparkSession, req: Request, dataSchema: StructType): Plan = {
    val stats = req.statsCols.filter(dataSchema.fieldNames.contains)
    val blooms = req.blooms.map { case (name, keys) =>
      require(keys.forall(dataSchema.fieldNames.contains),
        s"key-index $name bloom keys ${keys.mkString(",")} must be data columns")
      (name, keys.map(dataSchema.fieldIndex).toArray,
        Bridge.boundExprs(spark, dataSchema, Seq(KeyIndex.keyHashCol(keys))).head)
    }
    Plan(stats.map(dataSchema.fieldIndex).toArray,
      Bridge.boundExprs(spark, dataSchema, stats.map(viewCol(dataSchema, _))).toArray,
      stats.map(isNumeric(dataSchema, _)).toArray, stats.toArray,
      blooms.toArray, req.partitionDepth, req.acc)
  }

  /** Min, max and non-null count per column, folded row by row. */
  private[layout] final class ValueFold(ordinals: Array[Int], views: Array[Expression],
      numeric: Array[Boolean]) {
    private val n = ordinals.length
    private val nonNull = new Array[Long](n)
    private val seen = new Array[Boolean](n)
    private val dMin = new Array[Double](n)
    private val dMax = new Array[Double](n)
    private val sMin = new Array[UTF8String](n)
    private val sMax = new Array[UTF8String](n)

    def add(row: InternalRow): Unit = {
      var i = 0
      while (i < n) {
        if (!row.isNullAt(ordinals(i))) {
          nonNull(i) += 1
          val v = views(i).eval(row)
          if (v != null) {
            if (numeric(i)) {
              val d = v.asInstanceOf[Double]
              if (!seen(i)) { dMin(i) = d; dMax(i) = d; seen(i) = true }
              else {
                if (SQLOrderingUtil.compareDoubles(dMin(i), d) > 0) dMin(i) = d
                if (SQLOrderingUtil.compareDoubles(dMax(i), d) < 0) dMax(i) = d
              }
            } else {
              // the row's buffer is reused: keep copies
              val s = v.asInstanceOf[UTF8String]
              if (sMin(i) == null || sMin(i).binaryCompare(s) > 0) sMin(i) = s.clone()
              if (sMax(i) == null || sMax(i).binaryCompare(s) < 0) sMax(i) = s.clone()
            }
          }
        }
        i += 1
      }
    }

    def ranges: Seq[ColRange] = (0 until n).map { i =>
      if (numeric(i))
        ColRange(if (seen(i)) Some(dMin(i)) else None,
          if (seen(i)) Some(dMax(i)) else None, None, None, nonNull(i) == 0L)
      else
        ColRange(None, None, Option(sMin(i)).map(_.toString),
          Option(sMax(i)).map(_.toString), nonNull(i) == 0L)
    }
  }

  /** One open file's key hashes until its bloom is built at close: 8 B
    * per row in fixed 64 KiB chunks, so growing never copies (a doubling
    * array would hold up to 3x that mid-copy).
    */
  private[layout] final class HashBuffer {
    private val chunks = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
    private var used = ChunkLongs

    def +=(h: Long): Unit = {
      if (used == ChunkLongs) { chunks += new Array[Long](ChunkLongs); used = 0 }
      chunks.last(used) = h
      used += 1
    }

    def iterator: Iterator[Long] = chunks.indices.iterator.flatMap { i =>
      chunks(i).iterator.take(if (i == chunks.length - 1) used else ChunkLongs)
    }
  }

  private val ChunkLongs = 8192

  /** One open file's fold: zone ranges plus, per bloom, the key hashes. */
  private[layout] final class FileFold(p: Plan) {
    private var rows = 0L
    private val values = new ValueFold(p.statsOrdinals, p.views, p.numeric)
    private val hashes = p.blooms.map(_ => new HashBuffer)

    def add(row: InternalRow): Unit = {
      rows += 1
      values.add(row)
      var b = 0
      while (b < p.blooms.length) {
        val (_, keys, hash) = p.blooms(b)
        // rows with a NULL key are not indexed (the probe skips them too)
        if (keys.forall(k => !row.isNullAt(k)))
          hashes(b) += hash.eval(row).asInstanceOf[Long]
        b += 1
      }
    }

    def result(rel: String): FileStats = FileStats(rel, rows,
      p.statsNames.zip(values.ranges).toMap,
      p.blooms.indices.map { b =>
        p.blooms(b)._1 -> KeyIndex.bloomOf(hashes(b).iterator, rows)
      }.toMap)
  }
}

/** Plain parquet whose writers fold stats per file (see [[StatsWriter]]).
  * Spark instantiates it by class name; [[StatsWriter.write]] is the only
  * way to use it.
  */
class StatsParquetFormat extends ParquetFileFormat {
  override def prepareWrite(spark: SparkSession, job: Job,
      options: Map[String, String], dataSchema: StructType): OutputWriterFactory =
    new StatsOutputWriterFactory(super.prepareWrite(spark, job, options, dataSchema),
      StatsWriter.plan(spark, StatsWriter.request(options), dataSchema))
}

private[layout] class StatsOutputWriterFactory(inner: OutputWriterFactory,
    val plan: StatsWriter.Plan) extends OutputWriterFactory {
  override def getFileExtension(context: TaskAttemptContext): String =
    inner.getFileExtension(context)

  override def newInstance(path: String, dataSchema: StructType,
      context: TaskAttemptContext): OutputWriter = {
    val w = inner.newInstance(path, dataSchema, context)
    val fold = new StatsWriter.FileFold(plan)
    val rel = StatsWriter.relOf(new Path(path), plan.partitionDepth)
    new OutputWriter {
      override def write(row: InternalRow): Unit = { w.write(row); fold.add(row) }
      override def close(): Unit = { w.close(); plan.acc.add(fold.result(rel)) }
      override def path(): String = w.path()
    }
  }
}
