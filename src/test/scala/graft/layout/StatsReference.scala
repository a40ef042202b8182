package graft.layout

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The read-back stats scan the engine used before stats moved into the
  * write ([[StatsWriter]]): one grouped pass over written files computing
  * per-file min/max/non-null counts. Kept verbatim as the parity
  * reference for `WriteStatsParitySuite` and for suites that hand-build
  * manifest entries for files they copy in.
  */
object StatsReference {

  /** One distributed pass over a written table dir. */
  def collectStats(
      spark: SparkSession,
      dir: String,
      statsCols: Seq[String]): Seq[FileEntry] =
    collectStatsDf(spark.read.parquet(dir), statsCols)

  /** Same one-pass per-file stats over an explicit DataFrame. */
  def collectStatsDf(df: DataFrame, statsCols: Seq[String]): Seq[FileEntry] = {
    val schema = df.schema
    val aggs = statsCols.flatMap { c =>
      val dt = schema(c).dataType
      ZoneMap.numericView(dt, c) match {
        case Some(num) =>
          Seq(min(num).as(s"__min_$c"), max(num).as(s"__max_$c"),
            count(col(c)).as(s"__cnt_$c"))
        case None =>
          Seq(min(col(c).cast(StringType)).as(s"__mins_$c"),
            max(col(c).cast(StringType)).as(s"__maxs_$c"),
            count(col(c)).as(s"__cnt_$c"))
      }
    }
    val rows = df
      .groupBy(input_file_name().as("__file"))
      .agg(count(lit(1)).as("__rows"), aggs: _*)
      .collect()
    val entries = rows.toSeq.map { r =>
      val ranges = statsCols.map { c =>
        val nonNull = r.getAs[Long](s"__cnt_$c")
        val isStr = r.schema.fieldNames.contains(s"__mins_$c")
        val cr =
          if (isStr)
            ColRange(None, None,
              Option(r.getAs[String](s"__mins_$c")),
              Option(r.getAs[String](s"__maxs_$c")),
              allNull = nonNull == 0L)
          else
            ColRange(
              Option(r.getAs[java.lang.Double](s"__min_$c")).map(_.doubleValue),
              Option(r.getAs[java.lang.Double](s"__max_$c")).map(_.doubleValue),
              None, None, allNull = nonNull == 0L)
        c -> cr
      }.toMap
      FileEntry(r.getAs[String]("__file"), r.getAs[Long]("__rows"), ranges)
    }
    withSizes(df.sparkSession, entries)
  }

  /** Enrich entries with on-disk sizes (one driver-side stat per file). */
  def withSizes(spark: SparkSession, entries: Seq[FileEntry]): Seq[FileEntry] = {
    val conf = spark.sparkContext.hadoopConfiguration
    entries.map { e =>
      val sz =
        try {
          val p = new org.apache.hadoop.fs.Path(new java.net.URI(e.path))
          Some(p.getFileSystem(conf).getFileStatus(p).getLen)
        } catch { case scala.util.control.NonFatal(_) => None }
      e.copy(bytes = sz)
    }
  }
}
