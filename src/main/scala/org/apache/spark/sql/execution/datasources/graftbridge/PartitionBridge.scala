package org.apache.spark.sql.execution.datasources.graftbridge

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.{PartitioningUtils, PartitionSpec}
import org.apache.spark.sql.types.StructType

/** Bridge to the `datasources`-private partition parser (the sql-side
  * Bridge's technique, one package deeper).
  */
object PartitionBridge {

  /** Hive partition values of `leafDirs` under `base`, typed exactly as a
    * read of those directories types them (`PartitioningAwareFileIndex`'s
    * inference call, with the session's settings and an optional
    * user-specified schema). Driver-only: parses directory names.
    */
  def parsePartitions(s: SparkSession, leafDirs: Seq[Path], base: Path,
      schema: Option[StructType]): PartitionSpec = {
    val conf = org.apache.spark.sql.graftbridge.Bridge.classicSession(s).sessionState.conf
    PartitioningUtils.parsePartitions(
      leafDirs,
      typeInference = conf.partitionColumnTypeInferenceEnabled,
      basePaths = Set(base),
      userSpecifiedSchema = schema,
      caseSensitive = conf.caseSensitiveAnalysis,
      validatePartitionColumns = conf.validatePartitionColumns,
      timeZoneId = conf.sessionLocalTimeZone,
      ignoreInvalidPartitionPaths = conf.ignoreInvalidPartitionPaths)
  }
}
