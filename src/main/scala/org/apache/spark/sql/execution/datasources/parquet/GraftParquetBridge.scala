package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FileSourceOptions
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.types.StructType

/** Minimal bridge into `private[parquet]` schema helpers (the
  * [[org.apache.spark.sql.GraftSqlBridge]] idiom) so `graft.core.Tables`
  * can resolve a parquet schema on the driver with exactly the footer
  * reader, converter and session flags (`nanosAsLong`,
  * `inferTimestampNTZ`, binary-as-string, INT96) of Spark's own
  * inference — which runs the same code inside a one-task job.
  */
object GraftParquetBridge {

  /** The Spark schema of one parquet file's footer, as Spark's inference
    * would resolve it from that file under `options`; None when the
    * footer is skipped as corrupt (`ignoreCorruptFiles`). */
  def footerSchema(spark: SparkSession, file: FileStatus,
                   options: Map[String, String]): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConfWithOptions(options)
    val ignoreCorrupt =
      new FileSourceOptions(CaseInsensitiveMap(options)).ignoreCorruptFiles
    ParquetFileFormat.readSchema(
      ParquetFileFormat.readParquetFootersInParallel(conf, Seq(file),
        ignoreCorrupt), spark)
  }
}
