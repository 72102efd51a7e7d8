package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Spark's own footer-to-schema conversion, run on the driver. Schema
  * inference (`mergeSchemasInParallel`) applies the same conversion
  * inside a one-task Spark job; the reader and converter it uses are
  * `private[parquet]`, so this bridge lives in their package (the same
  * pattern as `org.apache.spark.sql.graftext.ColumnBridge`). The
  * binary-as-string, INT96, TIMESTAMP_NTZ-inference and `nanosAsLong`
  * session confs and the Spark row-metadata key are honoured exactly as
  * inference honours them.
  */
object FooterSchema {
  def of(spark: SparkSession, file: FileStatus): Option[StructType] =
    ParquetFileFormat.readSchema(
      ParquetFileFormat.readParquetFootersInParallel(
        spark.sessionState.newHadoopConf(), Seq(file), ignoreCorruptFiles = false),
      spark)
}
