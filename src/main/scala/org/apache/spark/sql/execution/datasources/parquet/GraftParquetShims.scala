package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Access shim: the footer read and footer-to-schema conversion that
  * parquet schema inference runs inside a Spark job are
  * `private[parquet]`. This re-exports them so a store can read one
  * file's schema on the driver (the same pattern as `GraftShims`). */
object GraftParquetShims {
  def footerSchema(spark: SparkSession, file: FileStatus): Option[StructType] =
    ParquetFileFormat.readSchema(ParquetFileFormat.readParquetFootersInParallel(
      spark.sessionState.newHadoopConf(), Seq(file),
      spark.sessionState.conf.ignoreCorruptFiles), spark)
}
