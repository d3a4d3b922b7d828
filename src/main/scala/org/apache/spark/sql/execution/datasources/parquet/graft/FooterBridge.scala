package org.apache.spark.sql.execution.datasources.parquet.graft

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.{SparkSession, classic}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Minimal bridge into Spark's parquet package so the graft library can
  * read a schema from parquet footers on the driver (the footer readers
  * are `private[parquet]`). Same pattern as
  * [[org.apache.spark.sql.graft.PlanBridge]]: no Spark internals are
  * modified, we only call the functions schema inference itself uses.
  */
object FooterBridge {

  /** The schema Spark's parquet inference returns for `files` — the
    * same footer readers and the same converter settings
    * (`binaryAsString`, `int96AsTimestamp`, `inferTimestampNTZ`,
    * `nanosAsLong`) under the session's conf — read in the calling
    * thread instead of in a Spark job. `None` when no footer names a
    * schema.
    */
  def readSchema(spark: SparkSession, files: Seq[FileStatus]): Option[StructType] = {
    val state = spark.asInstanceOf[classic.SparkSession].sessionState
    ParquetFileFormat.readSchema(
      ParquetFileFormat.readParquetFootersInParallel(
        state.newHadoopConf(), files, state.conf.ignoreCorruptFiles),
      spark)
  }
}
