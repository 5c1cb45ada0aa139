package org.apache.spark.sql

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Bridge into the session state and parquet internals that
  * `graft.sources.Parquet` needs to read a schema from one footer on the
  * driver, the way `ParquetFileFormat.mergeSchemasInParallel` reads it
  * inside its one-task job.
  */
object GraftParquetBridge {
  private def state(spark: SparkSession) =
    spark.asInstanceOf[classic.SparkSession].sessionState

  /** The Hadoop conf a file-source read of this session lists and opens with. */
  def hadoopConf(spark: SparkSession): Configuration = state(spark).newHadoopConf()

  /** Spark's hidden-file rule for partition discovery (`_x`, `.x`, `x._COPYING_`;
    * `_metadata` and `_common_metadata` kept).
    */
  def hiddenName(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)

  /** The Spark schema stored in `file`'s footer (the row metadata Spark
    * writes, else the converted parquet schema), converted under the
    * session's current conf, so `nanosAsLong` and friends apply.
    */
  def footerSchema(spark: SparkSession, file: FileStatus, conf: Configuration): StructType = {
    val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, meta),
      new ParquetToSparkSchemaConverter(state(spark).conf))
  }
}
