package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Driver-local copies of batch-bounded frames: `collect` into a
  * `LocalRelation`. A frame derived from one by projection or filter plans
  * back to a `LocalRelation` and collects without a Spark job, and a join
  * against it plans with its exact size instead of re-running its source.
  * Use it for frames bounded by contract (a delivery batch, a result page,
  * one row per batch doc), never for frames whose size the resident data
  * controls: those keep `localCheckpoint` and a measured size guard.
  *
  * A frame that is already local costs no job here either.
  */
object LocalFrame {
  def apply(df: DataFrame): DataFrame = of(df.sparkSession, df.schema, df.collect().toSeq)

  /** A local frame over rows already on the driver. */
  def of(spark: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
}
