package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.Parquet

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * These play the role of the reference's remote CRM scans
  * (`clients/company_client.py:31-65`, `clients/ticket_client.py:148-253`):
  * instead of a REST search API, every source is a columnar table and
  * predicate/projection/limit pushdown is native Catalyst -> Parquet.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    Parquet.read(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** events.parquet has shipped `ts` in two physical forms across testdata
    * generations: TIMESTAMP(NANOS) (which the vectorized reader rejects —
    * read nanos as long via the legacy flag, floor to micros) and plain
    * micros TIMESTAMP_NTZ. Adapt on the observed schema and surface a
    * uniform TimestampType column either way (session TZ is pinned UTC, so
    * the NTZ cast preserves wall time).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros((col("ts") / 1000L).cast("long")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
