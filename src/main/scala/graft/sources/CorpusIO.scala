package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus interchange sources/sinks — the formats a training-data pipeline
  * actually ingests from and exports to around its parquet core:
  *
  *  - JSONL (one JSON object per line, optionally gzip'd): the de-facto
  *    corpus interchange format. Written partitioned (`source=`) so a
  *    downstream reader partition-prunes by provenance; read with an
  *    EXPLICIT schema — schema inference is a full extra pass over 100 TB
  *    and infers unstable types, so it is deliberately not offered here.
  *  - CSV with header + explicit schema, for tabular side inputs.
  *
  * Both readers are plain `spark.read` DataFrames: Catalyst still prunes
  * columns, and for CSV/JSON pushes filters to the line parser. Binary
  * columns survive a JSONL round-trip via explicit base64 (`bin_b64`)
  * rather than format magic, so the contract is visible in the schema.
  */
object CorpusIO {

  /** The documents-table interchange schema (TESTDATA.md shape). */
  val documentSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = true),
    StructField("lang", StringType, nullable = true),
    StructField("source", StringType, nullable = true),
    StructField("n_chars", LongType, nullable = true)))

  /** Write a corpus as gzip'd JSONL partitioned by `source` — one
    * directory per provenance, splittable at the file level (many files
    * per partition), the layout a crawl-export lands in.
    */
  def writeDocumentsJsonl(docs: DataFrame, path: String): Unit =
    docs.write.mode(SaveMode.Overwrite)
      .partitionBy("source")
      .option("compression", "gzip")
      .json(path)

  /** Read a JSONL corpus with the explicit schema (no inference pass).
    * `source` comes back from the partition directories.
    */
  def readDocumentsJsonl(spark: SparkSession, path: String): DataFrame = {
    // partitionBy moves `source` out of the data files into directory
    // names; declare the remaining fields and let partition discovery
    // restore the column.
    val fileSchema = StructType(documentSchema.filterNot(_.name == "source"))
    spark.read.schema(fileSchema).json(path)
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
  }

  /** Permissive JSONL read for UNTRUSTED corpus exports: malformed lines
    * land in a `_corrupt_record` column instead of failing the job (a
    * 100 TB crawl WILL contain garbage lines; one bad file must not kill
    * the stage). Returns (clean rows, corrupt lines) — the caller audits
    * or quarantines the latter. Note Spark requires the corrupt column be
    * materialized via a cache/checkpoint boundary before filtering on it;
    * the split here does the required pass once.
    */
  def readDocumentsJsonlPermissive(spark: SparkSession, path: String)
      : (DataFrame, DataFrame) = {
    val fileSchema = StructType(
      documentSchema.filterNot(_.name == "source")
        .map(f => f.copy(nullable = true)) :+
        StructField("_corrupt_record", StringType, nullable = true))
    val raw = spark.read
      .schema(fileSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
      .cache()
    // `source` exists only when the layout is partition-discovered; a flat
    // export (no source= dirs) reads with a null source column.
    val sourceCol =
      if (raw.columns.contains("source")) col("source")
      else lit(null).cast(StringType).as("source")
    val clean = raw.filter(col("_corrupt_record").isNull)
      .select(col("doc_id"), col("text"), col("lang"), sourceCol, col("n_chars"))
    val corrupt = raw.filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record"))
    (clean, corrupt)
  }

  /** Media rows (doc_id, media_type, data: binary) → JSONL with explicit
    * base64. Binary never silently re-encodes: the column is visibly
    * `bin_b64` on disk.
    */
  def writeMediaJsonl(media: DataFrame, path: String): Unit =
    media.select(col("doc_id"), col("media_type"), base64(col("data")).as("bin_b64"))
      .write.mode(SaveMode.Overwrite).option("compression", "gzip").json(path)

  def readMediaJsonl(spark: SparkSession, path: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("media_type", StringType, nullable = true),
      StructField("bin_b64", StringType, nullable = true)))
    spark.read.schema(schema).json(path)
      .select(col("doc_id"), col("media_type"), unbase64(col("bin_b64")).as("data"))
  }

  /** CSV side-input reader: header + explicit schema, standard quoting. */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("header", "true").csv(path)

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** Compacted parquet sink — the small-files answer for the corpus write
    * path. Two levers compose:
    *  - the REBALANCE hint lets AQE split oversized and coalesce
    *    undersized shuffle partitions at runtime (skewed upstream stages
    *    stop dictating the file layout — a 10⁶-row partition next to
    *    hundred-row ones becomes evenly sized outputs);
    *  - `maxRecordsPerFile` hard-caps rows per file, so even a still-large
    *    partition splits on write.
    * Together: no small-file explosion from over-parallel upstreams, no
    * giant unsplittable files from skew. Returns the written row count
    * (one metadata-only read).
    */
  def writeCompactedParquet(df: DataFrame, path: String,
      maxRecordsPerFile: Long = 500000L): Long = {
    df.hint("rebalance")
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .parquet(path)
    Parquet.read(df.sparkSession, path).count()
  }
}
