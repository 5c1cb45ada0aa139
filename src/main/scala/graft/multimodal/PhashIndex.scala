package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted perceptual-hash index + ingest gate for the IMAGE modality —
  * the third member of the ingest-gate family (text: `LshIndex.ingestBatch`,
  * vectors: `IvfIndex.dedupIngest`): a crawl keeps re-delivering the same
  * picture re-encoded (different PNG filters/deflate, or the same pixels
  * as a JPEG), and the byte-exact CAS tier (`dedupStats`) cannot see it.
  *
  * All mechanics — layout (hashes = the id-gate authority written first,
  * probes = the persisted Manku radius-2 family), verdict priority, crash
  * ordering, tombstone lifecycle, compact swaps — live in the shared
  * [[Hash64Index]] engine (one implementation for every 64-bit perceptual
  * modality; [[AudioHashIndex]] is the audio twin). This wrapper owns only
  * the image-specific hash derivation: [[Multimodal.imageHashes]] (PNG or
  * baseline JPEG decode → aHash probe hash + dHash stored alongside).
  */
object PhashIndex {

  private def hashTable(media: Dataset[Multimodal.MediaRow]): DataFrame =
    Multimodal.imageHashes(media).toDF()
      .select(col("doc_id"), col("ahash"), col("dhash"))

  /** Create the index from an initial media corpus. */
  def build(spark: SparkSession, media: Dataset[Multimodal.MediaRow],
      path: String): Unit =
    Hash64Index.build(spark, hashTable(media), "ahash", path)

  /** Logical point deletes — image takedowns are the modality's most
    * common removal case; see [[Hash64Index.Lifecycle]] for the contract.
    */
  def delete(spark: SparkSession, path: String, ids: DataFrame): Unit =
    Hash64Index.delete(spark, path, ids)

  def compact(spark: SparkSession, path: String): Unit =
    Hash64Index.compact(spark, path)

  /** The gate: returns (doc_id, verdict) for the whole batch; survivors
    * are appended and visible to subsequent calls. Single-writer per index
    * path (the sidecar-merging store contract).
    */
  def dedupIngest(spark: SparkSession, path: String,
      batch: Dataset[Multimodal.MediaRow], maxHamming: Int = 2): DataFrame =
    Hash64Index.dedupIngest(spark, path, batch.toDF().select(col("doc_id")),
      hashTable(batch), "ahash", maxHamming)
}
