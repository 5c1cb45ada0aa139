package graft.text

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Parquet

/** Persisted paragraph-hash index — the incremental (shard-at-a-time) form
  * of [[graft.ops.Curation.paragraphDedup]], which is exactly how CCNet
  * runs it (Wenzek et al. 2020 §4.1: each shard deduplicates against the
  * paragraph hashes of the shards processed before it). The batch operator
  * recomputes normalization over the whole corpus per run; this index
  * persists one row per distinct normalized paragraph and lets an arriving
  * shard cut its resident-duplicate paragraphs with one join — the
  * paragraph tier of the ingest-gate family (LSH docs / IVF vectors /
  * perceptual images, audio, video / paragraphs). Unlike the verdict
  * gates, this one performs SURGERY: the doc survives with its duplicated
  * paragraphs cut out.
  *
  * Layout on disk:
  *   path/hashes — (norm, first_doc, first_pos): one row per distinct
  *                 normalized paragraph ever ingested, carrying its global
  *                 first occurrence. At cluster scale this table would be
  *                 bucketBy(norm) so the per-shard join is co-located.
  *
  * Idempotency: a line whose resident entry IS its own (doc_id, pos)
  * keeps itself — re-offering an already-ingested shard reproduces its
  * original output instead of cutting everything against itself.
  *
  * Scale shape: the arriving shard explodes map-only; its within-batch
  * winners aggregate map-side-combined (no window sort over a hot
  * boilerplate key); the resident join touches the hashes table only
  * (never resident text); the rebuild is doc-bounded. Appends never
  * rewrite residents; [[delete]] rewrites through the crash-safe
  * [[graft.sources.CompactSwap]] sibling swap.
  */
object ParagraphIndex {

  private def recover(spark: SparkSession, path: String): Unit =
    graft.sources.CompactSwap.recover(spark, path, Seq("hashes"))

  private def lines(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), posexplode(split(col("text"), "\n")).as(Seq("pos", "line")))
      .withColumn("norm", trim(regexp_replace(lower(col("line")), "[^a-z ]", "")))

  /** Within-batch first occurrence per normalized paragraph (empty norms
    * excluded — they never participate, the batch operator's rule).
    */
  private def winners(ls: DataFrame): DataFrame =
    ls.filter(col("norm") =!= "")
      .groupBy(col("norm"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("w"))
      .select(col("norm"), col("w.doc_id").as("first_doc"), col("w.pos").as("first_pos"))

  /** Initialize the index from a resident corpus: its own first
    * occurrences become the resident hash set (the corpus itself is
    * assumed already rebuilt by the batch operator or a prior ingest).
    */
  def build(spark: SparkSession, docs: DataFrame, path: String): Unit =
    // norm-keyed sidecar (r13): the per-shard resident lookup point-prunes
    // to the shard's own norm buckets/pages on big corpora
    graft.sources.KeyedSidecar.write(winners(lines(docs)), "norm",
      s"$path/hashes", SaveMode.Overwrite)

  /** Ingest one shard: cut every paragraph already resident (unless the
    * resident entry is this very occurrence — idempotent re-offers) or
    * already seen earlier in the batch, rebuild the docs, and append the
    * batch's newly-won paragraph hashes. Returns
    * (doc_id, n_pars, n_kept, dedup_text) for the OFFERED shard —
    * dedup_text NULL when every paragraph was a duplicate.
    */
  def ingestBatch(spark: SparkSession, path: String, batch: DataFrame): DataFrame = {
    recover(spark, path)
    val ls = lines(batch).localCheckpoint(true) // consumed by winners + mark + rebuild
    val batchWin = winners(ls).localCheckpoint(true) // consumed by mark + append
    // Resident-side streamed (the r11 LshIndex.dedupBatch inversion): a
    // left-outer join with the corpus-sized hash table on the RIGHT can
    // only broadcast the resident side — so past broadcast size AQE
    // sort-merges and the FULL resident table crosses the shuffle for one
    // shard. Instead the residents scan map-locally against the broadcast
    // batch-norm set first; the surviving slice is ≤ one row per distinct
    // batch norm (the hashes table is norm-unique), i.e. batch-bounded,
    // and THAT broadcasts into the outer join. Checkpointed: it feeds the
    // mark join and the append anti-join — one resident scan, not two.
    val resident = graft.sources.KeyedSidecar
      .lookup(spark, s"$path/hashes", "norm", batchWin.select(col("norm")))
      .select(col("norm"), col("first_doc").as("r_doc"), col("first_pos").as("r_pos"))
      .join(broadcast(batchWin.select(col("norm"))), Seq("norm"), "left_semi")
      .localCheckpoint(true)
    val marked = ls
      .join(broadcast(batchWin), Seq("norm"), "left")
      .join(broadcast(resident), Seq("norm"), "left")
      .withColumn("keep",
        when(col("norm") === "", true)
          .when(col("r_doc").isNotNull,
            col("r_doc") === col("doc_id") && col("r_pos") === col("pos"))
          .otherwise(col("first_doc") === col("doc_id") && col("first_pos") === col("pos")))
    val out = marked.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_pars"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sort_array(collect_list(when(col("keep"),
          struct(col("pos"), col("line"))))).as("kp"))
      .select(col("doc_id"), col("n_pars"), col("n_kept"),
        when(col("n_kept") > 0,
          array_join(transform(col("kp"), _.getField("line")), "\n"))
          .as("dedup_text"))
      .orderBy(col("doc_id"))
      .localCheckpoint(true) // materialize BEFORE the append mutates the index
    // anti-join against the batch-bounded resident slice — equivalent to
    // anti-joining the full table (the semi-join filter above already
    // restricted to batch norms) without a second resident scan
    val newWinners = batchWin
      .join(broadcast(resident.select(col("norm"))), Seq("norm"), "left_anti")
    graft.sources.KeyedSidecar.write(newWinners, "norm",
      s"$path/hashes", SaveMode.Append)
    out
  }

  /** Release the paragraphs first-claimed by the given doc ids (takedown:
    * a removed doc must not keep suppressing its paragraphs in future
    * shards). Crash-safe sibling swap.
    */
  def delete(spark: SparkSession, path: String, docIds: Seq[Long]): Unit = {
    recover(spark, path)
    graft.sources.CompactSwap.rewrite(spark, path, "hashes") { dst =>
      val kept = Parquet.read(spark, s"$path/hashes")
        .filter(!col("first_doc").isin(docIds: _*))
      graft.sources.KeyedSidecar.write(kept, "norm", dst, SaveMode.Overwrite)
    }
  }
}
