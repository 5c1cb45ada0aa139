package graft.vector

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import graft.sources.LocalFrame

/** The defining dataflow of the reference (SURVEY.md §3.2 step 6): every
  * read tool embeds its result rows and appends them to the vector index;
  * the search tool embeds the query and ranks the retained window. This
  * module is that loop: one narrow projection to build the index rows, a
  * date-partitioned append, and a kNN over the window the driver holds
  * ([[ResidentWindow]]), with the partition-pruned scan as its fallback.
  */
object IndexPipeline {

  /** Embed + wrap + append: the `store_in_faiss` leg (`utils.py:25-71` ->
    * `faiss_manager.py:221-252`). `data_json` keeps the full record
    * (dual-fidelity: the index stores full text even when the tool response
    * truncates, `handlers/conversation_handler.py:63-67`).
    *
    * The read tools pass the page they returned, already collected, as a
    * local frame ([[graft.sources.LocalFrame]]): the index stores the page
    * the tool returned, from one execution of the tool's plan. The index
    * rows of a driver-local `records` frame fold on the driver (the
    * projection plans to a `LocalRelation`, no job; `vec_id` numbers them
    * 0..n−1, deterministically), the append writes them as one partition —
    * one job, one file — and [[ResidentWindow]] holds the folded rows under
    * that file, so the next search reads nothing back. Any other frame
    * appends through its own plan and is never collected. A null text stores a null embedding; every search
    * skips such rows.
    */
  def indexRecords(records: DataFrame, textCol: String, dataType: String,
      indexPath: String, ingestDate: java.sql.Date,
      embedder: Embedder = new HashingEmbedder()): Unit = {
    val rows = records.select(
      monotonically_increasing_id().as("vec_id"),
      embedder.embedCol(col(textCol)).as("embedding"),
      lit(dataType).as("data_type"),
      to_json(struct(records.columns.map(col): _*)).as("data_json"),
      lit(ingestDate).as("ingest_date"))
    rows.queryExecution.optimizedPlan match {
      case page: LocalRelation if ingestDate != null =>
        ResidentWindow.appended(records.sparkSession, indexPath, ingestDate.toLocalDate, page) {
          // a LocalTableScan splits into defaultParallelism slices and would
          // write one file per slice; the write folds the same rows again
          VectorIndex.append(rows.coalesce(1), indexPath)
        }
      case _ => VectorIndex.append(rows, indexPath)
    }
  }

  /** The search tool (§3.1): embed the query text driver-side with the SAME
    * embedder and brute-force kNN over the retention window with
    * FAISS-parity output — the reference's only access path
    * (`faiss_manager.py:143` only ever instantiates IndexFlatL2). ANN
    * serving is a separate call, [[ServeIndex.search]], never a session
    * setting of this one.
    *
    * Retention is ALWAYS applied — the reference's search never scans more
    * than the retained day-indexes (`faiss_manager.py:91-99,270-272`).
    * When no `asOf` is given the anchor defaults to the index's newest
    * ingest day. One listing of the index root gives the anchor and the
    * window's day directories; [[ResidentWindow]] answers from the window
    * held on the driver, reading only the files it does not hold, and its
    * ranked hit rows are the result, wrapped here in a local frame (no job
    * when it holds them all; `GraftApi.searchData` takes the rows through
    * [[search]] and runs no Spark SQL execution either). The
    * partition-pruned scan of [[VectorIndex.loadRecent]] answers instead
    * while a tombstone log exists, when the window is larger than
    * [[graft.sources.ResidentFiles.MaxBytes]], and on a layout without
    * `ingest_date=` directories. Both give the same hits, scores and schema.
    */
  def searchIndex(spark: SparkSession, indexPath: String, queryText: String,
      k: Int = 10, asOf: java.sql.Date = null,
      embedder: Embedder = new HashingEmbedder()): DataFrame =
    search(spark, indexPath, queryText, k, asOf, embedder)
      .fold(identity, LocalFrame.of(spark, ResidentWindow.HitSchema, _))

  /** [[searchIndex]]'s one ranking: Right, the hits [[ResidentWindow]]
    * ranked (rows of its `HitSchema`, in rank order); Left, the scan frame,
    * when the scan must answer.
    */
  private[graft] def search(spark: SparkSession, indexPath: String, queryText: String,
      k: Int = 10, asOf: java.sql.Date = null,
      embedder: Embedder = new HashingEmbedder()): Either[DataFrame, Seq[Row]] = {
    val q = embedder.embedText(queryText)
    val days = VectorIndex.ingestDays(spark, indexPath)
    Option(asOf).map(_.toLocalDate).orElse(days.map(_._1).maxOption) match {
      case Some(anchor) if days.nonEmpty =>
        ResidentWindow.search(spark, indexPath, days, anchor, q, k).toRight(
          VectorIndex.search(VectorIndex.loadRecent(spark, indexPath,
            Option(asOf).getOrElse(java.sql.Date.valueOf(anchor))), q.toSeq, k))
      case _ => Left(VectorIndex.search(retained(spark, indexPath, asOf), q.toSeq, k))
    }
  }

  /** The retained window of the flat index at `asOf` (default: its newest
    * ingest day), tombstones dropped.
    */
  private def retained(spark: SparkSession, indexPath: String,
      asOf: java.sql.Date): DataFrame =
    // an empty/legacy layout has no day: nothing to prune, deletes still honored
    VectorIndex.loadRecent(spark, indexPath,
      Option(asOf).orElse(VectorIndex.maxIngestDate(spark, indexPath)).orNull)

  /** Batch search: top-k hits for EVERY query text at once — N queries is
    * one distributed job, not N driver round-trips. Queries embed as a
    * map-only column (same embedder expression the ingest leg uses), the
    * retained window loads once, and the per-query top-k is the bounded
    * native aggregate (`TopKAggregator`) over one crossJoin — the
    * brute-force twin of the IVF knnJoin, correct at any corpus size and
    * the right plan while the retained window is the 7-day index the
    * reference scans. Output: (query_id, rank, similarity_score,
    * data_type, data_json).
    */
  def searchIndexBatch(spark: SparkSession, indexPath: String, queries: DataFrame,
      k: Int = 10, asOf: java.sql.Date = null,
      embedder: Embedder = new HashingEmbedder()): DataFrame = {
    import graft.functions.VectorFunctions._
    val q = queries.select(col("query_id"),
      embedder.embedCol(col("query_text")).as("q_emb"))
    val idx = retained(spark, indexPath, asOf)
    // a row without an embedding (a null indexed text) never ranks
    val corpus = idx.filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding"), col("data_type"), col("data_json"))
    q.crossJoin(corpus)
      .withColumn("d2", l2Sq(col("q_emb"), col("embedding")))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAggregator.topK(k, -col("d2"), col("vec_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("vec_id"), (-col("col.value")).as("d2"))
      // dropDuplicates: a vec_id re-ingested on several ingest_dates must not
      // fan the rank join out into duplicate (query_id, rank) rows — the
      // single-query path carries its payload through the top-k without a
      // join, so this keeps batch ≡ N-singles.
      .join(corpus.select(col("vec_id"), col("data_type"), col("data_json"))
        .dropDuplicates("vec_id"), "vec_id")
      .select(col("query_id"), col("rank"),
        faissSimilarity(col("d2")).as("similarity_score"),
        col("data_type"), col("data_json"))
      .orderBy(col("query_id"), col("rank"))
  }
}
