package graft.vector

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._
import graft.sources.{IndexLifecycle, Parquet}

/** The vector-store subsystem: Spark-native replacement for the reference's
  * per-day FAISS index files (`faiss_manager.py`).
  *
  * Reference model: parallel in-memory arrays (one `IndexFlatL2` + one
  * metadata JSON per ingest day, `faiss_manager.py:26-27,41-61`), retention
  * of the 7 most recent days (`:91-104`), full-file rewrite on every append
  * (`:248-250`).
  *
  * Spark model: ONE DataFrame `(vec_id, embedding, data_type, data_json,
  * extras, ingest_date)` persisted as parquet partitioned by `ingest_date`.
  *  - append = `write.mode(Append).partitionBy("ingest_date")` — no rewrite
  *    amplification;
  *  - "load only recent days" = a partition-pruning predicate (Catalyst
  *    prunes directories, so a 7-day query touches 7/∞ of the data at any
  *    scale);
  *  - index/metadata positional drift (FAISS's parallel-array hazard,
  *    `faiss_manager.py:278-285`) is impossible: vector and metadata live in
  *    the same row;
  *  - point deletes and compaction are [[graft.sources.IndexLifecycle]]'s,
  *    with the root as its one table: `compact` rewrites only the files
  *    that hold a deleted id, through the same journaled commit as every
  *    other tombstoned index, and every entry point recovers first.
  *
  * The search tool (`IndexPipeline.searchIndex`) does not scan on every
  * call: [[ResidentWindow]] holds the retained window's files on the driver,
  * the way the reference holds its day indexes in memory, and falls back to
  * `search(loadRecent(..))` — this object's scan, which the oracle's queries
  * call directly.
  */
object VectorIndex {

  val RetentionDays = 7 // faiss_manager.py:15 max_days default

  /** S10/S12: append a batch of (embedding, metadata) rows to the index. */
  def append(batch: DataFrame, indexPath: String): Unit =
    batch.write.mode(SaveMode.Append).partitionBy("ingest_date").parquet(indexPath)

  /** Point deletes — the takedown/GDPR path the reference lacks entirely
    * (its only removal is whole-day retention, `faiss_manager.py:151-172`);
    * the contract is [[graft.sources.IndexLifecycle]]'s. The one table is
    * the index root: its data files are the `ingest_date=` directories'.
    * The log lives BESIDE the root, since anything non-hidden inside it
    * would enter partition discovery; the compaction's staging and journal
    * are hidden names inside it (`._stage`, `._journal`), which discovery,
    * [[graft.sources.Parquet]] and the resident window's listings skip.
    */
  private[graft] val Lifecycle =
    IndexLifecycle("vec_id", IndexLifecycle.Beside, Seq(IndexLifecycle.Table("")))

  /** Deleting a vec_id removes EVERY copy (a record re-ingested on several
    * days dies everywhere — the semantics a takedown wants).
    */
  def delete(spark: SparkSession, indexPath: String, ids: DataFrame): Unit =
    Lifecycle.delete(spark, indexPath, ids)

  /** Fold the tombstone log into the layout, as every tombstoned index
    * does ([[graft.sources.IndexLifecycle.compact]]): one column-pruned
    * `(vec_id, input_file_name)` job finds the data files holding a deleted
    * id, and each rewrites alone, back into its own day directory, through
    * the hidden roll-forward journal; the log drops last. A file read
    * alone carries no `ingest_date` column; the directory it lands in
    * gives it back on the next read. At 100 TB a handful of files rewrite;
    * every other file, in a dirty day or not, keeps its identity, so the
    * resident window keeps holding it.
    */
  def compact(spark: SparkSession, indexPath: String): Unit =
    Lifecycle.compact(spark, indexPath)

  /** S11 load-side: only the `maxDays` daily partitions in `(asOf−maxDays,
    * asOf]`, as a pruning predicate (reference reloads recent files,
    * `faiss_manager.py:91-99`). The upper bound makes `asOf` a real
    * time-travel anchor: re-anchoring into the past excludes later-ingested
    * partitions too, not just expired ones; a null `asOf` keeps every day.
    * Tombstoned ids anti-join out AFTER the pruning filter, so the scan
    * keeps its PartitionFilters.
    */
  def loadRecent(spark: SparkSession, indexPath: String, asOf: java.sql.Date,
      maxDays: Int = RetentionDays): DataFrame = {
    Lifecycle.recover(spark, indexPath)
    Lifecycle.dropTombstoned(spark, indexPath,
      IvfIndex.retained(Parquet.read(spark, indexPath), asOf, maxDays))
  }

  /** Newest ingest day present in the index layout. Directory-listing only
    * (partition names, no data read) — the same metadata-cost contract as
    * `retain`, so deriving the default retention anchor is free at 100 TB.
    */
  def maxIngestDate(spark: SparkSession, indexPath: String): Option[java.sql.Date] =
    ingestDays(spark, indexPath).map(_._1).maxOption.map(java.sql.Date.valueOf)

  /** Open-time recovery, then the layout's `ingest_date=` directories by
    * day, from one listing of the root (none when it is missing). A name
    * that is not an ISO date (a null day's `__HIVE_DEFAULT_PARTITION__`) is
    * no day: the window's date filter never keeps its rows either.
    */
  private[vector] def ingestDays(spark: SparkSession,
      indexPath: String): Seq[(java.time.LocalDate, Path)] =
    // driver-side metadata IO rides the transient-retry policy — one
    // throttled listStatus against object storage must not fail the query
    // (graft.sources.RetryingIO: the reference connector's 3×-backoff
    // contract; Spark only retries EXECUTOR-side task IO)
    graft.sources.RetryingIO.withRetry(s"ingestDays($indexPath)") {
      Lifecycle.recover(spark, indexPath)
      val root = new Path(indexPath)
      val listed =
        try root.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(root).toSeq
        catch { case _: java.io.FileNotFoundException => Nil }
      listed.filter(st => st.isDirectory && st.getPath.getName.startsWith("ingest_date="))
        .flatMap { st =>
          scala.util.Try(java.time.LocalDate.parse(st.getPath.getName.stripPrefix("ingest_date=")))
            .toOption.map(_ -> st.getPath)
        }
    }

  /** S11 delete-side: physically drop partitions older than the window
    * (reference: `_remove_old_indexes`, `faiss_manager.py:151-172`).
    * Recovery runs first, so no journal of a crashed compact names a file
    * in a dropped day; a directory that is no day (a null day's) is kept.
    *
    * Uses the Hadoop FileSystem API, so it works identically on local FS,
    * HDFS, and S3A — the 100-TB deployment targets. Cost is one directory
    * listing of the index root (partition names only, no data read).
    */
  def retain(spark: SparkSession, indexPath: String, asOf: java.sql.Date,
      maxDays: Int = RetentionDays): Seq[String] = {
    val cutoff = asOf.toLocalDate.minusDays(maxDays)
    val dropped = ingestDays(spark, indexPath).filterNot(_._1.isAfter(cutoff)).map(_._2)
    dropped.foreach(d => d.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(d, true))
    dropped.map(_.getName)
  }

  /** The reference's search (`faiss_manager.py:254-296` + `utils.py:100-108`):
    * kNN over the retained window with FAISS-parity output
    * `{rank, similarity_score, data_type, data_json}` — similarity is the
    * verbatim `1 - d/2` on squared L2. Per-partition top-k + global merge is
    * Spark's TakeOrderedAndProject, the exact analog of the reference's
    * per-index search + merge loop. A row without an embedding (a null
    * indexed text) has no distance and never ranks.
    */
  def search(index: DataFrame, query: Seq[Float], k: Int = 10): DataFrame = {
    val q = lit(query.toArray)
    index.filter(col("embedding").isNotNull)
      .withColumn("d2", l2Sq(col("embedding"), q))
      .orderBy(col("d2"), col("vec_id"))
      .limit(k)
      .withColumn("rank", row_number().over(Window.orderBy(col("d2"), col("vec_id"))).cast("long"))
      .select(col("rank"), faissSimilarity(col("d2")).as("similarity_score"),
        col("data_type"), col("data_json"))
  }

  /** Build an index frame from the `embeddings` fixture: synthetic ingest
    * dates spread over >7 days exercise retention + pruning (FIXTURES.md).
    */
  def fromEmbeddings(embeddings: DataFrame): DataFrame =
    embeddings.select(
      col("vec_id"), col("embedding"),
      lit("embedding").as("data_type"),
      to_json(struct(col("vec_id"), col("label"))).as("data_json"),
      date_add(lit(java.sql.Date.valueOf("2024-01-01")),
        (col("vec_id") % 10).cast("int")).as("ingest_date"))

  /** Oracle-checkable form of load-prune + count per retained day. */
  def pruneStats(embeddings: DataFrame): DataFrame = {
    val idx = fromEmbeddings(embeddings)
    val maxDate = idx.agg(max(col("ingest_date")).as("mx"))
    idx.crossJoin(broadcast(maxDate))
      .filter(col("ingest_date") > date_sub(col("mx"), RetentionDays))
      .groupBy(col("ingest_date"))
      .agg(count(lit(1)).as("n_vectors"), min(col("vec_id")).as("min_vec_id"))
      .select(date_format(col("ingest_date"), "yyyy-MM-dd").as("ingest_day"),
        col("n_vectors"), col("min_vec_id"))
      .orderBy(col("ingest_day"))
  }
}
