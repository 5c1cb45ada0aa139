package graft.text

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{IndexLifecycle, Parquet}

/** Persisted inverted index — the at-scale serving path for term search.
  * The scan-based family (`TextAnalysis.searchDocs`/`tfidfSearch`/
  * `bm25Search`) re-reads the corpus per query: right when queries are
  * rare and the corpus is cold, wrong for a serving workload. This index
  * persists posting lists ONCE; a query then reads only the directories
  * its terms hash into — corpus-size-independent query cost, the Lucene
  * segment idea re-expressed as a partitioned columnar layout.
  *
  * Layout on disk:
  *   path/postings — (term, doc_id, source, tf), partitioned by
  *                   `bucket = pmod(hash(term), nBuckets)`. Directory-
  *                   level partition pruning means a query scans only its
  *                   terms' buckets (~vocab/nBuckets of the postings per
  *                   term), and the in-bucket `term` predicate pushes to
  *                   parquet row groups. At cluster scale the postings
  *                   within a bucket would additionally sort by term so
  *                   footer min/max prunes row groups exactly.
  *   path/doclens  — (doc_id, source, dl): per-doc whitespace-token
  *                   lengths — BM25's length normalization AND the
  *                   id-disjointness gate table for appends.
  *   path/meta     — (n_buckets): the hash modulus queries must reuse.
  *
  * Build cost: one explode + one (term, doc) aggregation — the same
  * vocabulary-keyed shuffle shape as `heavyHitters`, amortized over every
  * future query. Query cost: pruned scan + one doc-keyed aggregation over
  * the matched postings only (AND-semantics prune first), then a native
  * bounded top-k. No corpus scan anywhere at query time.
  *
  * Unlike the reference's index maintenance — which rewrites the whole
  * day-index on every append (`faiss_manager.py:248-250`, the write-
  * amplification row in BASELINE.md) — `appendBatch` appends ONLY the
  * batch's posting rows into the existing bucket partitions; resident
  * postings are never rewritten.
  */
object InvertedIndex {

  private def postingsOf(docs: DataFrame, nBuckets: Int): DataFrame =
    graft.ops.Par.seed(docs, col("doc_id"))
      .select(col("doc_id"), col("source"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("term"), col("doc_id"), col("source"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("bucket", pmod(hash(col("term")), lit(nBuckets)))

  /** Bucket-aligned repartition: one file per bucket directory instead of
    * tasks × buckets (the IvfIndex.writeCells / SnapshotStore.init
    * rationale; 64 buckets ≥ the core count, so write parallelism holds).
    */
  private def writePostings(postings: DataFrame, path: String, mode: SaveMode): Unit =
    postings.repartition(col("bucket"))
      .write.mode(mode)
      .option("maxRecordsPerFile", graft.vector.IvfIndex.MaxRecordsPerCellFile)
      .partitionBy("bucket").parquet(path)

  /** Tokenize, count, and persist the posting lists. */
  def build(spark: SparkSession, docs: DataFrame, path: String,
      nBuckets: Int = 64): Unit = {
    require(nBuckets > 0, "nBuckets must be positive")
    val postings = postingsOf(docs, nBuckets).localCheckpoint(true)
    writePostings(postings, s"$path/postings", SaveMode.Overwrite)
    // doc_id-keyed sidecar (r13): the append id-gate point-prunes to the
    // batch's id buckets/pages instead of scanning every resident doclen
    graft.sources.KeyedSidecar.write(
      postings.groupBy(col("doc_id"), col("source")).agg(sum(col("tf")).as("dl")),
      "doc_id", s"$path/doclens", SaveMode.Overwrite)
    spark.range(1).select(lit(nBuckets).as("n_buckets"))
      .write.mode(SaveMode.Overwrite).parquet(s"$path/meta")
  }

  /** Append a batch's postings WITHOUT touching resident rows — the
    * contrast with the reference's full-rewrite append. Fails fast when
    * the batch reuses an indexed doc_id: a doc's term frequencies split
    * across posting rows would silently corrupt every tf/df/dl read, so
    * a replayed at-least-once batch must trip loudly instead. doclens is
    * written FIRST (it is the gate table): a crash mid-append leaves the
    * batch visible to the NEXT gate check, and the worst outcome is a
    * doc with length-only presence — never double-counted postings.
    */
  def appendBatch(spark: SparkSession, batch: DataFrame, path: String): Unit = {
    Lifecycle.recover(spark, path)
    val nBuckets = meta(spark, path)
    // Id gate, resident-side streamed (the r11 LshIndex.dedupBatch
    // inversion): the batch is bounded by contract and broadcasts; with
    // the batch on the left of the semi-join the corpus-sized doclens
    // table would sit on the build side and shuffle per append once past
    // broadcast size.
    val batchIds = batch.select(col("doc_id")).distinct()
    val resident = graft.sources.KeyedSidecar
      .lookup(spark, s"$path/doclens", "doc_id", batchIds)
      .select(col("doc_id"))
    val clash = resident
      .join(broadcast(batchIds), Seq("doc_id"), "left_semi")
      .select(countDistinct(col("doc_id"))).head.getLong(0)
    require(clash == 0L,
      s"appendBatch: $clash batch doc_id(s) already indexed — replay or id collision")
    val postings = postingsOf(batch, nBuckets).localCheckpoint(true)
    val dlRows = postings.groupBy(col("doc_id"), col("source"))
      .agg(sum(col("tf")).as("dl"))
    graft.sources.KeyedSidecar.write(dlRows, "doc_id",
      s"$path/doclens", SaveMode.Append)
    writePostings(postings, s"$path/postings", SaveMode.Append)
  }

  private def meta(spark: SparkSession, path: String): Int =
    Parquet.read(spark, s"$path/meta").head().getAs[Int]("n_buckets")

  /** Logical deletes on the shared [[graft.sources.IndexLifecycle]]
    * contract: removing a doc from its posting lists in place would
    * rewrite every bucket its terms hash into. The append id-gate keys on
    * doclens, so doclens compacts LAST — a mid-compaction crash keeps
    * deleted ids burned. Compaction rewrites only the posting files that
    * hold a deleted doc, each in its own bucket directory.
    */
  private[graft] val Lifecycle = IndexLifecycle("doc_id", IndexLifecycle.Inside, Seq(
    IndexLifecycle.Table("postings"),
    IndexLifecycle.Table("doclens", IndexLifecycle.keyed("doc_id"))))

  def delete(spark: SparkSession, path: String, ids: DataFrame): Unit =
    Lifecycle.delete(spark, path, ids)

  def compact(spark: SparkSession, path: String): Unit =
    Lifecycle.compact(spark, path)

  /** The bucket a term's postings live in — computed with the SAME
    * Murmur3 the build used, via Spark's own `hash` expression so build
    * and query can never disagree on the modulus placement.
    */
  private def termBuckets(spark: SparkSession, terms: Seq[String],
      nBuckets: Int): Map[String, Int] = {
    import spark.implicits._
    terms.toDF("term")
      .select(col("term"), pmod(hash(col("term")), lit(nBuckets)).as("bucket"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
  }

  private def prunedPostings(spark: SparkSession, path: String,
      terms: Seq[String]): DataFrame = {
    val nBuckets = meta(spark, path)
    val buckets = termBuckets(spark, terms, nBuckets).values.toSeq.distinct
    Lifecycle.dropTombstoned(spark, path,
      Parquet.read(spark, s"$path/postings")
        .filter(col("bucket").isin(buckets: _*) && col("term").isin(terms: _*)))
  }

  /** Conjunctive term search served from the index: same contract and
    * ranking as `TextAnalysis.searchDocs` — docs containing EVERY term,
    * ranked by summed tf with doc_id tie-break — but reading posting
    * buckets instead of the corpus. Partition pruning on `bucket` is the
    * scale property (pinned by `InvertedIndexSpec`'s plan assert).
    */
  def search(spark: SparkSession, path: String, terms: Seq[String],
      k: Int = 20): DataFrame = {
    require(terms.nonEmpty, "need at least one term")
    Lifecycle.recover(spark, path)
    val distinctTerms = terms.distinct
    prunedPostings(spark, path, distinctTerms)
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_matched"), sum(col("tf")).as("total_tf"))
      .filter(col("n_matched") === distinctTerms.size)
      .select(col("doc_id"), col("source"), col("total_tf"))
      .orderBy(col("total_tf").desc, col("doc_id"))
      .limit(k)
  }

  /** Okapi BM25 served from the index — bitwise-equal to the scan-based
    * `TextAnalysis.bm25Search` (InvertedIndexSpec asserts it): the score
    * expression is the SHARED `TextAnalysis.bm25ScoreExpr` tree over
    * identically-named columns, so both paths run the same IEEE ops in
    * the same order; only the inputs' provenance differs (pruned posting
    * buckets + the doclens table vs a corpus scan). Disjunctive like the
    * scan form — matching ANY term scores, idf is always positive, and
    * docs with no matching term are exactly the score-0 rows the scan
    * form filters out.
    */
  def bm25(spark: SparkSession, path: String, terms: Seq[String],
      k: Int = 20, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "need at least one term")
    Lifecycle.recover(spark, path)
    val tfNames = terms.indices.map(i => s"_tf$i")
    // doclens feeds n_docs/avgdl — tombstoned docs must leave the stats
    // too, or served BM25 would drift from the scan over the live corpus
    val doclens = Lifecycle.dropTombstoned(spark, path,
      Parquet.read(spark, s"$path/doclens"))
    val distinctTerms = terms.distinct
    val pruned = prunedPostings(spark, path, distinctTerms).localCheckpoint(true)
    // pivot the matched postings to one row per doc with per-term tfs,
    // mirroring the scan projection's column names and types
    val tfAggs = tfNames.zip(terms).map { case (nm, t) =>
      sum(when(col("term") === t, col("tf")).otherwise(0L)).as(nm)
    }
    val perDoc = pruned.groupBy(col("doc_id")).agg(tfAggs.head, tfAggs.tail: _*)
    val projected = doclens.join(perDoc, Seq("doc_id"), "inner")
      .select(col("doc_id") +: col("source") +: col("dl") +: tfNames.map(col): _*)
    // stats: n_docs/avgdl over ALL docs (doclens), df per term from the
    // pruned postings — the same values the scan aggregation produces
    val dfCounts = pruned.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val statCols = avg(col("dl")).as("avgdl") +: tfNames.zip(terms).map {
      case (nm, t) => max(lit(dfCounts.getOrElse(t, 0L))).as(s"df$nm")
    }
    val stats = doclens.agg(count(lit(1)).as("n_docs"), statCols: _*)
    projected.crossJoin(broadcast(stats))
      .select(col("doc_id"), col("source"),
        graft.ops.TextAnalysis.bm25ScoreExpr(tfNames, k1, b).as("score"))
      .filter(col("score") > 0.0)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Document frequencies served from the index for a term list — the
    * idf building block; reads only the terms' buckets.
    */
  def docFreq(spark: SparkSession, path: String, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "need at least one term")
    Lifecycle.recover(spark, path)
    prunedPostings(spark, path, terms.distinct)
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("total_tf"))
      .orderBy(col("term"))
  }
}
