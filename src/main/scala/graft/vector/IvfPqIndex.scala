package graft.vector

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._
import graft.sources.Parquet

/** IVF-PQ: the composed on-disk ANN index — IVF coarse cells bound what a
  * query READS (partition pruning), residual product quantization bounds
  * the BYTES the pruned scan touches (the ADC stage reads ONLY the codes
  * column, so parquet column pruning turns the 32× vector compression into
  * an actual 32× scan reduction — the float vectors stay on disk until
  * re-rank). This is the classic IVF-PQ construction (Jégou et al., TPAMI
  * 2011; FAISS `IndexIVFPQ` — the reference only instantiates the flat
  * variant, `faiss_manager.py:143`).
  *
  * RESIDUAL quantization: codes encode `v − centroid(cell(v))`, not `v`.
  * Residuals concentrate near the origin with far less variance than raw
  * vectors, so the same codebook budget quantizes them more accurately —
  * and the query side compensates exactly, building a separate ADC lookup
  * table per probed cell from `q − centroid(cell)`.
  *
  * Layout on disk:
  *   path/centroids  — nCells coarse centroids (driver-constant sidecar)
  *   path/codebooks  — m×ksub residual sub-centroids (PqIndex sidecar form)
  *   path/vectors    — partitionBy(cell): vec_id, label, embedding, codes
  *
  * Query plan: rank the cells on the driver (`IvfIndex.rankCells` over
  * the held centroid rows) → [[cellLeaders]]: per probed cell an ADC fold
  * over the codes column only (codegen, `PqIndex.lut` literal), top
  * `k·refineFactor` by approximate distance → exact re-rank of the leaders
  * against their true embeddings (semi-join back into the probed
  * partitions, float column read for ≤ k·refineFactor rows per cell). The
  * batch form, [[knnJoin]], moves the same steps into the plan
  * ([[joinLeaders]]). `ServeIndex` runs both leader stages on its pq and
  * opq sidecars.
  */
object IvfPqIndex {

  /** Build the index: k-means coarse cells (IvfIndex machinery), residual
    * PQ codebooks trained on the assigned residuals, codes computed
    * map-only, one partitioned write.
    */
  def build(spark: SparkSession, embeddings: DataFrame, path: String,
      nCells: Int = 8, kmeansIters: Int = 3, m: Int = 8, ksub: Int = 16,
      pqIters: Int = 3,
      ingestDate: java.sql.Date = IvfIndex.DefaultIngestDate): Unit = {
    val centroids = IvfIndex.kmeansCentroids(embeddings, nCells, kmeansIters)
    centroids.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$path/centroids")
    val cents = IvfIndex.centroidRows(centroids)
    // Train the residual codebooks on (vec_id, residual-as-embedding);
    // staged once — consumed by pqIters training rounds AND the final encode.
    val residuals = IvfIndex.assign(embeddings, cents).withColumnRenamed("cid", "cell")
      .select(col("vec_id"), col("cell"), col("label"), col("embedding"),
        IvfIndex.residual(col("embedding"), cents).as("pq_embedding"))
      .localCheckpoint(true)
    val books = PqIndex.train(
      residuals.select(col("vec_id"), col("pq_embedding").as("embedding")), m, ksub, pqIters)
    PqIndex.writeBooks(spark, books, path)
    // cell × ingest_date layout: probe pruning composes with retention,
    // exactly like IvfIndex (reference retention applies to ALL vectors,
    // faiss_manager.py:151-172).
    // counts for the bounded-file write come from the CHECKPOINTED
    // residuals (one cells-bounded agg, no re-derivation of the codes
    // expression — writeCells' fallback would re-run the full projection)
    val counts = residuals.groupBy(col("cell")).agg(count(lit(1)).as("_n"))
      .collect().map(r => s"${r.get(0)}|$ingestDate" -> r.getAs[Long]("_n")).toSeq
    IvfIndex.writeCells(residuals
      .select(col("vec_id"), col("label"), col("embedding"), col("cell"),
        PqIndex.codesExpr(books, col("pq_embedding")).as("codes"),
        lit(ingestDate).as("ingest_date")),
      s"$path/vectors", SaveMode.Overwrite, knownCounts = Some(counts))
  }

  /** Retention: drop beyond-window `ingest_date=` directories inside every
    * cell — the layout matches IvfIndex's, so its directory-listing
    * retention applies verbatim.
    */
  def retain(spark: SparkSession, path: String, asOf: java.sql.Date,
      maxDays: Int = VectorIndex.RetentionDays): Seq[String] =
    IvfIndex.retain(spark, path, asOf, maxDays)

  /** Point deletes + compaction ride the IvfIndex tombstone lifecycle
    * verbatim — same layout, same log, same crash-safe swap; the `codes`
    * column rides the rewrite untouched. `search`/`knnJoin` anti-join the
    * log pre-compaction.
    */
  def delete(spark: SparkSession, path: String, ids: DataFrame): Unit =
    IvfIndex.delete(spark, path, ids)

  def compact(spark: SparkSession, path: String): Unit =
    IvfIndex.compact(spark, path)

  /** Incremental ingest: encode a new (vec_id, label, embedding) batch
    * against the EXISTING sidecars — centroid assignment, residual, codes,
    * all map-only — and append into the cell layout. Arriving vectors are
    * immediately visible to probe-pruned ADC search; resident data and the
    * codebooks never rewrite (the standard IVF-PQ ingest contract: codebook
    * drift is handled by periodic rebuilds, not per-batch retraining).
    */
  def appendBatch(spark: SparkSession, batch: DataFrame, path: String,
      ingestDate: java.sql.Date = IvfIndex.DefaultIngestDate): Unit = {
    IvfIndex.recover(spark, path)
    val books = PqIndex.readBooks(spark, path)
    val cents = IvfIndex.centroidRows(spark, path)
    val dated =
      if (batch.columns.contains("ingest_date")) batch
      else batch.withColumn("ingest_date", lit(ingestDate))
    // checkpointed so writeCells' counts pass reads materialized rows
    // instead of re-running the centroid assignment + codes projection
    // over the batch a second time (batch-bounded memory)
    val encoded = IvfIndex.assign(dated, cents).withColumnRenamed("cid", "cell")
      .withColumn("pq_embedding", IvfIndex.residual(col("embedding"), cents))
      .select(col("vec_id"), col("label"), col("embedding"), col("cell"),
        PqIndex.codesExpr(books, col("pq_embedding")).as("codes"), col("ingest_date"))
      .localCheckpoint(true)
    IvfIndex.writeCells(encoded, s"$path/vectors", SaveMode.Append)
  }

  /** Probe-pruned ADC search + exact re-rank. Per probed cell the ADC LUT
    * is built from the QUERY RESIDUAL against that cell's centroid, so the
    * residual codes decode consistently. The candidate stage never touches
    * the float column (`IvfPqSpec` pins the pruned read schema); only the
    * k·refineFactor leaders' embeddings are read for the exact distances.
    */
  def search(spark: SparkSession, path: String, query: Seq[Float],
      k: Int = 10, nProbe: Int = 2, refineFactor: Int = 4,
      asOf: java.sql.Date = null,
      maxDays: Int = VectorIndex.RetentionDays): DataFrame = {
    IvfIndex.recover(spark, path)
    val cents = IvfIndex.centroidRows(spark, path)
    val probed = IvfIndex.rankCells(cents, query.toArray, nProbe)
    // With asOf, both the ADC candidate scans and the re-rank are pruned
    // to the retention window's date directories (probe × retention, both
    // at the partition level — the IvfIndex contract).
    val base = IvfIndex.retained(IvfIndex.Lifecycle.dropTombstoned(spark, path,
      Parquet.read(spark, s"$path/vectors")), asOf, maxDays)
    val cand = cellLeaders(base, cents, probed, query.toArray,
      PqIndex.readBooks(spark, path), k * refineFactor)
    base.filter(col("cell").isin(probed: _*))
      .join(broadcast(cand), "vec_id", "left_semi")
      .withColumn("d2", l2Sq(col("embedding"), typedLit(query)))
      .orderBy(col("d2"), col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("label"), col("cell").cast("long").as("cell"),
        col("d2").as("dist_sq"))
  }

  /** Batch ADC kNN join: top-k corpus neighbors for EVERY row of a query
    * DataFrame, over the COMPRESSED layout — the scale composition of
    * `IvfIndex.knnJoin` (cell blocking) and the ADC scan (codes-only
    * candidate scoring). Per-query work that single-query `search` does on
    * the driver moves INTO the plan:
    *
    *  1. map-only on the query side: multi-probe cell assignment against
    *     the literal centroids, then a per-(query, probed-cell) residual
    *     LUT — `m·ksub` sub-distances against the literal flattened
    *     codebooks, computed ONCE per query-cell (m·ksub·dsub mults), so
    *     scoring a corpus row later costs m array lookups, not dim mults;
    *  2. ONE equi-join on the cell id (the layout's partition column —
    *     corpus arrives cell-clustered from disk, codes column only);
    *     ADC score = fold of `codes` through the query row's LUT column;
    *  3. bounded native top-(k·refineFactor) per query (map-side
    *     combining, ≤ that many rows per partition-query to the shuffle);
    *  4. exact re-rank: leaders join their float embeddings + the query
    *     vector, true distances, bounded top-k again.
    *
    * Approximation is (probe ∩ refine) only — output distances are exact.
    */
  def knnJoin(spark: SparkSession, path: String, queries: DataFrame,
      k: Int = 10, nProbe: Int = 2, refineFactor: Int = 4,
      asOf: java.sql.Date = null,
      maxDays: Int = VectorIndex.RetentionDays): DataFrame = {
    IvfIndex.recover(spark, path)
    import graft.functions.TopKAggregator
    val cents = IvfIndex.centroidRows(spark, path)
    val qSide = queries
      .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_emb"))
      .withColumn("cell", explode(IvfIndex.probeCells(col("q_emb"), cents, nProbe)))
    val base = IvfIndex.retained(IvfIndex.Lifecycle.dropTombstoned(spark, path,
      Parquet.read(spark, s"$path/vectors")), asOf, maxDays)
    val corpus = base.select(col("vec_id").as("c_vec_id"), col("codes"),
      col("cell").cast("long").as("cell"))
    val leaders = joinLeaders(qSide, "q_vec_id", col("q_emb"), corpus, "c_vec_id",
      cents, PqIndex.readBooks(spark, path), k * refineFactor)
    // Exact re-rank of the bounded leader set (≤ k·refineFactor per query).
    val emb = base.select(col("vec_id").as("c_vec_id"), col("embedding").as("c_emb"))
    leaders
      .join(emb, "c_vec_id")
      .join(queries.select(col("vec_id").as("q_vec_id"), col("embedding").as("q_emb")),
        "q_vec_id")
      .withColumn("d2", l2Sq(col("q_emb"), col("c_emb")))
      .groupBy(col("q_vec_id"))
      .agg(TopKAggregator.topK(k, -col("d2"), col("c_vec_id")).as("top"))
      .select(col("q_vec_id"), posexplode(col("top")))
      .select(col("q_vec_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("c_vec_id"), (-col("col.value")).as("dist_sq"))
      .orderBy(col("q_vec_id"), col("rank"))
  }

  /** The top `n` ADC leaders (`vec_id`) of one query over the `probed`
    * cells of `base`: per cell a codes-only scan scored through the
    * `PqIndex.lut` of the query's residual to that cell's centroid, the
    * scans unioned and ranked by (adc_d2, vec_id). `q` lives in the space of
    * the centroids and codebooks.
    */
  private[graft] def cellLeaders(base: DataFrame, cents: Seq[(Long, Array[Float])],
      probed: Seq[Long], q: Array[Float], books: PqIndex.Codebooks, n: Int): DataFrame =
    probed.map { cid =>
      val centroid = cents.find(_._1 == cid).get._2
      val lut = PqIndex.lut(books, q.zip(centroid).map { case (x, c) => x - c })
      base.filter(col("cell") === cid).select(col("vec_id"), PqIndex.adc(books, lut).as("adc_d2"))
    }.reduce(_ unionByName _)
      .orderBy(col("adc_d2"), col("vec_id"))
      .limit(n)
      .select(col("vec_id"))

  /** [[cellLeaders]] for every query row, in the plan: per (query, probed
    * cell) row of `qSide` the `PqIndex.lutExpr` of the residual of `qVec`,
    * one equi-join on `cell` with the codes-only `corpus`, and a bounded
    * native top-`n` per `qId` (map-side combining). `corpus` carries
    * `cId`, `codes` and `cell`; returns (`qId`, `cId`) leader rows.
    */
  private[vector] def joinLeaders(qSide: DataFrame, qId: String, qVec: Column,
      corpus: DataFrame, cId: String, cents: Seq[(Long, Array[Float])],
      books: PqIndex.Codebooks, n: Int): DataFrame =
    qSide.withColumn("q_res", IvfIndex.residual(qVec, cents))
      .withColumn("lut", PqIndex.lutExpr(books, col("q_res")))
      .select(col(qId), col("cell"), col("lut"))
      .join(corpus, "cell")
      .withColumn("adc_d2", PqIndex.adc(books, col("lut")))
      .groupBy(col(qId))
      .agg(graft.functions.TopKAggregator.topK(n, -col("adc_d2"), col(cId)).as("top"))
      .select(col(qId), explode(col("top.id")).as(cId))
}
