package graft.vector

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
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
  * Query plan: probe nProbe cells (driver math over the sidecar) →
  * per-cell ADC fold over the codes column only (codegen, literal LUT) →
  * top `k·refineFactor` by approximate distance → exact re-rank of the
  * leaders against their true embeddings (semi-join back into the probed
  * partitions, float column read for ≤ k·refineFactor rows per cell).
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
    val cents = centroids.select(col("cid").cast("long"), col("c_embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val nearest = graft.functions.VectorFunctions.nearestCellCid(
      col("embedding"), cents.toSeq)
    // residual = embedding − centroid(cell): the centroid lookup is a
    // literal map over the constant-size centroid set — still map-only.
    val centMap = map(cents.flatMap { case (cid, v) =>
      Seq(lit(cid), typedLit(v)) }.toSeq: _*)
    val assigned = embeddings
      .withColumn("cell", nearest)
      .withColumn("residual",
        zip_with(col("embedding"), element_at(centMap, col("cell")), (a, b) => a - b))
    // Train the residual codebooks on (vec_id, residual-as-embedding);
    // staged once — consumed by pqIters training rounds AND the final encode.
    val residuals = assigned.select(col("vec_id"), col("cell"), col("label"),
      col("embedding"), col("residual").as("pq_embedding"))
      .localCheckpoint(true)
    val books = PqIndex.train(
      residuals.select(col("vec_id"), col("pq_embedding").as("embedding")), m, ksub, pqIters)
    import spark.implicits._
    books.zipWithIndex.flatMap { case (cs, s) =>
      cs.zipWithIndex.map { case (c, j) => (s, j, c.toSeq) }
    }.toSeq.toDF("sub_id", "code", "c_sub")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$path/codebooks")
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
    * column rides the rewrite untouched. `search`/`knnJoin`/`adcScan`
    * anti-join the log pre-compaction.
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
    val cents = Parquet.read(spark, s"$path/centroids")
      .select(col("cid").cast("long"), col("c_embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val nearest = graft.functions.VectorFunctions.nearestCellCid(
      col("embedding"), cents.toSeq)
    val centMap = map(cents.flatMap { case (cid, v) =>
      Seq(lit(cid), typedLit(v)) }.toSeq: _*)
    val dated =
      if (batch.columns.contains("ingest_date")) batch
      else batch.withColumn("ingest_date", lit(ingestDate))
    // checkpointed so writeCells' counts pass reads materialized rows
    // instead of re-running the centroid assignment + codes projection
    // over the batch a second time (batch-bounded memory)
    val encoded = dated
      .withColumn("cell", nearest)
      .withColumn("pq_embedding",
        zip_with(col("embedding"), element_at(centMap, col("cell")), (a, b) => a - b))
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
    val books = PqIndex.readBooks(spark, path)
    val m = books.length
    val ksub = books(0).length
    val dsub = books(0)(0).length
    val cents = Parquet.read(spark, s"$path/centroids")
      .select(col("cid").cast("long"), col("c_embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    def l2(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).map { case (x, y) => (x.toDouble - y.toDouble) * (x.toDouble - y.toDouble) }.sum
    val probed = cents.map { case (cid, c) => (l2(c, query), cid) }.sorted.take(nProbe)
    val raw = IvfIndex.Lifecycle.dropTombstoned(spark, path, Parquet.read(spark, s"$path/vectors"))
    // With asOf, both the ADC candidate scans and the re-rank are pruned
    // to the retention window's date directories (probe × retention, both
    // at the partition level — the IvfIndex contract).
    val base =
      if (asOf == null) raw
      else raw.filter(col("ingest_date") > date_sub(lit(asOf), maxDays) &&
        col("ingest_date") <= lit(asOf))
    // One ADC scan per probed cell (nProbe is small), each against its own
    // residual LUT — partition-pruned, codes-only.
    val perCell = probed.map { case (_, cid) =>
      val centroid = cents.find(_._1 == cid).get._2
      val qRes = query.zip(centroid).map { case (q, c) => q - c }
      val lutFlat: Seq[Double] = (0 until m * ksub).map { i =>
        val s = i / ksub; val j = i % ksub
        (0 until dsub).map { p =>
          val d = qRes(s * dsub + p).toDouble - books(s)(j)(p).toDouble
          d * d
        }.sum
      }
      val lut = typedLit(lutFlat)
      val approx = aggregate(
        expr(s"zip_with(sequence(0, ${m - 1}), codes, (s, c) -> s * $ksub + c)"),
        lit(0.0), (acc, i) => acc + element_at(lut, i + 1))
      base.filter(col("cell") === cid)
        .select(col("vec_id"), approx.as("adc_d2"))
    }
    val cand = perCell.reduce(_ unionByName _)
      .orderBy(col("adc_d2"), col("vec_id"))
      .limit(k * refineFactor)
      .select(col("vec_id"))
    base.filter(col("cell").isin(probed.map(_._2): _*))
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
    val books = PqIndex.readBooks(spark, path)
    val m = books.length
    val ksub = books(0).length
    val dsub = books(0)(0).length
    val cents = Parquet.read(spark, s"$path/centroids")
      .select(col("cid").cast("long"), col("c_embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val probeCells = graft.functions.VectorFunctions.orderedCellCids(
      col("q_emb"), cents.toSeq, nProbe)
    val centMap = map(cents.flatMap { case (cid, v) =>
      Seq(lit(cid), typedLit(v)) }.toSeq: _*)
    // Flattened codebooks as ONE literal: flatBooks[(s*ksub + j)*dsub + p].
    val flatBooks = typedLit(books.flatten.flatten.map(_.toDouble).toSeq)
    val lutExpr = transform(sequence(lit(0), lit(m * ksub - 1)), i => {
      val s = (i / lit(ksub)).cast("int") // subspace of LUT slot i
      aggregate(sequence(lit(0), lit(dsub - 1)), lit(0.0), (acc, p) => {
        val qv = element_at(col("q_res"), s * dsub + p + 1).cast("double")
        val bv = element_at(flatBooks, i * dsub + p + 1)
        acc + (qv - bv) * (qv - bv)
      })
    })
    val qSide = queries
      .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_emb"))
      .withColumn("cell", explode(probeCells))
      .withColumn("q_res",
        zip_with(col("q_emb"), element_at(centMap, col("cell")), (a, b) => a - b))
      .withColumn("lut", lutExpr)
      .select(col("q_vec_id"), col("q_emb"), col("cell"), col("lut"))
    val raw = IvfIndex.Lifecycle.dropTombstoned(spark, path, Parquet.read(spark, s"$path/vectors"))
    val base =
      if (asOf == null) raw
      else raw.filter(col("ingest_date") > date_sub(lit(asOf), maxDays) &&
        col("ingest_date") <= lit(asOf))
    val corpus = base.select(col("vec_id").as("c_vec_id"), col("codes"),
      col("cell").cast("long").as("cell"))
    val adc = aggregate(
      expr(s"zip_with(sequence(0, ${m - 1}), codes, (s, c) -> s * $ksub + c)"),
      lit(0.0), (acc, i) => acc + element_at(col("lut"), i + 1))
    val leaders = qSide.join(corpus, "cell")
      .withColumn("adc_d2", adc)
      .groupBy(col("q_vec_id"))
      .agg(TopKAggregator.topK(k * refineFactor, -col("adc_d2"), col("c_vec_id")).as("top"))
      .select(col("q_vec_id"), explode(col("top.id")).as("c_vec_id"))
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

  /** The codes-only candidate scan for one probed cell, exposed for the
    * spec's read-schema assert (the plan must not read `embedding`).
    */
  def adcScan(spark: SparkSession, path: String, query: Seq[Float], cid: Long): DataFrame = {
    IvfIndex.recover(spark, path)
    val books = PqIndex.readBooks(spark, path)
    val m = books.length
    val ksub = books(0).length
    val dsub = books(0)(0).length
    val centroid = Parquet.read(spark, s"$path/centroids")
      .filter(col("cid") === cid).select(col("c_embedding")).head.getSeq[Float](0)
    val qRes = query.zip(centroid).map { case (q, c) => q - c }
    val lutFlat: Seq[Double] = (0 until m * ksub).map { i =>
      val s = i / ksub; val j = i % ksub
      (0 until dsub).map { p =>
        val d = qRes(s * dsub + p).toDouble - books(s)(j)(p).toDouble
        d * d
      }.sum
    }
    val lut = typedLit(lutFlat)
    val approx = aggregate(
      expr(s"zip_with(sequence(0, ${m - 1}), codes, (s, c) -> s * $ksub + c)"),
      lit(0.0), (acc, i) => acc + element_at(lut, i + 1))
    IvfIndex.Lifecycle.dropTombstoned(spark, path, Parquet.read(spark, s"$path/vectors"))
      .filter(col("cell") === cid)
      .select(col("vec_id"), approx.as("adc_d2"))
  }
}
