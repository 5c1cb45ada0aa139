package graft.vector

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._
import graft.sources.Parquet

/** ANN acceleration sidecar for the flat serving index — an explicit
  * alternative to the flat retained-window scan of
  * `IndexPipeline.searchIndex` for a caller whose window is big: the
  * caller picks it by calling `search`/`searchBatch` here, never through
  * session state. The flat `VectorIndex` layout stays the source of
  * truth (appends, tombstones, retention, payload); `build` reorganizes its
  * CURRENT retained window into an IVF, IVF-PQ, IVF-SQ8, or OPQ (PCA-rotated
  * residual PQ — FAISS `PCAMatrix,IVFx,PQy` posture) layout at
  * `<indexPath>._serve`, and `search` serves the reference's query contract
  * from it:
  *
  *  - SEALED days (ingest_date < the sidecar's watermark) are probe-pruned:
  *    only `nProbe` cell directories are read — and on the `ivfpq` / `sq`
  *    kinds the candidate stage reads the codes column only (residual-PQ
  *    ADC / scalar dequantization), touching float embeddings just for the
  *    `k·refineFactor` re-rank leaders.
  *  - The HOT day (ingest_date ≥ watermark — the day still taking appends)
  *    is brute-forced straight from the flat layout, so rows ingested
  *    after the sidecar build are always visible. Sealed + hot partition
  *    the retained window exactly (no overlap, no gap), the
  *    Lucene/FAISS "indexed segments + live tail" serving shape.
  *  - Flat-index TOMBSTONES anti-join BOTH arms before any top-k, so a
  *    delete issued after the sidecar build still hides the vector and
  *    never consumes a candidate slot (the vec_delete_search contract).
  *  - RETENTION is the same `(asOf − RetentionDays, asOf]` predicate on
  *    both arms — the sidecar layout nests `ingest_date` under `cell`, so
  *    probe pruning composes with date pruning at the directory level.
  *
  * Exactness: with probe-all (`nProbe ≥ nCells`) and a refine budget
  * covering the window, sealed ∪ hot is precisely the row set
  * `VectorIndex.search` scans, under the same distance expression and
  * (d2, vec_id) order — output is bit-for-bit the flat search's
  * (`GraftApiSpec` asserts it). Budgeted configs trade recall for read
  * volume exactly like `IvfPqIndex`'s fast configs, whose floors are
  * spec-pinned.
  *
  * Freshness contract: `build` is a point-in-time reorganization (rerun it
  * on a schedule — the standard ANN posture; `faiss_manager.py` rebuilds
  * per-day files similarly). Appends are expected to land on the CURRENT
  * max ingest day; backfilling a day older than the watermark requires a
  * sidecar rebuild (the hot-day arm only covers `ingest_date ≥ watermark`).
  * `search` refuses anchors before the watermark (time travel into days the
  * sidecar's window never covered) by returning None — the caller then
  * runs the flat scan, trading speed, never correctness.
  */
object ServeIndex {

  /** Hidden sibling of the index root — same placement rule as the
    * tombstone log (anything inside the root would enter partition
    * discovery).
    */
  def sidecarPath(indexPath: String): String =
    indexPath.stripSuffix("/") + "._serve"

  private def fs(spark: SparkSession, p: String) =
    new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def exists(spark: SparkSession, p: String): Boolean =
    fs(spark, p).exists(new org.apache.hadoop.fs.Path(p))

  /** Trained per-dimension SQ bounds of an `sq`-kind sidecar. */
  private def readBounds(spark: SparkSession, sc: String): (Seq[Double], Seq[Double]) = {
    val rows = Parquet.read(spark, s"$sc/sq_bounds").orderBy(col("dim")).collect()
    (rows.map(_.getAs[Double]("lo")).toSeq, rows.map(_.getAs[Double]("hi")).toSeq)
  }

  /** Persisted PCA rotation of an `opq`-kind sidecar: mean row (comp_id
    * = −1) plus one eigenvector row per component, reconstructed into the
    * [[Pca.PcaModel]] the projection expression consumes (eigenvalues are
    * not persisted — the rotation never whitens).
    */
  private def readRotation(spark: SparkSession, sc: String): Pca.PcaModel = {
    val rows = Parquet.read(spark, s"$sc/rotation").collect()
    val mean = rows.find(_.getLong(0) == -1L).get.getSeq[Double](1).toArray
    val comps = rows.filter(_.getLong(0) >= 0).sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    Pca.PcaModel(mean, Array.fill(comps.length)(0.0), comps)
  }

  /** Rotate one query with the sidecar's persisted PCA basis — the same
    * left-to-right fold [[Pca.projectCol]] codegens, evaluated on the
    * driver (a d-length array, not a corpus pass).
    */
  private def rotateQuery(spark: SparkSession, sc: String,
      q: Seq[Float]): Array[Float] = {
    val mdl = readRotation(spark, sc)
    mdl.components.map { vc =>
      val muDotV = mdl.mean.indices.foldLeft(0.0)((acc, i) => acc + mdl.mean(i) * vc(i))
      val xDotV = q.indices.foldLeft(0.0)((acc, i) => acc + q(i).toDouble * vc(i))
      (xDotV - muDotV).toFloat
    }
  }

  /** (kind, watermark) of the live sidecar, if one is fully built. The
    * existence probe is driver-side metadata IO and rides the
    * transient-retry policy (`graft.sources.RetryingIO`) — a throttled
    * object-store response must make `search` answer None only when the
    * sidecar is genuinely absent, not because one HEAD got a 503.
    */
  def meta(spark: SparkSession, indexPath: String): Option[(String, java.sql.Date)] = {
    val mp = s"${sidecarPath(indexPath)}/meta"
    val there = graft.sources.RetryingIO.withRetry(s"ServeIndex.meta($indexPath)") {
      exists(spark, mp)
    }
    if (!there) None
    else {
      // the follow-up footer read is the same class of driver-side
      // metadata IO as the probe — one throttle must not fail the query
      // either (ADVICE r9)
      val r = graft.sources.RetryingIO.withRetry(s"ServeIndex.meta($indexPath) read") {
        Parquet.read(spark, mp).head
      }
      Some((r.getAs[String]("kind"), r.getAs[java.sql.Date]("watermark")))
    }
  }

  /** Rebuild the sidecar from the flat index's current retained window.
    * k-means cells (explicitly seeded — flat vec_ids are
    * monotonically_increasing_id values, sparse and reusable across
    * appends, so the embeddings-table dense-id seeding doesn't apply),
    * optional residual PQ codes, one `partitionBy(cell, ingest_date)`
    * write carrying the payload columns (the FAISS posture: metadata
    * travels with the index, `faiss_manager.py:26-27`).
    *
    * The build lands in a staging sibling and swaps in with
    * delete-then-rename: a crash mid-build leaves the old sidecar live; a
    * crash between delete and rename leaves NO sidecar — and a missing
    * sidecar only ever makes `search` answer None.
    */
  def build(spark: SparkSession, indexPath: String, kind: String,
      nCells: Int = 8, kmeansIters: Int = 3, m: Int = 8, ksub: Int = 16,
      pqIters: Int = 3, asOf: java.sql.Date = null): Unit = {
    require(kind == "ivf" || kind == "ivfpq" || kind == "sq" || kind == "opq",
      s"unknown serve index kind: $kind")
    val anchor = Option(asOf)
      .orElse(VectorIndex.maxIngestDate(spark, indexPath))
      .getOrElse(throw new IllegalStateException(
        s"no ingest days at $indexPath — nothing to index"))
    val rows = VectorIndex.loadRecent(spark, indexPath, anchor)
      .localCheckpoint(true) // consumed by seeding, k-means, assign, write
    // OPQ kind: PCA-rotate the window BEFORE the IVF/PQ stages (the FAISS
    // `PCAMatrix` / OPQ-init preprocessing) — cells, residuals and codes
    // live in the rotated space, aligning PQ subspace boundaries with the
    // principal axes (the OPQ objective's starting point; whether that
    // lowers quantization error is corpus-dependent — total variance is
    // rotation-invariant, so the win comes from cross-subspace
    // decorrelation on anisotropic real-world embeddings, not from any
    // universal guarantee). What IS guaranteed: the STORED embedding
    // column and the exact re-rank stay ORIGINAL, so probe-all exactness
    // is untouched — the rotation is orthogonal, L2 distances in rotated
    // space equal raw-space distances up to float rounding, which only
    // ever moves the candidate tier, never the re-ranked answer.
    val rotation = if (kind == "opq") Some(Pca.fit(rows)) else None
    val annRows = (rotation match {
      case Some(mdl) =>
        rows.withColumn("ann_emb", transform(
          Pca.projectCol(mdl, mdl.mean.length), x => x.cast("float")))
          .localCheckpoint(true) // d² flops/row — not re-paid per k-means round
      case None => rows.withColumn("ann_emb", col("embedding"))
    })
    val seedRows = annRows.orderBy(col("vec_id"), col("ingest_date")).limit(nCells)
      .select(col("ann_emb")).collect().map(_.getSeq[Float](0))
    require(seedRows.nonEmpty, s"retained window at $indexPath is empty")
    import spark.implicits._
    val seeds = seedRows.zipWithIndex
      .map { case (e, i) => (i.toLong, e) }.toSeq
      .toDF("cid", "c_embedding")
    val centroids = IvfIndex
      .kmeansCentroids(
        annRows.select(col("vec_id"), col("ann_emb").as("embedding")),
        seedRows.length, kmeansIters, seeds = Some(seeds))
      .localCheckpoint(true)
    // assignment runs in the ANN space (= raw space for non-opq kinds)
    val cents = IvfIndex.centroidRows(centroids)
    val assigned = IvfIndex.assign(
        annRows.withColumnRenamed("embedding", "orig_emb")
          .withColumnRenamed("ann_emb", "embedding"), cents)
      .withColumnRenamed("embedding", "ann_emb")
      .withColumnRenamed("orig_emb", "embedding")
      .withColumnRenamed("cid", "cell")
    val staging = sidecarPath(indexPath) + ".build"
    val stagingFs = fs(spark, staging)
    stagingFs.delete(new org.apache.hadoop.fs.Path(staging), true)
    centroids.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$staging/centroids")
    rotation.foreach { mdl =>
      ((-1L, mdl.mean.toSeq) +: mdl.components.zipWithIndex
        .map { case (v, i) => (i.toLong, v.toSeq) }.toSeq)
        .toDF("comp_id", "v")
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$staging/rotation")
    }
    val vectors =
      if (kind == "ivf") assigned.drop("ann_emb")
      else if (kind == "sq") {
        // SQ8 codes over the RAW window vectors (FAISS IVF-SQ shape): the
        // per-dimension (min, max) bounds train in one partial-agg pass
        // and persist beside the centroids; the candidate stage reads the
        // 4×-narrower codes column only, like the pq kind reads its codes
        val (mins, maxs) = SqIndex.train(rows)
        mins.toSeq.zip(maxs.toSeq).zipWithIndex
          .map { case ((lo, hi), dimIdx) => (dimIdx, lo, hi) }
          .toDF("dim", "lo", "hi")
          .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$staging/sq_bounds")
        assigned.drop("ann_emb").withColumn("codes",
          SqIndex.encodeCol(col("embedding"), mins.toSeq, maxs.toSeq))
      } else {
        // residual PQ: codes encode v − centroid(cell(v)) — v in the ANN
        // space (rotated for opq, raw for ivfpq) — the IvfPqIndex
        // construction, trained on this window's residuals
        val withRes = assigned
          .withColumn("pq_embedding", IvfIndex.residual(col("ann_emb"), cents))
          .localCheckpoint(true) // PQ training reruns the scan per round
        val books = PqIndex.train(
          withRes.select(col("vec_id"), col("pq_embedding").as("embedding")),
          m, ksub, pqIters)
        PqIndex.writeBooks(spark, books, staging)
        withRes.withColumn("codes", PqIndex.codesExpr(books, col("pq_embedding")))
          .drop("pq_embedding").drop("ann_emb")
      }
    // bounded-file cell write (the IvfIndex.writeCells rationale: a bare
    // partitionBy emits tasks×cells files — 72k measured at the 100× probe).
    // Checkpointed so writeCells' counts pass reads materialized rows
    // instead of re-running the assignment/encode projection (the pq
    // branch already checkpoints corpus-sized intermediates here; the
    // serve window is retention-bounded).
    IvfIndex.writeCells(vectors.localCheckpoint(true),
      s"$staging/vectors", SaveMode.Overwrite)
    Seq((kind, anchor)).toDF("kind", "watermark")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$staging/meta")
    val live = new org.apache.hadoop.fs.Path(sidecarPath(indexPath))
    val hfs = fs(spark, sidecarPath(indexPath))
    hfs.delete(live, true)
    hfs.rename(new org.apache.hadoop.fs.Path(staging), live)
    ()
  }

  /** Serve one query through the sidecar, or None when the sidecar cannot
    * answer this request correctly (missing/mid-swap, kind mismatch, or an
    * `asOf` anchored before the watermark) — the caller falls back to the
    * flat scan. Output schema and ordering are exactly
    * `VectorIndex.search`'s. The cells rank by `IvfIndex.rankCells` over
    * the held centroid rows; the `ivfpq` and `opq` kinds take their leaders from
    * `IvfPqIndex.cellLeaders`, the stage `IvfPqIndex.search` runs.
    */
  def search(spark: SparkSession, indexPath: String, kind: String,
      query: Seq[Float], k: Int = 10, nProbe: Int = 2, refineFactor: Int = 4,
      asOf: java.sql.Date = null): Option[DataFrame] = {
    val sc = sidecarPath(indexPath)
    val m = meta(spark, indexPath) match {
      case Some((`kind`, wm)) => wm
      case _ => return None
    }
    val anchor = Option(asOf)
      .orElse(VectorIndex.maxIngestDate(spark, indexPath))
      .getOrElse(return None)
    if (anchor.before(m)) return None
    val windowLo = date_sub(lit(anchor), VectorIndex.RetentionDays)
    // probe: driver math over the tiny centroid sidecar (IvfIndex.search).
    // On the opq kind the centroids live in ROTATED space, so the query
    // rotates first (same projection the build applied) — the raw query
    // still drives the exact re-rank and the hot arm below.
    val q = query.toArray
    val qAnn: Array[Float] =
      if (kind == "opq") rotateQuery(spark, sc, query) else q
    val cents = IvfIndex.centroidRows(spark, sc)
    val probed = IvfIndex.rankCells(cents, qAnn, math.max(1, nProbe))
    // sealed arm: probed cells × retained sealed days, tombstones dropped
    // BEFORE any top-k so a post-build delete never holds a candidate slot
    val sealedAll = VectorIndex.Lifecycle.dropTombstoned(spark, indexPath,
      Parquet.read(spark, s"$sc/vectors")
        .filter(col("cell").isin(probed: _*))
        .filter(col("ingest_date") > windowLo && col("ingest_date") < lit(m)))
    val sealedCand =
      if (kind == "ivf")
        sealedAll.withColumn("d2", l2Sq(col("embedding"), lit(q)))
          .select(col("vec_id"), col("d2"), col("data_type"), col("data_json"))
      else {
        // bounded leaders over the codes column only, re-ranked exactly
        // against the raw embeddings
        val leaders =
          if (kind == "sq") {
            // asymmetric SQ distance (query stays float, corpus decodes
            // inside the scan — SqIndex.search's ADC)
            val (mins, maxs) = readBounds(spark, sc)
            sealedAll
              .withColumn("adc_d2",
                l2SqHof(SqIndex.decodeCol(col("codes"), mins, maxs), lit(q)))
              .orderBy(col("adc_d2"), col("vec_id"))
              .limit(k * math.max(1, refineFactor))
              .select(col("vec_id"))
          } else // residual-PQ ADC per probed cell (the IvfPqIndex.search stage)
            IvfPqIndex.cellLeaders(sealedAll, cents, probed, qAnn,
              PqIndex.readBooks(spark, sc), k * math.max(1, refineFactor))
        sealedAll.join(broadcast(leaders), "vec_id", "left_semi")
          .withColumn("d2", l2Sq(col("embedding"), lit(q)))
          .select(col("vec_id"), col("d2"), col("data_type"), col("data_json"))
      }
    // hot arm: the watermark day (and anything newer within the window)
    // straight from the flat source of truth — appends since the build
    // are here, brute-forced; a row without an embedding never ranks
    VectorIndex.Lifecycle.recover(spark, indexPath)
    val hot = VectorIndex.Lifecycle.dropTombstoned(spark, indexPath,
      Parquet.read(spark, indexPath)
        .filter(col("ingest_date") >= lit(m) && col("ingest_date") <= lit(anchor) &&
          col("ingest_date") > windowLo))
      .filter(col("embedding").isNotNull)
      .withColumn("d2", l2Sq(col("embedding"), lit(q)))
      .select(col("vec_id"), col("d2"), col("data_type"), col("data_json"))
    Some(sealedCand.unionByName(hot)
      .orderBy(col("d2"), col("vec_id"))
      .limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("d2"), col("vec_id"))).cast("long"))
      .select(col("rank"), faissSimilarity(col("d2")).as("similarity_score"),
        col("data_type"), col("data_json")))
  }

  /** Batch serve: top-k for EVERY query row through the sidecar, or None
    * under the same fallback conditions as [[search]]. The per-query
    * driver work of the single-query path moves INTO the plan (the
    * `IvfIndex.knnJoin` construction): queries multi-probe-assign against
    * the literal centroids map-only; the sealed arm is ONE equi-join on
    * the layout's cell column (each corpus row lives in exactly one cell,
    * so no per-pair duplication); on the `ivfpq` and `opq` kinds the join reads
    * the codes column only, scored through a per-(query, cell) residual
    * LUT — `IvfPqIndex.joinLeaders`, the stage `IvfPqIndex.knnJoin` runs —
    * with the bounded leaders exactly re-ranked. The hot arm stays the
    * brute cross join over the watermark day. Union feeds the same
    * bounded top-k aggregate + payload join as the flat
    * `IndexPipeline.searchIndexBatch`, so probe-all output is identical
    * to the flat batch scan.
    */
  def searchBatch(spark: SparkSession, indexPath: String, kind: String,
      queries: DataFrame, k: Int = 10, nProbe: Int = 2, refineFactor: Int = 4,
      asOf: java.sql.Date = null): Option[DataFrame] = {
    import graft.functions.TopKAggregator
    val sc = sidecarPath(indexPath)
    val m = meta(spark, indexPath) match {
      case Some((`kind`, wm)) => wm
      case _ => return None
    }
    val anchor = Option(asOf)
      .orElse(VectorIndex.maxIngestDate(spark, indexPath))
      .getOrElse(return None)
    if (anchor.before(m)) return None
    val windowLo = date_sub(lit(anchor), VectorIndex.RetentionDays)
    val cents = IvfIndex.centroidRows(spark, sc)
    // opq: the per-query rotation moves INTO the plan (the projectCol
    // codegen'd expression over the query column); probe assignment and
    // the residual LUT run on q_ann, the exact re-rank on the raw q_emb
    val qAnnCol =
      if (kind == "opq") {
        val mdl = readRotation(spark, sc)
        transform(Pca.projectCol(mdl, mdl.mean.length, input = col("q_emb")),
          x => x.cast("float"))
      } else col("q_emb")
    val q = queries.select(col("query_id"), col("q_emb"))
    val qSide = q.withColumn("q_ann", qAnnCol).withColumn("cell",
      explode(IvfIndex.probeCells(col("q_ann"), cents, math.max(1, nProbe))))
    val sealedAll = VectorIndex.Lifecycle.dropTombstoned(spark, indexPath,
      Parquet.read(spark, s"$sc/vectors")
        .filter(col("ingest_date") > windowLo && col("ingest_date") < lit(m)))
    val sealedCand =
      if (kind == "ivf")
        qSide.join(sealedAll.select(col("vec_id"), col("embedding"),
            col("data_type"), col("data_json"), col("cell")), "cell")
          .withColumn("d2", l2Sq(col("q_emb"), col("embedding")))
          .select(col("query_id"), col("vec_id"), col("d2"),
            col("data_type"), col("data_json"))
      else {
        // per-query leaders by ADC over the codes column only, the bounded
        // top-k aggregate as the cut, re-ranked exactly
        val leaders =
          if (kind == "sq") {
            val (mins, maxs) = readBounds(spark, sc)
            qSide
              .join(sealedAll.select(col("vec_id"), col("codes"), col("cell")), "cell")
              .withColumn("adc_d2",
                l2SqHof(SqIndex.decodeCol(col("codes"), mins, maxs), col("q_emb")))
              .groupBy(col("query_id"))
              .agg(TopKAggregator.topK(k * math.max(1, refineFactor),
                -col("adc_d2"), col("vec_id")).as("top"))
              .select(col("query_id"), explode(col("top.id")).as("vec_id"))
          } else // per-(query, cell) residual LUT in-plan (the IvfPqIndex.knnJoin stage)
            IvfPqIndex.joinLeaders(qSide, "query_id", col("q_ann"),
              sealedAll.select(col("vec_id"), col("codes"), col("cell")), "vec_id",
              cents, PqIndex.readBooks(spark, sc), k * math.max(1, refineFactor))
        leaders
          .join(sealedAll.select(col("vec_id"), col("embedding"),
            col("data_type"), col("data_json")), "vec_id")
          .join(q, "query_id")
          .withColumn("d2", l2Sq(col("q_emb"), col("embedding")))
          .select(col("query_id"), col("vec_id"), col("d2"),
            col("data_type"), col("data_json"))
      }
    VectorIndex.Lifecycle.recover(spark, indexPath)
    val hot = q.crossJoin(
        VectorIndex.Lifecycle.dropTombstoned(spark, indexPath,
          Parquet.read(spark, indexPath)
            .filter(col("ingest_date") >= lit(m) && col("ingest_date") <= lit(anchor) &&
              col("ingest_date") > windowLo))
          .filter(col("embedding").isNotNull)
          .select(col("vec_id"), col("embedding"), col("data_type"), col("data_json")))
      .withColumn("d2", l2Sq(col("q_emb"), col("embedding")))
      .select(col("query_id"), col("vec_id"), col("d2"),
        col("data_type"), col("data_json"))
    val union = sealedCand.unionByName(hot).localCheckpoint(true)
    Some(union
      .groupBy(col("query_id"))
      .agg(TopKAggregator.topK(k, -col("d2"), col("vec_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("vec_id"), (-col("col.value")).as("d2"))
      .join(union.select(col("vec_id"), col("data_type"), col("data_json"))
        .dropDuplicates("vec_id"), "vec_id")
      .select(col("query_id"), col("rank"),
        faissSimilarity(col("d2")).as("similarity_score"),
        col("data_type"), col("data_json"))
      .orderBy(col("query_id"), col("rank")))
  }
}
