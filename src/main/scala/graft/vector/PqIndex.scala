package graft.vector

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._
import graft.sources.Parquet

/** Product quantization (PQ) — the memory-scale path for ANN.
  *
  * IVF pruning (IvfIndex) bounds how much of the corpus a query READS;
  * PQ bounds how many BYTES each stored vector costs: the embedding is
  * split into `m` subspaces, each subvector quantized to its nearest of
  * `ksub` per-subspace centroids, and the vector stored as `m` small codes
  * — here 64 floats (256 B) become 8 codes (8 B), a 32× compression. At
  * 100 TB of raw vectors that is the difference between "fits in the
  * cluster's page cache" and "every query is disk-bound". This mirrors the
  * classic IVF-PQ construction (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011) re-expressed as Spark built-ins;
  * the reference's FAISS exposes the same scheme as `IndexIVFPQ` (its repo
  * only instantiates `IndexFlatL2`, `faiss_manager.py:143` — PQ is the
  * scale extension the brief asks for).
  *
  * Spark shapes:
  *  - TRAIN: per-subspace Lloyd iterations, all `m` subspaces in ONE
  *    aggregation per round (no per-subspace jobs). Codebooks are
  *    m × ksub × (dim/m) floats — a few KB, constant in corpus size — so
  *    they live driver-side like the IVF centroid sidecar; at 100 TB you
  *    train on a bounded sample (`train(embeddings.limit(n), ...)`) and
  *    encode the full corpus with the result.
  *  - ENCODE: map-only codegen — argmin over literal centroid arrays per
  *    subspace (the same literal-array pattern as IvfIndex.assign); one
  *    narrow projection, no shuffle, parallel over the corpus.
  *  - SEARCH (ADC): the query builds an m × ksub lookup table of
  *    query-subvector→centroid distances (driver-side, constant); the
  *    approximate distance of a stored vector is the SUM of its codes'
  *    table entries — a codegen'd fold over the codes array, never
  *    touching the original floats. The top `k·refineFactor` by ADC are
  *    re-ranked EXACTLY against their true embeddings (one semi-join back
  *    to the float table), so the output distances are exact and only the
  *    candidate choice is approximate.
  */
object PqIndex {

  /** Driver-side codebooks: books(s)(j) = centroid j of subspace s. */
  type Codebooks = Array[Array[Array[Float]]]

  /** Per-subspace argmin code as a map-only literal-array expression —
    * identical tie-break (distance, then code) to IvfIndex.assign. `input`
    * is the full-dim vector column being encoded (a raw embedding, or a
    * residual for IvfPqIndex).
    */
  private def codeExpr(s: Int, books: Codebooks, input: Column): Column = {
    val dsub = books(s)(0).length
    val structs = books(s).zipWithIndex.map { case (c, j) =>
      struct(l2Sq(slice(input, s * dsub + 1, dsub), typedLit(c.toSeq)).as("d"), lit(j).as("j"))
    }
    element_at(transform(array_sort(array(structs.toSeq: _*)), x => x.getField("j")), 1)
  }

  /** All m codes as one array<int> column. */
  def codesExpr(books: Codebooks, input: Column = col("embedding")): Column =
    array(books.indices.map(s => codeExpr(s, books, input)): _*)

  /** Lloyd-train the per-subspace codebooks. Seeds are the first `ksub`
    * vectors' subvectors (deterministic); each round re-encodes (map-only)
    * and takes per-(subspace, code, position) means in ONE aggregation
    * across all subspaces. Codes that capture no vectors keep their
    * previous centroid. Deterministic end to end: same data, same books.
    */
  def train(embeddings: DataFrame, m: Int = 8, ksub: Int = 16, iters: Int = 3): Codebooks = {
    val dim = embeddings.select(size(col("embedding"))).head.getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    // Seed from the ksub smallest vec_ids actually present (deterministic,
    // no dense-0..ksub-1 id assumption — a filtered corpus seeds fine).
    val seedRows = embeddings.orderBy(col("vec_id")).limit(ksub)
      .select(col("embedding"))
      .collect().map(_.getSeq[Float](0).toArray)
    require(seedRows.length == ksub,
      s"PqIndex.train needs at least ksub=$ksub vectors to seed codebooks, got ${seedRows.length}")
    var books: Codebooks = Array.tabulate(m, ksub) { (s, j) =>
      seedRows(j).slice(s * dsub, s * dsub + dsub)
    }
    for (_ <- 0 until iters) {
      // (sub_id, code, pos) -> mean over every assigned subvector position.
      val means = embeddings
        .select(codesExpr(books).as("codes"), col("embedding"))
        .select(explode(expr(
          s"transform(sequence(0, ${m - 1}), s -> struct(s AS sub_id, codes[s] AS code, " +
            s"slice(embedding, s*$dsub+1, $dsub) AS sv))")).as("x"))
        .select(col("x.sub_id"), col("x.code"), posexplode(col("x.sv")))
        .groupBy(col("sub_id"), col("code"), col("pos"))
        .agg(avg(col("col")).as("mean"))
        .collect()
      val next = books.map(_.map(_.clone()))
      means.groupBy(r => (r.getAs[Int]("sub_id"), r.getAs[Int]("code"))).foreach {
        case ((s, j), rows) =>
          val c = new Array[Float](dsub)
          rows.foreach(r => c(r.getAs[Int]("pos")) = r.getAs[Double]("mean").toFloat)
          next(s)(j) = c
      }
      books = next
    }
    books
  }

  /** Encode the corpus: (vec_id, label, codes) — the compressed table. */
  def encode(embeddings: DataFrame, books: Codebooks): DataFrame =
    embeddings.select(col("vec_id"), col("label"), codesExpr(books).as("codes"))

  /** Persist codes + codebook sidecar (books as (sub_id, code, c_sub) rows
    * — same tiny-sidecar layout idea as IvfIndex's centroids).
    */
  def write(spark: SparkSession, embeddings: DataFrame, path: String,
      m: Int = 8, ksub: Int = 16, iters: Int = 3): Codebooks = {
    val books = train(embeddings, m, ksub, iters)
    writeBooks(spark, books, path)
    encode(embeddings, books)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/codes")
    books
  }

  /** Write the codebook sidecar, `path/codebooks`: one file. */
  private[vector] def writeBooks(spark: SparkSession, books: Codebooks, path: String): Unit = {
    import spark.implicits._
    books.zipWithIndex.flatMap { case (cs, s) =>
      cs.zipWithIndex.map { case (c, j) => (s, j, c.toSeq) }
    }.toSeq.toDF("sub_id", "code", "c_sub")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$path/codebooks")
  }

  /** Load the codebook sidecar back into driver-side form. */
  def readBooks(spark: SparkSession, path: String): Codebooks = {
    val rows = Parquet.read(spark, s"$path/codebooks")
      .collect().map(r => (r.getAs[Int]("sub_id"), r.getAs[Int]("code"),
        r.getSeq[Float](2).toArray))
    val m = rows.map(_._1).max + 1
    val ksub = rows.map(_._2).max + 1
    val books: Codebooks = Array.ofDim[Array[Float]](m, ksub)
    rows.foreach { case (s, j, c) => books(s)(j) = c }
    books
  }

  /** The ADC lookup table of query `q`, built on the driver as one literal
    * of m·ksub doubles: slot `s·ksub + j` holds ‖q_sub(s) − books(s)(j)‖²,
    * floats widened to double and summed left to right.
    */
  private[vector] def lut(books: Codebooks, q: Array[Float]): Column = {
    val ksub = books(0).length
    val dsub = books(0)(0).length
    val lutFlat: Array[Double] = Array.tabulate(books.length * ksub) { i =>
      val s = i / ksub; val j = i % ksub
      var acc = 0.0
      var p = 0
      while (p < dsub) {
        val d = q(s * dsub + p).toDouble - books(s)(j)(p).toDouble
        acc += d * d; p += 1
      }
      acc
    }
    typedLit(lutFlat.toSeq)
  }

  /** [[lut]] in the plan: the table of the `array<float>` column `q`, per
    * row, against the codebooks flattened into ONE literal,
    * `flatBooks[(s·ksub + j)·dsub + p]`.
    */
  private[vector] def lutExpr(books: Codebooks, q: Column): Column = {
    val ksub = books(0).length
    val dsub = books(0)(0).length
    val flatBooks = typedLit(books.flatten.flatten.map(_.toDouble).toSeq)
    transform(sequence(lit(0), lit(books.length * ksub - 1)), i => {
      val s = (i / lit(ksub)).cast("int") // subspace of LUT slot i
      aggregate(sequence(lit(0), lit(dsub - 1)), lit(0.0), (acc, p) => {
        val qv = element_at(q, s * dsub + p + 1).cast("double")
        val bv = element_at(flatBooks, i * dsub + p + 1)
        acc + (qv - bv) * (qv - bv)
      })
    })
  }

  /** The ADC distance of the `codes` column: Σ_s lut(s·ksub + codes(s)), a
    * codegen'd fold over the codes array that never touches the floats.
    */
  private[vector] def adc(books: Codebooks, lut: Column): Column =
    aggregate(
      expr(s"zip_with(sequence(0, ${books.length - 1}), codes, (s, c) -> s * ${books(0).length} + c)"),
      lit(0.0), (acc, i) => acc + element_at(lut, i + 1))

  /** ADC (asymmetric distance computation) scan + exact re-rank: the
    * `k·refineFactor` leaders by [[adc]] over the query's [[lut]] join
    * back to the float table for exact distances; output ranking and
    * distances are exact over that candidate set.
    */
  def searchAdc(encoded: DataFrame, embeddings: DataFrame, books: Codebooks,
      query: Seq[Float], k: Int = 10, refineFactor: Int = 4): DataFrame = {
    val cand = encoded
      .withColumn("adc_d2", adc(books, lut(books, query.toArray)))
      .orderBy(col("adc_d2"), col("vec_id"))
      .limit(k * refineFactor)
      .select(col("vec_id"))
    embeddings
      .join(broadcast(cand), "vec_id", "left_semi")
      .withColumn("d2", l2Sq(col("embedding"), typedLit(query)))
      .orderBy(col("d2"), col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("label"), col("d2").as("dist_sq"))
  }
}
