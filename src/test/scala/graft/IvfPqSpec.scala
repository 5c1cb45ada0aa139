package graft

import org.apache.spark.sql.functions._
import graft.vector.{IvfIndex, IvfPqIndex, PqIndex}

class IvfPqSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sf)
  private lazy val dir = {
    val d = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString + "/idx"
    IvfPqIndex.build(spark, emb, d)
    d
  }
  private lazy val qv = emb.filter(col("vec_id") === 0L)
    .select("embedding").head.getSeq[Float](0)

  test("layout: cell-partitioned vectors carry codes; sidecars round-trip") {
    val cells = new java.io.File(s"$dir/vectors").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("cell="))
    assert(cells.nonEmpty && cells.length <= 8)
    val vecs = spark.read.parquet(s"$dir/vectors")
    assert(vecs.count() == emb.count())
    vecs.select(col("codes")).collect().foreach { r =>
      val codes = r.getSeq[Int](0)
      assert(codes.length == 8 && codes.forall(c => c >= 0 && c < 16))
    }
  }

  test("ADC candidate scan is partition-pruned and never reads the float column") {
    val plan = IvfPqIndex.cellLeaders(graft.sources.Parquet.read(spark, s"$dir/vectors"),
      IvfIndex.centroidRows(spark, dir), probed = Seq(0L), qv.toArray,
      PqIndex.readBooks(spark, dir), n = 40)
      .queryExecution.executedPlan.toString
    // partition pruning on the probed cell directory
    assert(plan.contains("PartitionFilters") && plan.contains("cell"), plan.take(800))
    // column pruning: the candidate stage reads codes (+vec_id) only — the
    // 32x compression is real at scan level, not just at rest
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("codes") && !readSchema.contains("embedding"),
      s"ADC scan must not read the float vectors: $readSchema")
  }

  test("probe-all search achieves high recall@10 vs brute force; distances exact") {
    // refineFactor 8: this generator's residuals are near-isotropic (the
    // coarse k-means removes most structure), so the 16-centroid residual
    // codebooks rank a little noisier than raw-vector PQ — a wider exact
    // re-rank pool is the standard compensation and costs only 80 float
    // rows per query.
    val got = IvfPqIndex.search(spark, dir, qv, k = 10, nProbe = 8, refineFactor = 8).collect()
    val brute = graft.ops.Similarity.knnL2(emb, 0L, 10).collect()
    val bruteD = brute.map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("dist_sq")).toMap
    val recall = got.map(_.getAs[Long]("vec_id")).count(bruteD.contains) / 10.0
    assert(recall >= 0.8, s"probe-all recall@10 = $recall")
    // residual decode consistency: the query vector itself is its own
    // nearest neighbor through the quantized candidate stage
    assert(got.head.getAs[Long]("vec_id") == 0L && got.head.getAs[Double]("dist_sq") == 0.0)
    // re-rank distances are the true squared L2
    got.filter(r => bruteD.contains(r.getAs[Long]("vec_id"))).foreach { r =>
      assert(r.getAs[Double]("dist_sq") == bruteD(r.getAs[Long]("vec_id")))
    }
  }

  test("single-query probe-all + full-refine equals brute force bit-for-bit") {
    // The registered vec_pq_search configuration: probe every cell with a
    // refine budget covering the whole corpus — both approximations off,
    // so the output must BE the brute-force top-k (same distances, same
    // (d2, id) tie-breaking). This is what lets the DuckDB brute-force
    // oracle bind on the PQ path.
    val n = emb.count()
    val rf = ((n + 9) / 10).toInt
    val got = IvfPqIndex.search(spark, dir, qv, k = 10, nProbe = 8, refineFactor = rf)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("dist_sq")))
    val brute = graft.ops.Similarity.knnL2(emb, 0L, 10).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("dist_sq")))
    assert(got.sameElements(brute), "probe-all full-refine search must equal brute force")
  }

  test("appendBatch encodes against existing sidecars; new vectors are searchable") {
    import spark.implicits._
    val d2 = java.nio.file.Files.createTempDirectory("graft-ivfpq2").toString + "/idx"
    IvfPqIndex.build(spark, emb, d2)
    val before = spark.read.parquet(s"$d2/vectors").count()
    // a batch that duplicates the query vector under a new id: after
    // ingest, the new id must surface at distance 0 alongside vec 0
    val batch = Seq((100000L, 99, qv)).toDF("vec_id", "label", "embedding")
      .select(col("vec_id"), col("label"), col("embedding").cast("array<float>"))
    IvfPqIndex.appendBatch(spark, batch, d2)
    assert(spark.read.parquet(s"$d2/vectors").count() == before + 1)
    val got = IvfPqIndex.search(spark, d2, qv, k = 2, nProbe = 8, refineFactor = 8).collect()
    assert(got.map(_.getAs[Long]("vec_id")).toSet == Set(0L, 100000L))
    got.foreach(r => assert(r.getAs[Double]("dist_sq") == 0.0))
  }

  test("cell x ingest_date retention: old dates drop, probe search stays green") {
    import spark.implicits._
    val d3 = java.nio.file.Files.createTempDirectory("graft-ivfpq3").toString + "/idx"
    val oldDay = java.sql.Date.valueOf("2024-01-01")
    val newDay = java.sql.Date.valueOf("2024-01-10")
    IvfPqIndex.build(spark, emb, d3, ingestDate = oldDay)
    val batch = Seq((200000L, 7, qv)).toDF("vec_id", "label", "embedding")
      .select(col("vec_id"), col("label"), col("embedding").cast("array<float>"))
    IvfPqIndex.appendBatch(spark, batch, d3, ingestDate = newDay)
    // asOf windowing BEFORE physical retention: only the new-day vector visible
    val windowed = IvfPqIndex.search(spark, d3, qv, k = 1, nProbe = 8,
      refineFactor = 8, asOf = newDay).collect()
    assert(windowed.head.getAs[Long]("vec_id") == 200000L)
    // physical retention drops every old-day directory, keeps the new day
    val dropped = IvfPqIndex.retain(spark, d3, asOf = newDay)
    assert(dropped.nonEmpty && dropped.forall(_.contains("ingest_date=2024-01-01")))
    assert(spark.read.parquet(s"$d3/vectors").count() == 1)
    val after = IvfPqIndex.search(spark, d3, qv, k = 1, nProbe = 8, refineFactor = 8)
      .collect()
    assert(after.head.getAs[Long]("vec_id") == 200000L &&
      after.head.getAs[Double]("dist_sq") == 0.0)
  }

  test("default narrow probe stays within brute-force candidates and finds the query") {
    val got = IvfPqIndex.search(spark, dir, qv, k = 5, nProbe = 2).collect()
    assert(got.length == 5)
    assert(got.head.getAs[Long]("vec_id") == 0L)
    // distances ascending
    val ds = got.map(_.getAs[Double]("dist_sq"))
    assert(ds.sameElements(ds.sorted))
  }

  test("batch ADC kNN join: probe-all + full refine equals brute force; defaults clear a recall floor") {
    import graft.functions.VectorFunctions.l2Sq
    import org.apache.spark.sql.expressions.Window
    val queries = emb.filter(col("vec_id") % 37 === 0)
    val w = Window.partitionBy(col("q_vec_id")).orderBy(col("d2"), col("c_vec_id"))
    val brute = queries.select(col("vec_id").as("q_vec_id"), col("embedding").as("qe"))
      .crossJoin(emb.select(col("vec_id").as("c_vec_id"), col("embedding").as("ce")))
      .withColumn("d2", l2Sq(col("qe"), col("ce")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 10)
      .select(col("q_vec_id"), col("rank"), col("c_vec_id"), col("d2"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet

    // Probing every cell with a refine budget covering the whole corpus
    // removes both approximations: the compressed path must reproduce the
    // brute-force top-10 bit-for-bit (same (d2, id) tie-breaking).
    val exact = IvfPqIndex.knnJoin(spark, dir, queries, k = 10, nProbe = 8,
      refineFactor = 50).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(exact == brute, "probe-all full-refine ADC join must equal brute force")

    // Default params: every query answers ranks 1..10, finds itself at
    // distance 0, distances are TRUE squared L2 (exact re-rank), and the
    // ADC candidate ordering recalls most of the true top-10.
    val approx = IvfPqIndex.knnJoin(spark, dir, queries).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val perQuery = approx.groupBy(_._1)
    assert(perQuery.size == queries.count())
    val bruteD = brute.map { case (q, _, c, d) => (q, c) -> d }.toMap
    val recalls = perQuery.map { case (q, rs) =>
      assert(rs.map(_._2).sorted.sameElements(1L to 10L))
      val self = rs.find(_._2 == 1L).get
      assert(self._3 == q && self._4 == 0.0)
      rs.foreach { case (qq, _, cc, dd) =>
        bruteD.get((qq, cc)).foreach(bd => assert(bd == dd, "re-rank distances must be exact"))
      }
      rs.count { case (qq, _, cc, _) => bruteD.contains((qq, cc)) } / 10.0
    }
    val avgRecall = recalls.sum / recalls.size
    info(f"batch ADC kNN join recall@10 (nProbe=2, refine=4): $avgRecall%.2f")
    assert(avgRecall >= 0.5, f"recall $avgRecall%.2f below floor")
  }

  test("delete + compact ride the IvfIndex tombstone lifecycle; codes survive the rewrite") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-ivfpq-del").toString + "/idx"
    IvfPqIndex.build(spark, emb, d)
    val doomed = IvfPqIndex.search(spark, d, qv, k = 2, nProbe = 8, refineFactor = 64)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    IvfPqIndex.delete(spark, d, doomed.toDF("vec_id"))
    // pre-compaction: tombstoned ids vanish from search and the batch join
    val served = IvfPqIndex.search(spark, d, qv, k = 10, nProbe = 8, refineFactor = 64)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(doomed.forall(!served(_)), "deleted ids must stop serving immediately")
    val joined = IvfPqIndex.knnJoin(spark, d, emb.filter(col("vec_id") === 0L),
      k = 10, nProbe = 8, refineFactor = 64)
      .select("c_vec_id").collect().map(_.getLong(0)).toSet
    assert(doomed.forall(!joined(_)), "knnJoin must honor tombstones")
    // compact folds the log; results unchanged, codes column intact
    val before = IvfPqIndex.search(spark, d, qv, k = 10, nProbe = 8, refineFactor = 64)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("dist_sq"))).toSeq
    IvfPqIndex.compact(spark, d)
    val after = IvfPqIndex.search(spark, d, qv, k = 10, nProbe = 8, refineFactor = 64)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("dist_sq"))).toSeq
    assert(after == before, "compaction must not change served results")
    val cols = spark.read.parquet(s"$d/vectors").columns.toSet
    assert(Set("vec_id", "label", "embedding", "codes", "cell", "ingest_date")
      .subsetOf(cols), s"compacted layout lost columns: $cols")
    val p = new org.apache.hadoop.fs.Path(s"$d/tombstones")
    assert(!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
  }
}
