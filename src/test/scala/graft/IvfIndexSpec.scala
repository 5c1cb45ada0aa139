package graft

import org.apache.spark.sql.functions._
import graft.vector.IvfIndex
import graft.ops.Similarity

class IvfIndexSpec extends SparkSpec {

  test("physical IVF search equals the logical ivfSearch results") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString + "/ivf"
    val emb = Tables.embeddings(spark, sf)
    // kmeansIters = 0 reproduces the naive-seed layout the logical op uses.
    IvfIndex.build(spark, emb, dir, kmeansIters = 0)
    val qv = emb.filter(col("vec_id") === 0L).select("embedding").head.getSeq[Float](0)
    val physical = IvfIndex.search(spark, dir, qv).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("dist_sq"))).toSeq
    val logical = Similarity.ivfSearch(emb).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("dist_sq"))).toSeq
    assert(physical == logical)
  }

  test("layout-backed mining equals the two-table operator forms on the seed layout") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfmine").toString + "/ivf"
    val emb = Tables.embeddings(spark, sf)
    val cells = Similarity.autoCells(emb.count())
    IvfIndex.build(spark, emb, dir, nCells = cells, kmeansIters = 0)
    val anchors = Similarity.anchorSample(emb, 64)
    val viaIdx = IvfIndex.tripletMine(spark, dir, anchors).collect().toSeq
    assert(viaIdx.nonEmpty, "fixture must mine triplets")
    assert(viaIdx == Similarity.tripletMineFor(anchors, emb).collect().toSeq,
      "tripletMine: indexed ≡ two-table bitwise")
    assert(IvfIndex.hardNegatives(spark, dir, anchors).collect().toSeq ==
      Similarity.hardNegativesFor(anchors, emb).collect().toSeq,
      "hardNegatives: indexed ≡ two-table bitwise")
    assert(IvfIndex.knnLabelAudit(spark, dir, anchors).collect().toSeq ==
      Similarity.knnLabelAuditFor(anchors, emb).collect().toSeq,
      "knnLabelAudit: indexed ≡ two-table bitwise")
    // the corpus scan must be statically pruned to the anchors' probed
    // cells (the point of riding the layout — a small batch reads only
    // its probed directories)
    val plan = IvfIndex.hardNegatives(spark, dir, anchors)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"mining scan should carry cell partition filters:\n${plan.take(2000)}")
    // tombstoned ids must vanish from mined candidates immediately
    IvfIndex.delete(spark, dir,
      emb.filter(col("vec_id") % 7 === 0).select("vec_id"))
    val afterDel = IvfIndex.hardNegatives(spark, dir, anchors).collect()
    assert(afterDel.nonEmpty &&
      afterDel.forall(_.getAs[Long]("c_vec_id") % 7 != 0),
      "tombstoned ids must not be mined as negatives")
  }

  test("cell-partitioned writes: one file per small-cell directory, hot cells write in parallel") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivffiles").toString + "/ivf"
    val k = IvfIndex.CellWriteSubKeys
    // a multi-partition writer is exactly the config that exploded to
    // tasks×cells files before the repartition-by-partition-key write
    val emb = Tables.embeddings(spark, sf).repartition(8)
    IvfIndex.build(spark, emb, dir, kmeansIters = 0)
    def dateDirs = new java.io.File(s"$dir/vectors").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
      .flatMap(_.listFiles().filter(f => f.isDirectory && f.getName.startsWith("ingest_date=")))
    assert(dateDirs.nonEmpty)
    // every cell here is far below CellWriteRowsPerTask ⇒ the count-aware
    // sub-key degenerates to 0 and each directory holds EXACTLY one file
    // (a constant sub-key would 8× the metadata of every later scan)
    dateDirs.foreach { d =>
      val n = d.listFiles().count(_.getName.endsWith(".parquet"))
      assert(n == 1, s"$d holds $n files — expected exactly one per directory")
    }
    // an append adds at most one file per touched directory, not one per task
    IvfIndex.appendBatch(spark,
      emb.select((col("vec_id") + 1000000L).as("vec_id"), col("label"), col("embedding"))
        .repartition(8), dir)
    dateDirs.foreach { d =>
      val n = d.listFiles().count(_.getName.endsWith(".parquet"))
      assert(n <= 2, s"$d holds $n files after one append — expected ≤ 2")
    }
    // A SKEWED cell past the per-task row bound must NOT serialize through
    // one writer: repartitioning by the bare partition key put each cell
    // wholly in one task (the r11 funnel — compact/retrain push the whole
    // corpus through this path). The count-aware crc32(vec_id) sub-key
    // spreads it across ceil(n/rowsPerTask) ≤ k writer tasks, observable
    // as >1 file in its directory (rows ≪ MaxRecordsPerCellFile so file
    // count = distinct writer tasks). The bound is a parameter here so the
    // mechanism is testable at fixture scale; production uses the 1M-row
    // default. AQE byte-coalescing could still legitimately fold tiny
    // sub-partitions into one task at this size — disable it so the
    // mechanism itself is observable.
    val skewDir = java.nio.file.Files.createTempDirectory("graft-ivfskew").toString + "/ivf"
    val hot = emb.limit(2000).select(col("vec_id"), col("label"), col("embedding"),
      lit(0L).as("cell"), lit(IvfIndex.DefaultIngestDate).as("ingest_date"))
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(coalesceKey, "true")
    spark.conf.set(coalesceKey, "false")
    try IvfIndex.writeCells(hot, s"$skewDir/vectors",
      org.apache.spark.sql.SaveMode.Overwrite, rowsPerTask = 100L)
    finally spark.conf.set(coalesceKey, prev)
    val hotFiles = new java.io.File(s"$skewDir/vectors/cell=0/ingest_date=${IvfIndex.DefaultIngestDate}")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(hotFiles > 1 && hotFiles <= k,
      s"hot cell wrote $hotFiles files — expected parallel writers (2..$k)")
  }

  test("probe scan is partition-pruned to the probed cells") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf2").toString + "/ivf"
    val emb = Tables.embeddings(spark, sf)
    IvfIndex.build(spark, emb, dir)
    val qv = emb.filter(col("vec_id") === 0L).select("embedding").head.getSeq[Float](0)
    val probed = spark.read.parquet(s"$dir/centroids")
      .withColumn("qd2", graft.functions.VectorFunctions.l2Sq(col("c_embedding"),
        lit(qv.toArray)))
      .orderBy(col("qd2"), col("cid")).limit(2).select("cid")
      .collect().map(_.getLong(0))
    val df = spark.read.parquet(s"$dir/vectors").filter(col("cell").isin(probed: _*))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"expected partition filters on cell:\n$plan")
    // and the pruned scan reads only the probed cells' rows
    val cells = df.select(col("cell").cast("long")).distinct().collect().map(_.getLong(0)).toSet
    assert(cells == probed.toSet)
  }

  test("IVF retention drops only old-date directories inside cells; probe search stays green") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf5").toString + "/ivf"
    val emb = Tables.embeddings(spark, sf)
    val n = emb.count().toInt
    IvfIndex.build(spark, emb, dir, kmeansIters = 0,
      ingestDate = java.sql.Date.valueOf("2024-03-01"))
    // A second batch ingested far beyond the retention window.
    IvfIndex.appendBatch(spark, emb.withColumn("vec_id", col("vec_id") + 100000L), dir,
      ingestDate = java.sql.Date.valueOf("2024-01-01"))
    val qv = emb.filter(col("vec_id") === 0L).select("embedding").head.getSeq[Float](0)

    // Un-windowed search sees both batches; asOf prunes to the recent one.
    val all = IvfIndex.search(spark, dir, qv, k = 2 * n, nProbe = 8).collect()
    assert(all.exists(_.getAs[Long]("vec_id") >= 100000L))
    val windowed = IvfIndex.search(spark, dir, qv, 2 * n, 8,
      asOf = java.sql.Date.valueOf("2024-03-01")).collect()
    assert(windowed.nonEmpty && windowed.forall(_.getAs[Long]("vec_id") < 100000L))

    // Retention physically drops ONLY the beyond-window date dirs, per cell.
    val dropped = IvfIndex.retain(spark, dir, java.sql.Date.valueOf("2024-03-01"))
    assert(dropped.nonEmpty && dropped.forall(_.endsWith("ingest_date=2024-01-01")),
      s"unexpected drops: $dropped")
    val after = IvfIndex.search(spark, dir, qv, 2 * n, 8).collect()
    assert(after.nonEmpty && after.forall(_.getAs[Long]("vec_id") < 100000L))
    // Probe-pruned search (the normal narrow path) still answers.
    assert(IvfIndex.search(spark, dir, qv, 10, 2).collect().nonEmpty)
  }

  test("date-major layout: identical serving, appends preserve nesting, retention is top-level") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val cm = java.nio.file.Files.createTempDirectory("graft-ivf-cm").toString + "/ivf"
    val dm = java.nio.file.Files.createTempDirectory("graft-ivf-dm").toString + "/ivf"
    IvfIndex.build(spark, emb, cm, kmeansIters = 0,
      ingestDate = java.sql.Date.valueOf("2024-03-01"))
    IvfIndex.build(spark, emb, dm, kmeansIters = 0,
      ingestDate = java.sql.Date.valueOf("2024-03-01"), dateMajor = true)
    assert(!IvfIndex.layoutDateMajor(spark, cm) && IvfIndex.layoutDateMajor(spark, dm))
    // appends detect and PRESERVE the nesting (a mixed tree breaks discovery)
    val batch = emb.select((col("vec_id") + 100000L).as("vec_id"),
      col("label"), col("embedding"))
    IvfIndex.appendBatch(spark, batch, cm, java.sql.Date.valueOf("2024-01-01"))
    IvfIndex.appendBatch(spark, batch, dm, java.sql.Date.valueOf("2024-01-01"))
    assert(IvfIndex.layoutDateMajor(spark, dm))
    val top = new java.io.File(s"$dm/vectors").listFiles().map(_.getName)
      .filter(_.contains("="))
    assert(top.nonEmpty && top.forall(_.startsWith("ingest_date=")), top.mkString(","))
    // serving equality: search + the dedup gate verdicts are layout-blind
    val qv = emb.filter(col("vec_id") === 0L).select("embedding").head.getSeq[Float](0)
    def served(d: String) = IvfIndex.search(spark, d, qv, k = 20, nProbe = 4)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("dist_sq"))).toSeq
    assert(served(cm) == served(dm))
    val gb = emb.limit(50).select((col("vec_id") + 900000L).as("vec_id"),
      col("label"), col("embedding"))
    def verdicts(d: String) = IvfIndex.dedupIngest(spark, d, gb).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(verdicts(cm) == verdicts(dm))
    // retention on date-major: ONE top-level delete, same serving outcome
    val dropped = IvfIndex.retain(spark, dm, java.sql.Date.valueOf("2024-03-01"))
    assert(dropped == Seq("ingest_date=2024-01-01"), s"unexpected drops: $dropped")
    val after = IvfIndex.search(spark, dm, qv, k = 500, nProbe = 8).collect()
    assert(after.nonEmpty && after.forall(_.getAs[Long]("vec_id") < 100000L))
  }

  test("on-disk batch kNN join equals the logical knnJoin on the same seeds") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf6").toString + "/ivf"
    val emb = Tables.embeddings(spark, sf)
    // kmeansIters = 0 → the sidecar centroids are the first-nCells seeds,
    // identical to the logical operator's, so results must match exactly.
    IvfIndex.build(spark, emb, dir, kmeansIters = 0)
    val queries = emb.filter(col("vec_id") % 37 === 0)
    val physical = IvfIndex.knnJoin(spark, dir, queries).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val logical = Similarity.knnJoin(queries, emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(physical == logical)
    // And the per-query top-k runs as the bounded native aggregate.
    val plan = IvfIndex.knnJoin(spark, dir, queries)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate") && plan.contains("top_k_by_value"),
      s"expected bounded native top-k:\n$plan")
  }

  test("k-means centroids: recall@10 vs brute force, and no worse than naive seeds") {
    val emb = Tables.embeddings(spark, sf).cache()
    val naiveDir = java.nio.file.Files.createTempDirectory("graft-ivf-n").toString + "/ivf"
    val kmDir = java.nio.file.Files.createTempDirectory("graft-ivf-k").toString + "/ivf"
    IvfIndex.build(spark, emb, naiveDir, kmeansIters = 0)
    IvfIndex.build(spark, emb, kmDir, kmeansIters = 3)

    val queryIds = Seq(0L, 11L, 23L, 37L, 42L)
    def recall(dir: String): Double = {
      val per = queryIds.map { qid =>
        val qv = emb.filter(col("vec_id") === qid).select("embedding").head.getSeq[Float](0)
        val truth = Similarity.knnL2(emb, qid, 10).collect().map(_.getAs[Long]("vec_id")).toSet
        val approx = IvfIndex.search(spark, dir, qv, 10, nProbe = 2)
          .collect().map(_.getAs[Long]("vec_id")).toSet
        (truth intersect approx).size.toDouble / truth.size
      }
      per.sum / per.size
    }
    val naive = recall(naiveDir)
    val km = recall(kmDir)
    info(f"recall@10 naive-seed=$naive%.2f kmeans=$km%.2f")
    assert(km >= 0.6, f"k-means recall@10 $km%.2f below floor")
    assert(km >= naive - 0.1, f"k-means recall $km%.2f regressed vs naive $naive%.2f")
    emb.unpersist()
  }

  test("on-disk range search is exact under the triangle-inequality cell bound") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-r").toString + "/ivf"
    val emb = Tables.embeddings(spark, sf)
    IvfIndex.build(spark, emb, dir)
    val qv = emb.filter(col("vec_id") === 0L).select("embedding").head.getSeq[Float](0)
    val radius = math.sqrt(1.55)
    // brute-force definition over the raw table (query vector included at d2=0)
    val expected = emb
      .withColumn("d2", graft.functions.VectorFunctions.l2Sq(col("embedding"), lit(qv.toArray)))
      .filter(col("d2") <= radius * radius)
      .select("vec_id", "d2").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).sortBy(_._1).toSeq
    val got = IvfIndex.rangeSearch(spark, dir, qv, radius).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("dist_sq")).toSeq
    assert(got.nonEmpty && got == expected, "pruned range search must equal brute force")
    // Appended vectors are range-findable and radii stay correct (append a
    // copy of the query vector under a new id: distance 0 must appear).
    import spark.implicits._
    IvfIndex.appendBatch(spark,
      Seq((900001L, 0, qv)).toDF("vec_id", "label", "embedding"), dir)
    val after = IvfIndex.rangeSearch(spark, dir, qv, radius).collect()
      .map(r => r.getAs[Long]("vec_id")).toSeq
    assert(after.contains(900001L))
  }

  test("range-search cell bound prunes on separated clusters and stays exact") {
    // The shipped embedding fixture is one tight blob — every cell ball
    // covers every query, so nothing CAN prune there (and the test above
    // proves exactness on it). The bound's point is separated data: four
    // well-spaced clusters, where a within-cluster radius must rule out
    // the other three cells.
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val dim = 8
    val centers = Seq.fill(4)(Array.fill(dim)(rnd.nextGaussian().toFloat * 10f))
    // Interleave ids (i*4 + cluster) so the deterministic first-nCells
    // seeds land one per cluster.
    val rows = for {
      (c, ci) <- centers.zipWithIndex
      i <- 0 until 50
    } yield ((i * 4 + ci).toLong, ci,
      c.zipWithIndex.map { case (v, j) => v + (rnd.nextInt(100) - 50) / 100f }.toSeq)
    val emb = rows.toDF("vec_id", "label", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-rp").toString + "/ivf"
    IvfIndex.build(spark, emb, dir, nCells = 4, kmeansIters = 3)
    val qv = rows.head._3
    val cents = spark.read.parquet(s"$dir/centroids")
      .select(col("cid").cast("long"), col("c_embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val radii = spark.read.parquet(s"$dir/radii").collect()
      .map(r => r.getAs[Long]("cid") -> r.getAs[Double]("radius")).toMap
    def l2(a: Seq[Float], b: Seq[Float]): Double =
      math.sqrt(a.zip(b).map { case (x, y) =>
        (x.toDouble - y.toDouble) * (x.toDouble - y.toDouble) }.sum)
    val radius = 3.0 // covers the home cluster (noise ≤ 0.5/dim), far from others
    val qualifying = cents.count { case (cid, c) => l2(c, qv) - radii(cid) <= radius }
    assert(qualifying < cents.length, "separated clusters must rule out cells")
    val got = IvfIndex.rangeSearch(spark, dir, qv, radius).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("dist_sq")).toSeq
    val expected = emb
      .withColumn("d2", graft.functions.VectorFunctions.l2Sq(col("embedding"),
        lit(qv.toArray)))
      .filter(col("d2") <= radius * radius)
      .select("vec_id", "d2").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).sortBy(_._1).toSeq
    assert(got == expected, "pruned range search must equal brute force on clusters")
  }

  test("layout cellBalance: counts match per-cell reality, tombstones fold out, hollowed cells report 0") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-bal").toString + "/ivf"
    val emb = Tables.embeddings(spark, sf)
    IvfIndex.build(spark, emb, dir, kmeansIters = 0)
    val audit1 = IvfIndex.cellBalance(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val truth = spark.read.parquet(s"$dir/vectors")
      .groupBy(col("cell").cast("long").as("cell"))
      .count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(audit1 == truth, "audit must equal per-cell row counts")
    val total = truth.values.sum
    // Tombstone EVERY vector of the fullest cell: the audit must show the
    // hollowed cell at 0 (not drop the row) and the totals re-normalize.
    val hot = truth.maxBy(_._2)._1
    val hotIds = spark.read.parquet(s"$dir/vectors")
      .filter(col("cell") === hot).select(col("vec_id"))
    IvfIndex.delete(spark, dir, hotIds)
    val audit2 = IvfIndex.cellBalance(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val hollow = audit2.find(_._1 == hot).get
    assert(hollow._2 == 0L && hollow._3 == 0L, s"hollowed cell must report 0: $hollow")
    assert(audit2.map(_._2).sum == total - truth(hot), "survivor counts re-normalize")
  }

  test("delete: tombstoned ids vanish from search/knnJoin/rangeSearch pre-compaction") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-del").toString + "/ivf"
    val emb = Tables.embeddings(spark, sf)
    IvfIndex.build(spark, emb, dir)
    val qv = emb.filter(col("vec_id") === 0L).select("embedding").head.getSeq[Float](0)
    // delete the query's two nearest neighbors (incl. itself)
    val doomed = IvfIndex.search(spark, dir, qv, k = 2, nProbe = 8)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    IvfIndex.delete(spark, dir, doomed.toDF("vec_id"))
    val served = IvfIndex.search(spark, dir, qv, k = 10, nProbe = 8)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(doomed.forall(!served(_)), "deleted ids must stop matching immediately")
    val joined = IvfIndex.knnJoin(spark, dir,
      emb.filter(col("vec_id") === 0L), k = 10, nProbe = 8)
      .select("c_vec_id").collect().map(_.getLong(0)).toSet
    assert(doomed.forall(!joined(_)), "knnJoin must honor tombstones")
    val ranged = IvfIndex.rangeSearch(spark, dir, qv, radius = 1e9)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(doomed.forall(!ranged(_)), "rangeSearch must honor tombstones")
    assert(ranged.nonEmpty, "survivors still serve")
  }

  test("compact folds tombstones; serving equals an index the deleted never entered") {
    import spark.implicits._
    val dirA = java.nio.file.Files.createTempDirectory("graft-ivf-cmpA").toString + "/ivf"
    val dirB = java.nio.file.Files.createTempDirectory("graft-ivf-cmpB").toString + "/ivf"
    val emb = Tables.embeddings(spark, sf).limit(400).cache()
    val doomed = Seq(3L, 17L, 42L)
    IvfIndex.build(spark, emb, dirA)
    IvfIndex.delete(spark, dirA, doomed.toDF("vec_id"))
    IvfIndex.compact(spark, dirA)
    val fsPath = new org.apache.hadoop.fs.Path(s"$dirA/tombstones")
    val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(fsPath), "compact must drop the folded tombstone log")
    // reference: same centroids (copied sidecars), only survivors appended
    IvfIndex.build(spark, emb.filter(!col("vec_id").isin(doomed: _*)), dirB)
    // centroid sets differ (k-means saw different corpora), so compare via
    // exact full-probe searches — both must equal the brute-force survivors
    val qv = emb.filter(col("vec_id") === 1L).select("embedding").head.getSeq[Float](0)
    def top(dir: String) = IvfIndex.search(spark, dir, qv, k = 8, nProbe = 8)
      .select("vec_id", "dist_sq").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(top(dirA) == top(dirB),
      "compacted index must serve exactly what a never-deleted build serves")
    // a compacted layout accepts re-appends of previously-deleted ids
    IvfIndex.appendBatch(spark, emb.filter(col("vec_id") === 3L)
      .select("vec_id", "label", "embedding"), dirA)
    assert(IvfIndex.search(spark, dirA, qv, k = 400, nProbe = 8)
      .filter(col("vec_id") === 3L).count() === 1L)
  }

  test("tombstone anti-join must not defeat partition pruning on the probed cells") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-tp").toString + "/ivf"
    val emb = Tables.embeddings(spark, sf).limit(300)
    IvfIndex.build(spark, emb, dir)
    IvfIndex.delete(spark, dir, Seq(3L, 4L).toDF("vec_id"))
    val qv = emb.filter(col("vec_id") === 1L).select("embedding").head.getSeq[Float](0)
    val plan = IvfIndex.search(spark, dir, qv, k = 5, nProbe = 2)
      .queryExecution.executedPlan.toString
    // the probed-cell IN filter must still reach the vectors scan as a
    // PartitionFilter (pushed through the left side of the anti-join), and
    // the tiny tombstone table must arrive broadcast, not shuffled
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"cell pruning lost under tombstones:\n${plan.take(1500)}")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"tombstone anti-join must broadcast:\n${plan.take(1500)}")
  }

  test("retrain: one consistent generation — deletes folded, exactness preserved, caches invalidated") {
    import spark.implicits._
    import graft.functions.VectorFunctions._
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-rt").toString + "/ivf"
    val emb = Tables.embeddings(spark, sf).cache()
    IvfIndex.build(spark, emb, dir, nCells = 4, kmeansIters = 0)
    IvfIndex.delete(spark, dir, emb.filter(col("vec_id") % 17 === 0).select("vec_id"))
    val stats = IvfIndex.retrain(spark, dir, nCells = 8, rounds = 3)
    // convergence record: one row per round, movement non-increasing overall
    assert(stats.map(_.round) == Seq(1, 2, 3))
    assert(stats.last.totalMoveSq <= stats.head.totalMoveSq)
    // retrain is also a compact: the tombstone log did not carry over...
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/tombstones")))
    // ...and the deleted rows are physically gone from the new generation
    val resident = spark.read.parquet(s"$dir/vectors")
    assert(resident.filter(col("vec_id") % 17 === 0).count() == 0)
    // the new generation has the requested cell count and matching radii
    assert(spark.read.parquet(s"$dir/centroids").count() == 8)
    assert(spark.read.parquet(s"$dir/radii").count() <= 8)
    // exactness through the new generation: probe-all search == brute force
    // over the surviving corpus (the vec_delete_search contract)
    val qv = emb.filter(col("vec_id") === 3L).select("embedding").head.getSeq[Float](0)
    val got = IvfIndex.search(spark, dir, qv, k = 10, nProbe = 8).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("dist_sq"))).toSeq
    val want = emb.filter(col("vec_id") % 17 =!= 0)
      .withColumn("d2", l2Sq(col("embedding"), lit(qv.toArray)))
      .orderBy(col("d2"), col("vec_id")).limit(10)
      .select("vec_id", "d2").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want, "probe-all over the retrained layout must equal brute force")
    // rangeSearch's triangle-inequality bound is valid against the NEW radii
    val r = math.sqrt(want(4)._2) + 1e-9
    val ranged = IvfIndex.rangeSearch(spark, dir, qv, r).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    assert(ranged == want.take(5).map(_._1).toSet)
    // crash recovery at the ROOT level: a retrain that died between its two
    // renames leaves only <root>._old; any public entry must restore it
    val root = new org.apache.hadoop.fs.Path(dir)
    val staged = new org.apache.hadoop.fs.Path(dir + "._old")
    require(fs.rename(root, staged))
    val recovered = IvfIndex.search(spark, dir, qv, k = 10, nProbe = 8).collect()
      .map(r2 => (r2.getAs[Long]("vec_id"), r2.getAs[Double]("dist_sq"))).toSeq
    assert(recovered == want, "open-time recovery must restore the staged-aside root")
    assert(fs.exists(root) && !fs.exists(staged))
  }

  test("dedupIngest: tombstoned residents stop matching but their ids stay burned") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-dig").toString + "/ivf"
    val emb = Tables.embeddings(spark, sf).limit(300).cache()
    IvfIndex.build(spark, emb, dir)
    val victim = emb.filter(col("vec_id") === 5L)
      .select("vec_id", "label", "embedding").cache()
    IvfIndex.delete(spark, dir, Seq(5L).toDF("vec_id"))
    // identical embedding under a fresh id: without the tombstone it would
    // die as near_dup against resident 5 — now it must ingest
    val offer = victim.withColumn("vec_id", lit(900001L))
    val verdicts = IvfIndex.dedupIngest(spark, dir, offer, threshold = 0.9999)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(verdicts(900001L) === "ingested",
      s"tombstoned resident must not veto ingest, got $verdicts")
    // but the deleted ID itself stays burned until compact
    val burned = intercept[IllegalArgumentException] {
      IvfIndex.dedupIngest(spark, dir, victim, threshold = 0.9999)
    }
    assert(burned.getMessage.contains("collide"))
  }

  test("cell ranking: distance ties break by cid and a null centroid ranks first, as Spark orders") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfrank").toString
    // cids 1, 2, 5 and 9 all lie at squared distance exactly 1.0 from the
    // query; cid 3 has no embedding
    Seq[(Long, Option[Seq[Float]])](
      5L -> Some(Seq(1f, 0f)), 3L -> None, 9L -> Some(Seq(-1f, 0f)),
      7L -> Some(Seq(0.5f, 0f)), 2L -> Some(Seq(0f, 1f)), 4L -> Some(Seq(2f, 0f)),
      1L -> Some(Seq(0f, -1f)))
      .toDF("cid", "c_embedding").coalesce(1).write.parquet(s"$dir/centroids")
    val q = Array(0f, 0f)
    val held = IvfIndex.centroidRows(spark, dir)
    val collected = IvfIndex.centroidRows(spark.read.parquet(s"$dir/centroids"))
    for (n <- 1 to 7) {
      val sparkOrder = spark.read.parquet(s"$dir/centroids")
        .orderBy(graft.functions.VectorFunctions.l2Sq(col("c_embedding"), lit(q)), col("cid"))
        .limit(n).select("cid").collect().map(_.getLong(0)).toSeq
      assert(IvfIndex.rankCells(held, q, n) == sparkOrder, s"held rows, nProbe $n")
      assert(IvfIndex.rankCells(collected, q, n) == sparkOrder, s"collected rows, nProbe $n")
    }
    assert(IvfIndex.rankCells(held, q, 7) == Seq(3L, 7L, 1L, 2L, 5L, 9L, 4L))
  }

  test("src/main/scala/graft/vector keeps each IVF probe kernel step in its one home") {
    import scala.jdk.CollectionConverters._
    // the driver PQ lookup table, the ADC fold, the centroid row collect,
    // the retention window and the residual's centroid map
    val homes = Seq(
      "lutFlat" -> "PqIndex.scala",
      "zip_with(sequence(0," -> "PqIndex.scala",
      "getSeq[Float](1)))" -> "IvfIndex.scala",
      "date_sub(lit(asOf)" -> "IvfIndex.scala",
      "val centMap" -> "IvfIndex.scala")
    val files = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get("src/main/scala/graft/vector"))
      try s.iterator().asScala.toList finally s.close()
    }.filter(_.toString.endsWith(".scala"))
    assert(homes.forall { case (_, home) => files.exists(_.getFileName.toString == home) },
      s"a home file is missing among ${files.size} sources")
    val found = for {
      f <- files
      (line, i) <- java.nio.file.Files.readString(f).linesIterator.zipWithIndex
      (token, home) <- homes if f.getFileName.toString != home && line.contains(token)
    } yield s"$f:${i + 1}: $token (home: $home)"
    assert(found.isEmpty, s"${found.size} copies outside their home:\n${found.mkString("\n")}")
  }
}
