package graft.vector

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._
import graft.sources.{IndexLifecycle, Parquet}

/** Physical IVF index: the at-scale layout behind ops.Similarity.ivfSearch.
  *
  * Build assigns every vector to its nearest coarse centroid and writes the
  * corpus partitioned by `cell`, plus a tiny centroids sidecar. A lookup
  * ([[search]]) ranks the centroids driver-side and ranks only the probed
  * cells' vectors. While the index fits the driver's resident store
  * ([[graft.sources.ResidentFiles]], shared with the flat window), both
  * come from files held on the driver, validated by a listing, and a lookup
  * runs a job only to read files it does not hold. Otherwise it scans ONLY
  * the probed cell directories — Catalyst partition pruning on disk, so a
  * query touches nProbe/nCells of a 100 TB corpus instead of all of it —
  * with brute force inside the probed cells on the codegen'd L2 expression.
  */
object IvfIndex {

  /** Nearest-centroid assignment as a map-only argmin: the centroid set is
    * constant-size (nCells × dim), so it collects to the driver and becomes
    * a literal array — distances + array_sort + head, all codegen, no
    * crossJoin and no per-vector window shuffle. Tie-break (distance, cid)
    * is identical to the windowed form it replaces. Adds a `cid` column.
    */
  private[vector] def assign(embeddings: DataFrame,
      cents: Seq[(Long, Array[Float])]): DataFrame =
    // one constant-size expression node (FloatVecNearestCells) — the
    // nCells-literal array_sort form made PLANNING linear in the cell
    // count, the r13 vec-gate resident-curve residual
    embeddings.withColumn("cid", nearestCellCid(col("embedding"), literal(cents)))

  /** The (cid, c_embedding) rows of a centroid frame on the driver — the
    * literal input of [[assign]], [[cellRadiiCounts]], [[probeCells]],
    * [[residual]] and [[rankCells]]. Collect once per call and pass the
    * rows down.
    */
  private[graft] def centroidRows(centroids: DataFrame): Seq[(Long, Array[Float])] =
    centroids.select(col("cid").cast("long"), col("c_embedding"))
      .collect().map(r => (r.getLong(0), ResidentWindow.floatsOf(r, "c_embedding"))).toSeq

  /** The centroid rows of the index (or serve sidecar) at `path`: from its
    * files held on the driver ([[ResidentIvf.centroids]]: a listing
    * validates them, unheld files read in one job and are then held), else
    * the plain collect of the sidecar, whose errors a broken one raises.
    */
  private[graft] def centroidRows(spark: SparkSession, path: String): Seq[(Long, Array[Float])] =
    ResidentIvf.centroids(spark, path)
      .getOrElse(centroidRows(Parquet.read(spark, s"$path/centroids")))

  /** The centroid rows as the `VectorFunctions` cell expressions take them. */
  private def literal(cents: Seq[(Long, Array[Float])]): Seq[(Long, Seq[Float])] =
    cents.map { case (cid, c) => (cid, c.toSeq) }

  /** The cell ranking: the `nProbe` cells nearest `q` in probe order, by
    * squared L2 to the centroid as `FloatVecL2Sq` folds it (a null centroid
    * first), then by cid — the order of a Spark `orderBy(l2Sq, cid)` over
    * the sidecar, bit for bit.
    */
  private[graft] def rankCells(cents: Seq[(Long, Array[Float])], q: Array[Float],
      nProbe: Int): Seq[Long] =
    cents.map { case (cid, c) => (if (c == null) null else ResidentIvf.d2(c, q), cid) }
      .sorted[(java.lang.Double, Long)]((a, b) => {
        val byD2 = ResidentIvf.compareD2(a._1, b._1)
        if (byD2 != 0) byD2 else java.lang.Long.compare(a._2, b._2)
      })
      .take(nProbe).map(_._2)

  /** The `nProbe` cells nearest the vector column `emb`, in (distance, cid)
    * order, as an array column — one constant-size FloatVecNearestCells
    * node (see [[assign]]).
    */
  private[vector] def probeCells(emb: Column, cents: Seq[(Long, Array[Float])],
      nProbe: Int): Column =
    orderedCellCids(emb, literal(cents), nProbe)

  /** The residual `v − centroid(cell)` of the vector column `v`: the
    * centroid lookup is a literal map over the constant-size centroid set,
    * so it stays map-only.
    */
  private[vector] def residual(v: Column, cents: Seq[(Long, Array[Float])]): Column = {
    val centMap = map(cents.flatMap { case (cid, c) => Seq(lit(cid), typedLit(c.toSeq)) }: _*)
    zip_with(v, element_at(centMap, col("cell")), (a, b) => a - b)
  }

  /** `frame`'s rows whose `ingest_date` lies in the retention window
    * `(asOf − maxDays, asOf]`; all of them without `asOf`.
    */
  private[vector] def retained(frame: DataFrame, asOf: java.sql.Date, maxDays: Int): DataFrame =
    if (asOf == null) frame
    else frame.filter(col("ingest_date") > date_sub(lit(asOf), maxDays) &&
      col("ingest_date") <= lit(asOf))

  /** Lloyd's k-means over the corpus, seeded deterministically with the
    * first `nCells` vectors by id. Each iteration is one
    * broadcast-assign + one groupBy-mean (the per-dimension mean via
    * posexplode keeps everything in codegen'd built-ins); empty cells keep
    * their previous centroid. A handful of iterations at build time buys
    * balanced cells — and recall@k — over naive seeds (`IvfIndexSpec`
    * measures it vs brute force).
    */
  def kmeansCentroids(embeddings: DataFrame, nCells: Int = 8, iters: Int = 3,
      seeds: Option[DataFrame] = None): DataFrame = {
    // Default seeding assumes dense vec_ids from 0 (the embeddings-table
    // contract); corpora with sparse/colliding ids (e.g. the flat serving
    // index's monotonically_increasing_id rows) pass explicit `seeds`
    // (cid, c_embedding) instead — see ServeIndex.build.
    var centroids = seeds.getOrElse(embeddings.filter(col("vec_id") < nCells)
      .select(col("vec_id").as("cid"), col("embedding").as("c_embedding")))
    for (_ <- 0 until iters) {
      val means = assign(embeddings, centroidRows(centroids))
        .select(col("cid"), posexplode(col("embedding")))
        .groupBy(col("cid"), col("pos")).agg(avg(col("col")).as("m"))
        .groupBy(col("cid"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cid"), expr("transform(pm, x -> CAST(x.m AS FLOAT))").as("new_embedding"))
      // localCheckpoint cuts the exponentially deepening lineage (each
      // iteration would otherwise re-derive all previous assignments).
      centroids = centroids.join(means, Seq("cid"), "left")
        .select(col("cid"), coalesce(col("new_embedding"), col("c_embedding")).as("c_embedding"))
        .localCheckpoint(true)
    }
    centroids
  }

  /** Deterministic fallback ingest day for batches that don't carry one. */
  val DefaultIngestDate: java.sql.Date = java.sql.Date.valueOf("2024-01-01")

  /** File-size bound for cell-partitioned writes: ~4M rows ≈ 1 GB at
    * d = 64 float — a giant cell rolls into scan-parallel files instead of
    * one monolith.
    */
  val MaxRecordsPerCellFile: Long = 4L * 1000 * 1000

  /** Max write-parallel units per (cell, ingest_date) directory — and the
    * file-count bound per directory (a directory's files = the distinct
    * writer tasks among its sub-keys, ≤ this).
    */
  val CellWriteSubKeys: Int = 8

  /** Rows per writer task within one (cell, ingest_date): a cell at or
    * below this writes ONE file; past it, ceil(n/this) parallel writers up
    * to [[CellWriteSubKeys]]. At the [[MaxRecordsPerCellFile]] 4M-row/1GB
    * bound, 1M rows ≈ 250 MB per writer task.
    */
  val CellWriteRowsPerTask: Long = 1L * 1000 * 1000

  /** Cell-partitioned write with a BOUNDED file count AND parallel hot-cell
    * writes. A bare `partitionBy(cell, ingest_date)` write emits one file
    * per (writer task × touched cell): files = tasks·cells — measured
    * 72,428 files on the 100× scale probe (93 tasks × 782 cells), and a
    * 1000-task cluster writing a capped 1024-cell corpus would emit ~10⁶
    * files, poisoning every later listing/footer pass (the layout
    * cellBalance audit read 41× slower on exactly this). But repartitioning
    * by the partition key ALONE over-corrects: each (cell, ingest_date)
    * lands wholly in ONE task, so a skewed hot cell serializes its whole
    * write through a single writer — and `compact`/`retrain` push the full
    * corpus through this path (the `LshIndex.writeBands` lesson).
    *
    * The sub-key is COUNT-AWARE, not constant: a constant k-way crc32 salt
    * k-tuples the file count of every SMALL cell too (measured: 5,983
    * files over 782 ~256-row cells on the 100× layout — ~8× the metadata
    * for every later scan, for zero write-parallelism benefit), so the
    * width comes from a driver-side hot-cell map — cells are a
    * driver-bounded design quantity throughout this index (centroids
    * attach as literals) — built by one column-pruned, map-side-combined
    * counts pass at write time. The map usually carries NOTHING (no cell
    * past [[CellWriteRowsPerTask]]) and the sub-key degenerates to 0:
    * exactly one file per directory. Hot cells get ceil(n/rowsPerTask)
    * writers capped at [[CellWriteSubKeys]], each file rolled at
    * [[MaxRecordsPerCellFile]] for scan parallelism. The repartition is
    * one corpus shuffle at build/compact/retrain (batch-sized on append) —
    * the standard price of a bounded-file partitioned layout, paid at
    * write time where it amortizes, not at every read.
    */
  /** Whether the layout nests `ingest_date=` ABOVE `cell=` (date-major,
    * r13 probe option) — detected from the first-level directory names so
    * appends/compacts/retrains always preserve the resident nesting.
    * Probe pruning by `cell` value works identically under either order
    * (partition pruning is on values, not nesting); what differs is the
    * LISTING unit: date-major appends touch one new top-level date tree
    * and retention is a top-level delete, while cell-major reads list
    * only probed cells' subtrees. See the r13 ScaleProbe comparison row.
    */
  private[graft] def layoutDateMajor(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$path/vectors")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p)
      .exists(st => st.isDirectory && st.getPath.getName.startsWith("ingest_date="))
  }

  /** The on-disk directories of the given cells, under either nesting —
    * so a bounded probe set reads WITHOUT a whole-tree listing (one
    * top-level listStatus for cell-major; one per date tree for
    * date-major, dates bounded by retention). None = not a recognizable
    * partitioned layout (caller falls back to the full read); Some(empty)
    * = none of the probed cells has resident rows.
    */
  private def probedCellDirs(spark: SparkSession, path: String,
      probed: Seq[Long]): Option[Seq[String]] = {
    val root = new org.apache.hadoop.fs.Path(s"$path/vectors")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return None
    val probedNames = probed.map(c => s"cell=$c").toSet
    val top = fs.listStatus(root).filter(_.isDirectory).map(_.getPath)
    if (top.exists(_.getName.startsWith("ingest_date="))) {
      Some(top.filter(_.getName.startsWith("ingest_date=")).toSeq.flatMap(d =>
        fs.listStatus(d)
          .filter(st => st.isDirectory && probedNames.contains(st.getPath.getName))
          .map(_.getPath.toString).toSeq))
    } else if (top.exists(_.getName.startsWith("cell="))) {
      Some(top.filter(p => probedNames.contains(p.getName)).map(_.toString).toSeq)
    } else None
  }

  /** The probed cells' resident rows, tombstones dropped: only their
    * directories are listed and read ([[probedCellDirs]]); `like`'s
    * (vec_id, embedding, label) with no rows when none of them holds rows;
    * the whole layout when it is not a partitioned one. Callers keep the
    * value filter on `cell` as the semantic guard.
    */
  private def probedResident(spark: SparkSession, path: String, probed: Seq[Long],
      like: DataFrame): DataFrame =
    Lifecycle.dropTombstoned(spark, path, probedCellDirs(spark, path, probed) match {
      case Some(dirs) if dirs.nonEmpty => Parquet.readUnder(spark, s"$path/vectors", dirs)
      case Some(_) => like.select(col("vec_id"), col("embedding"), col("label"),
        lit(0L).cast("int").as("cell")).limit(0)
      case None => Parquet.read(spark, s"$path/vectors")
    })

  private[graft] def writeCells(df: DataFrame, path: String, mode: SaveMode,
      rowsPerTask: Long = CellWriteRowsPerTask,
      knownCounts: Option[Seq[(String, Long)]] = None,
      dateMajor: Boolean = false): Unit = {
    // Callers that already run a radii aggregation pass their counts in
    // (cellRadiiCounts — the counts then cost nothing); IvfPqIndex.build
    // derives them from its checkpointed residuals. The remaining fallback
    // users (IvfPqIndex.appendBatch / ServeIndex.build via
    // checkpointed inputs) pay one column-pruned agg over MATERIALIZED
    // rows — never a re-derivation of an assignment/encode projection.
    val counts = knownCounts.getOrElse(
      df.groupBy(col("cell"), col("ingest_date")).agg(count(lit(1)).as("_n"))
        .collect().map(r => s"${r.get(0)}|${r.get(1)}" -> r.getAs[Long]("_n")).toSeq)
    val hot = counts.filter(_._2 > rowsPerTask).map { case (k, n) =>
      k -> math.min(CellWriteSubKeys.toLong, (n + rowsPerTask - 1) / rowsPerTask)
    }.toMap
    val width =
      if (hot.isEmpty) lit(1L)
      else coalesce(element_at(typedLit(hot),
        concat_ws("|", col("cell"), col("ingest_date"))), lit(1L))
    val partCols =
      if (dateMajor) Seq("ingest_date", "cell") else Seq("cell", "ingest_date")
    df.withColumn("_sk", pmod(crc32(col("vec_id").cast("string")), width))
      .repartition(col("cell"), col("ingest_date"), col("_sk"))
      .drop("_sk")
      .write.mode(mode).option("maxRecordsPerFile", MaxRecordsPerCellFile)
      .partitionBy(partCols: _*).parquet(path)
  }

  /** Distance to the ASSIGNED (nearest) centroid is just the min over the
    * literal centroid array — one more codegen column on the assignment
    * scan, no join.
    */
  private def nearestDist(cents: Seq[(Long, Array[Float])]): Column =
    sqrt(nearestCellDistSq(col("embedding"), literal(cents)))

  /** Per-cell covering radius (max member↔centroid distance) — the tiny
    * sidecar that makes `rangeSearch` exact under cell pruning — PLUS the
    * per-(cell, date) row counts, in ONE pass over the assignment: the
    * counts feed [[writeCells]]'s hot-cell width map, so the bounded-file
    * write's count pass costs nothing wherever a radii pass already runs
    * (build/appendBatch/retrain — every writeCells site except compact).
    * Both outputs are cells×dates-bounded and collect driver-side (the
    * appendBatch radii-merge precedent).
    */
  private def cellRadiiCounts(assigned: DataFrame, cents: Seq[(Long, Array[Float])],
      dateCol: Column): (Map[Long, Double], Seq[(String, Long)]) = {
    val rows = assigned.withColumn("cd", nearestDist(cents))
      .groupBy(col("cid"), dateCol.as("_d"))
      .agg(max(col("cd")).as("radius"), count(lit(1)).as("n_rows"))
      .collect()
    val radii = rows.groupBy(_.getAs[Long]("cid"))
      .map { case (c, rs) => c -> rs.map(_.getAs[Double]("radius")).max }
    val counts = rows.map(r =>
      s"${r.getAs[Long]("cid")}|${r.get(1)}" -> r.getAs[Long]("n_rows")).toSeq
    (radii, counts)
  }

  /** Build the physical index: k-means centroids (deterministic seeds,
    * `kmeansIters` Lloyd rounds — 0 reproduces the naive-seed layout),
    * assignment, and a `partitionBy(cell, ingest_date)` write. Layout and
    * read path are independent of how the centroids were computed. The
    * nested `ingest_date` level composes probe pruning with retention:
    * a probe touches nProbe/nCells of the cells AND ≤RetentionDays date
    * directories within each (reference retention applies to ALL vectors,
    * `faiss_manager.py:151-172`). A third sidecar, `radii` (per-cell
    * covering radius), powers the triangle-inequality cell bound in
    * `rangeSearch`.
    */
  def build(spark: SparkSession, embeddings: DataFrame, path: String,
      nCells: Int = 8, kmeansIters: Int = 3,
      ingestDate: java.sql.Date = DefaultIngestDate,
      dateMajor: Boolean = false): Unit = {
    val centroids = kmeansCentroids(embeddings, nCells, kmeansIters)
    val cents = centroidRows(centroids)
    val assigned = assign(embeddings, cents)
    val (radii, counts) = cellRadiiCounts(assigned, cents, lit(ingestDate))
    import spark.implicits._
    // id sidecar (r13): the dedupIngest disjointness gate's authority. A
    // compact bucketed/key-sorted table the gate point-reads per batch —
    // WITHOUT it the gate scanned the whole cell×date layout's metadata
    // (thousands of directories at scale; the r12 resident-curve probe
    // measured the gate at 2.5× wall per 100× residents, all
    // scan/metadata). Written BEFORE vectors so a replayed crash trips
    // the gate loudly (the LshIndex hashes-first crash-ordering contract).
    // The three sidecar writes are independent (fresh build, fresh dir —
    // the append-ordering contracts are appendBatch's) and overlap from a
    // bounded driver pool (guide §2.6); vectors still commits last.
    graft.sources.ConcurrentJobs.run(Seq(
      () => centroids.coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(s"$path/centroids"),
      () => radii.toSeq.sorted.toDF("cid", "radius")
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$path/radii"),
      () => graft.sources.KeyedSidecar.write(assigned.select(col("vec_id")),
        "vec_id", s"$path/ids", SaveMode.Overwrite)))
    writeCells(assigned
      .select(col("vec_id"), col("label"), col("embedding"), col("cid").as("cell"),
        lit(ingestDate).as("ingest_date")),
      s"$path/vectors", SaveMode.Overwrite, knownCounts = Some(counts),
      dateMajor = dateMajor)
  }

  /** Assign a new (vec_id, label, embedding) batch against the EXISTING
    * centroid sidecar and append it into the partitionBy(cell, ingest_date)
    * layout — the incremental-ingest half of the index: arriving vectors
    * land in their cell×day directories without touching resident data, and
    * are immediately visible to probe-pruned search. A batch carrying its
    * own `ingest_date` column keeps it; otherwise `ingestDate` stamps it.
    */
  def appendBatch(spark: SparkSession, batch: DataFrame, path: String,
      ingestDate: java.sql.Date = DefaultIngestDate): Unit = {
    recover(spark, path)
    val cents = centroidRows(spark, path)
    appendDated(spark, dated(batch, cents, ingestDate).localCheckpoint(true), path, cents)
  }

  /** The batch assigned to its cells, stamped with `ingestDate` unless it
    * carries its own `ingest_date`.
    */
  private def dated(batch: DataFrame, cents: Seq[(Long, Array[Float])],
      ingestDate: java.sql.Date): DataFrame =
    if (batch.columns.contains("ingest_date")) assign(batch, cents)
    else assign(batch, cents).withColumn("ingest_date", lit(ingestDate))

  /** [[appendBatch]] body: recovery already run, the batch assigned and
    * materialized (it has two consumers: the radii merge and the vectors
    * append), the centroid rows collected once by the caller.
    */
  private def appendDated(spark: SparkSession, dated: DataFrame, path: String,
      cents: Seq[(Long, Array[Float])]): Unit = {
    // Max-merge the batch's covering radii into the sidecar (driver-side:
    // both sides are ≤nCells rows). Radii only grow on append; retention
    // can leave them conservatively large, which keeps the bound CORRECT
    // (never prunes a qualifying cell), just occasionally less tight.
    //
    // ORDERING: the radii merge happens BEFORE the vectors append. A crash
    // between the two leaves radii that cover vectors not yet present —
    // conservatively LARGE, which is always safe for rangeSearch. The
    // reverse order would open a window where appended vectors exceed the
    // stored radius, and a too-small radius silently breaks rangeSearch's
    // exactness with nothing to detect or repair it.
    //
    // SINGLE-WRITER REQUIRED: this is a read-merge-overwrite of a shared
    // sidecar. Two concurrent appends could each read the pre-append radii
    // and the last overwrite would LOSE the other side's radius growth —
    // and a too-SMALL radius silently breaks rangeSearch's exactness (a
    // cell that contains qualifying vectors could be pruned by the
    // triangle-inequality bound; too-LARGE is always safe). Appends to one
    // index path must therefore be serialized by the caller — the same
    // contract every sidecar-merging store (e.g. a FAISS index file) has.
    // The swap below goes through a temp dir + rename so a concurrent
    // READER never observes a half-written sidecar.
    // Gate-first crash ordering: the batch's ids land in the sidecar
    // BEFORE anything else, so an at-least-once replay of a half-applied
    // append trips the disjointness gate loudly instead of silently
    // double-appending. Appends only EXTEND an existing sidecar — a
    // legacy layout without one must stay sidecar-less (a partial ids
    // table would silently blind the gate to older residents).
    val idsP = new org.apache.hadoop.fs.Path(s"$path/ids")
    if (idsP.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(idsP))
      graft.sources.KeyedSidecar.write(dated.select(col("vec_id")).coalesce(1),
        "vec_id", s"$path/ids", SaveMode.Append)
    val (batchRadii, batchCounts) =
      cellRadiiCounts(dated, cents, col("ingest_date"))
    val existing = radii(spark, path)
    import spark.implicits._
    val tmpPath = new org.apache.hadoop.fs.Path(s"$path/.radii_tmp")
    val radiiPath = new org.apache.hadoop.fs.Path(s"$path/radii")
    val fs = radiiPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (existing.keySet ++ batchRadii.keySet).toSeq.sorted
      .map(c => (c, math.max(existing.getOrElse(c, 0.0), batchRadii.getOrElse(c, 0.0))))
      .toDF("cid", "radius")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmpPath.toString)
    fs.delete(radiiPath, true)
    fs.rename(tmpPath, radiiPath)
    writeCells(dated
      .select(col("vec_id"), col("label"), col("embedding"), col("cid").as("cell"),
        col("ingest_date")),
      s"$path/vectors", SaveMode.Append, knownCounts = Some(batchCounts),
      dateMajor = layoutDateMajor(spark, path))
  }

  /** The per-cell covering radii of the `radii` sidecar; none before it exists. */
  private def radii(spark: SparkSession, path: String): Map[Long, Double] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/radii")
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) Map.empty
    else Parquet.read(spark, s"$path/radii").collect()
      .map(r => r.getAs[Long]("cid") -> r.getAs[Double]("radius")).toMap
  }

  /** Logical point deletes — takedown/GDPR removal for the vector tier,
    * on the shared [[graft.sources.IndexLifecycle]] contract: EVERY
    * serving path (`search`/`knnJoin`/`rangeSearch`, and the dedupIngest
    * candidate side) anti-joins the log, while the dedupIngest id gate
    * still sees a tombstoned id until `compact`. Shared by [[IvfPqIndex]],
    * whose layout is identical: compaction rewrites only the cell files
    * holding a deleted id, each in its own directory, so every column
    * (incl. `codes`) and the `cell × ingest_date` partitioning survive.
    *
    * Table order: `vectors` first, the `ids` gate sidecar LAST (a crash
    * between the two leaves deleted ids burned longer); legacy/PQ layouts
    * without the sidecar skip it. Centroids and radii are deliberately not
    * compacted: centroids define the layout's assignment function (a fresh
    * k-means would re-cell the corpus), and the per-cell radii stay
    * conservatively LARGE — the only safe direction for `rangeSearch`'s
    * triangle-inequality bound (the appendBatch crash-ordering contract).
    */
  private[graft] val Lifecycle = IndexLifecycle("vec_id", IndexLifecycle.Inside, Seq(
    IndexLifecycle.Table("vectors"),
    IndexLifecycle.Table("ids", IndexLifecycle.keyed("vec_id"), optional = true)))

  def delete(spark: SparkSession, path: String, ids: DataFrame): Unit = {
    recoverRoot(spark, path); Lifecycle.delete(spark, path, ids)
  }

  def compact(spark: SparkSession, path: String): Unit = {
    recoverRoot(spark, path); Lifecycle.compact(spark, path)
  }

  /** Open-time compact-swap crash recovery (see [[graft.sources.CompactSwap]]).
    * Shared by [[IvfPqIndex]], whose layout is identical. Two levels: the
    * whole ROOT first (a [[retrain]] that died between its two renames —
    * the staged-aside old index is authoritative), then the lifecycle's
    * tables (a `compact` that died likewise).
    */
  private[vector] def recover(spark: SparkSession, path: String): Unit = {
    recoverRoot(spark, path)
    Lifecycle.recover(spark, path)
  }

  private def recoverRoot(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    Option(p.getParent).foreach(parent =>
      graft.sources.CompactSwap.recover(spark, parent.toString, Seq(p.getName)))
  }

  /** Retrain the index in place: fresh centroids from the CURRENT resident
    * corpus (tombstones excluded) via the exact distributed Lloyd loop
    * (`Similarity.kmeansTrain` — fixed-point sums, bitwise-reproducible
    * trajectory), full reassignment, and an ATOMIC whole-root swap.
    *
    * Why the root and not table-at-a-time: centroids, radii and the
    * cell-partitioned vectors are one consistent generation — a crash
    * between a vectors swap and a centroids swap would leave probes
    * ranking round-t+1 cells against round-t directories (budgeted recall
    * silently wrong) and, worse, radii that no longer cover their cells
    * (rangeSearch's triangle-inequality bound breaks EXACTNESS, not just
    * speed). `CompactSwap.rewrite` on the index root makes the new
    * generation appear in one rename; `recover` (called at every public
    * entry) restores the staged-aside old root if the writer died between
    * its two renames. A new generation shows up as new files: `search`
    * holds files on the driver only while a listing shows them with the
    * held length and mtime, so the next lookup after a retrain lists the
    * new centroid and vector files and reads them, never the held ones;
    * `rangeSearch` reads the sidecars each time.
    *
    * Retrain is also a compact: deletes fold into the rewrite and the
    * tombstone log does not carry into the new generation. PQ layouts
    * rebuild via `IvfPqIndex.build` instead — their codes must re-encode
    * against the new residuals, which IS the build. Single-writer, like
    * every sidecar-merging mutation on this store.
    *
    * Returns the per-round movement metrics (the convergence record a
    * scheduled re-index job logs).
    */
  def retrain(spark: SparkSession, path: String, nCells: Int = 8,
      rounds: Int = 3): Seq[graft.ops.Similarity.KmeansRound] = {
    recover(spark, path)
    val wasDateMajor = layoutDateMajor(spark, path)
    val resident = Lifecycle.dropTombstoned(spark, path, Parquet.read(spark, s"$path/vectors"))
      .select(col("vec_id"), col("label"), col("embedding"), col("ingest_date"))
      .localCheckpoint(true) // consumed by training rounds AND the rewrite
    val (cents, stats) = graft.ops.Similarity.kmeansTrain(resident, nCells, rounds)
    import spark.implicits._
    val centroidsDf = cents.zipWithIndex
      .map { case (v, cid) => (cid.toLong, v.toSeq) }.toSeq
      .toDF("cid", "c_embedding")
    val root = new org.apache.hadoop.fs.Path(path)
    graft.sources.CompactSwap.rewrite(spark, root.getParent.toString, root.getName) { fresh =>
      centroidsDf.coalesce(1).write.mode(SaveMode.ErrorIfExists)
        .parquet(s"$fresh/centroids")
      val cents = centroidRows(centroidsDf)
      val assigned = assign(resident, cents).localCheckpoint(true)
      val (radii, counts) = cellRadiiCounts(assigned, cents, col("ingest_date"))
      radii.toSeq.sorted.toDF("cid", "radius")
        .coalesce(1).write.mode(SaveMode.ErrorIfExists).parquet(s"$fresh/radii")
      // fresh-generation id sidecar (retrain is also a compact: the
      // tombstone log does not carry over, so neither do its ids)
      graft.sources.KeyedSidecar.write(assigned.select(col("vec_id")),
        "vec_id", s"$fresh/ids", SaveMode.ErrorIfExists)
      writeCells(assigned
        .select(col("vec_id"), col("label"), col("embedding"),
          col("cid").as("cell"), col("ingest_date")),
        s"$fresh/vectors", SaveMode.ErrorIfExists, knownCounts = Some(counts),
        dateMajor = wasDateMajor)
    }
    stats
  }

  /** Cell-occupancy balance audit over the PHYSICAL layout — the
    * production twin of `Similarity.cellBalance`: an indexed corpus
    * already carries its cell assignment in the `cell=` directory
    * structure, so the audit is one count over the partition column
    * (parquet footers only — no vector data read, no re-assignment; the
    * operator form's O(n·cells) literal-centroid pass is the
    * unindexed-corpus fallback, and its pre-cap cost is documented
    * there). Tombstones fold out first so the audit reflects the serving
    * view, and centroid cells with NO surviving rows report 0 — a
    * drifted or takedown-hollowed cell is exactly what the audit exists
    * to show. `load_ppm = n_vectors·cells·10⁶ DIV total`, 10⁶ = balanced
    * (the `Similarity.cellBalance` convention).
    */
  def cellBalance(spark: SparkSession, path: String): DataFrame = {
    recover(spark, path)
    val cells = Parquet.read(spark, s"$path/centroids")
      .select(col("cid").cast("long").as("cell")).distinct()
    // The partition column discovers as int; normalize to long so the
    // audit's schema matches the operator form's. With no tombstone log,
    // the count groups ONLY the partition column — the scan's ReadSchema
    // is empty (row counts come from parquet row-group metadata, no data
    // pages decoded); only a pending tombstone fold needs the vec_id
    // column for its anti-join.
    val counts = Lifecycle.dropTombstoned(spark, path, Parquet.read(spark, s"$path/vectors")
        .select(col("vec_id"), col("cell").cast("long").as("cell")))
      .groupBy(col("cell")).agg(count(lit(1)).as("n_vectors"))
    val full = cells.join(counts, Seq("cell"), "left")
      .select(col("cell"), coalesce(col("n_vectors"), lit(0L)).as("n_vectors"))
      .localCheckpoint() // two consumers: the total and the per-cell rows
    val nCells = full.count()
    // Fail loud on an empty centroid sidecar (the miningFront convention):
    // without it the NULL sum below NPEs and the overflow require divides
    // by zero — an unbuilt/corrupt layout should say so, not crash cryptically.
    require(nCells > 0, s"no centroid sidecar rows under $path — not a built index")
    val total = full.agg(sum(col("n_vectors"))).collect()(0).getLong(0)
    require(total == 0 || total <= Long.MaxValue / 1000000L / nCells,
      s"load_ppm would overflow Long (total=$total, cells=$nCells)")
    full.withColumn("load_ppm",
        if (total == 0) lit(0L)
        else expr(s"(n_vectors * ${nCells}L * 1000000L) DIV ${total}L"))
      .orderBy(col("cell"))
  }

  /** Shared front half of the LAYOUT-BACKED mining family
    * ([[hardNegatives]]/[[tripletMine]]/[[knnLabelAudit]]): probe
    * expression from the centroid sidecar, resident corpus (tombstones
    * folded) in the mining column convention, statically pruned to the
    * anchors' probed-cell union — a bounded-anchor batch reads ONLY its
    * probed `cell=` directories off disk.
    *
    * This is the production shape the two-table `Similarity.*For` forms
    * approximate on an UNINDEXED corpus: those must literal-centroid
    * assign every corpus row per call — O(n·cells·d) compute, the term
    * the 100× probe measured at 17-23× wall — while an indexed corpus
    * already carries `cell` on disk, so the per-batch cost here is the
    * probed cells' row volume (≈ anchors·nProbe·occupancy) plus one
    * footer-bounded salt count. Outputs are IDENTICAL to the two-table
    * forms whenever the layout's assignment matches their seed rule
    * (kmeansIters = 0 at the same cell count — `SimilaritySpec` pins it);
    * on a TRAINED layout the same contract holds against the trained
    * cells (better-balanced candidacy, same semantics).
    */
  private def miningFront(spark: SparkSession, path: String, anchors: DataFrame,
      nProbe: Int): (Column, DataFrame, Int) = {
    recover(spark, path)
    val cents = centroidRows(spark, path)
    require(cents.nonEmpty, s"no centroid sidecar under $path — not a built index")
    val sortedCells = probeCells(col("embedding"), cents, cents.length)
    val probes = math.min(cents.length,
      if (nProbe > 0) nProbe else graft.ops.Similarity.autoProbe(cents.length))
    // Bounded anchors ⇒ one tiny job computes the probed-cell union, which
    // prunes the partitioned scan statically (only probed directories read).
    val probed = anchors
      .select(explode(slice(sortedCells, 1, probes).cast("array<long>")).as("cell"))
      .distinct().collect().map(_.getLong(0))
    // probed-dir read (r13): list only the probed cells' directories
    // instead of the whole cells×dates tree (the dedupIngest convention)
    val resident = probedResident(spark, path, probed, anchors)
      .select(col("vec_id").as("c_vec_id"), col("embedding").as("c_emb"),
        col("label").as("c_label"), col("cell").cast("long").as("cell"))
      .filter(col("cell").isin(probed: _*))
    (sortedCells, resident, probes)
  }

  /** Hard-negative mining for an anchor batch against the INDEXED corpus —
    * `Similarity.hardNegativesFor` riding the physical layout (see
    * [[miningFront]] for the cost contract).
    */
  def hardNegatives(spark: SparkSession, path: String, anchors: DataFrame,
      k: Int = 5, nProbe: Int = 0, maxCellRows: Long = 1000000L): DataFrame = {
    val (sortedCells, resident, probes) = miningFront(spark, path, anchors, nProbe)
    graft.ops.Similarity.hardNegativesOn(anchors, resident, sortedCells,
      probes, k, maxCellRows)
  }

  /** Triplet mining (hardest positive + hardest negative per anchor)
    * against the INDEXED corpus — `Similarity.tripletMineFor` riding the
    * physical layout.
    */
  def tripletMine(spark: SparkSession, path: String, anchors: DataFrame,
      nProbe: Int = 0, maxCellRows: Long = 1000000L): DataFrame = {
    val (sortedCells, resident, probes) = miningFront(spark, path, anchors, nProbe)
    graft.ops.Similarity.tripletMineOn(anchors, resident, sortedCells,
      probes, maxCellRows)
  }

  /** Leave-one-out kNN label audit for an anchor batch against the INDEXED
    * corpus — `Similarity.knnLabelAuditFor` riding the physical layout.
    */
  def knnLabelAudit(spark: SparkSession, path: String, anchors: DataFrame,
      k: Int = 5, nProbe: Int = 0): DataFrame = {
    val (sortedCells, resident, probes) = miningFront(spark, path, anchors, nProbe)
    graft.ops.Similarity.knnLabelAuditOn(anchors, resident, sortedCells, probes, k)
  }

  /** Retention: physically drop `ingest_date=` directories older than the
    * `(asOf−maxDays, asOf]` window inside every cell — the IVF analog of
    * `VectorIndex.retain` (reference `_remove_old_indexes`,
    * `faiss_manager.py:151-172`). Hadoop FileSystem API, directory listings
    * only: cost is nCells listings, no data read. Returns the dropped
    * `cell=…/ingest_date=…` relative paths.
    */
  def retain(spark: SparkSession, path: String, asOf: java.sql.Date,
      maxDays: Int = VectorIndex.RetentionDays): Seq[String] = {
    recover(spark, path)
    import org.apache.hadoop.fs.Path
    val cutoff = asOf.toLocalDate.minusDays(maxDays)
    val root = new Path(s"$path/vectors")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    def expired(name: String): Boolean =
      !java.time.LocalDate.parse(name.stripPrefix("ingest_date=")).isAfter(cutoff)
    if (layoutDateMajor(spark, path)) {
      // date-major nesting: retention is ONE top-level listing and one
      // recursive delete per expired day — the layout's headline win
      fs.listStatus(root).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("ingest_date="))
        .filter(st => expired(st.getPath.getName))
        .map { st =>
          fs.delete(st.getPath, true)
          st.getPath.getName
        }
    } else {
      val cells = fs.listStatus(root).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
      cells.flatMap { cellDir =>
        fs.listStatus(cellDir.getPath).toSeq
          .filter(st => st.isDirectory && st.getPath.getName.startsWith("ingest_date="))
          .filter(st => expired(st.getPath.getName))
          .map { st =>
            fs.delete(st.getPath, true)
            s"${cellDir.getPath.getName}/${st.getPath.getName}"
          }
      }
    }
  }

  /** Batch kNN join against the on-disk layout — the physical twin of
    * `ops.Similarity.knnJoin`: the corpus is ALREADY cell-partitioned on
    * disk, so no assignment pass runs at query time. Queries are
    * multi-probe-assigned against the centroid sidecar (a driver-side
    * constant); the equi-join key is the layout's own partition column, so
    * the corpus side arrives cell-clustered from disk (and Spark's dynamic
    * partition pruning can skip cells no query probes when the query side
    * broadcasts). With `asOf` the scan is statically pruned to the
    * retention window's date directories. The per-query top-k is the
    * bounded native aggregate — map-side combining, ≤k rows per
    * (partition, query) into the final shuffle. At 100 TB this is the
    * shape the training-pipeline similarity stage runs: queries stream in,
    * the corpus never rewrites, no per-row assignment at query time.
    */
  def knnJoin(spark: SparkSession, path: String, queries: DataFrame,
      k: Int = 10, nProbe: Int = 4, asOf: java.sql.Date = null,
      maxDays: Int = VectorIndex.RetentionDays): DataFrame = {
    recover(spark, path)
    val q = queries.select(col("vec_id").as("q_vec_id"), col("embedding").as("q_emb"),
      explode(probeCells(col("embedding"), centroidRows(spark, path), nProbe)).as("cell"))
    val corpus = retained(Lifecycle.dropTombstoned(spark, path,
        Parquet.read(spark, s"$path/vectors")), asOf, maxDays).select(col("vec_id").as("c_vec_id"),
      col("embedding").as("c_emb"), col("cell").cast("long").as("cell"))
    q.join(corpus, "cell")
      .withColumn("d2", l2Sq(col("q_emb"), col("c_emb")))
      .groupBy(col("q_vec_id"))
      .agg(graft.functions.TopKAggregator.topK(k, -col("d2"), col("c_vec_id")).as("top"))
      .select(col("q_vec_id"), posexplode(col("top")))
      .select(col("q_vec_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("c_vec_id"), (-col("col.value")).as("dist_sq"))
      .orderBy(col("q_vec_id"), col("rank"))
  }

  /** Exact range search over the on-disk layout — the partition-pruned twin
    * of `ops.Similarity.rangeSearch`. The triangle inequality gives a cell
    * bound: for any member x of cell c, d(q,x) ≥ d(q,centroid_c) − radius_c,
    * so a cell with d(q,centroid) − radius > r cannot contain a hit and its
    * directories are never read. Unlike probe-count kNN this is EXACT —
    * the bound only skips cells that provably contain nothing — so the
    * result equals the brute-force definition while the scan touches only
    * qualifying cells. Falls back to scanning every cell (still exact) if
    * the index predates the `radii` sidecar.
    */
  def rangeSearch(spark: SparkSession, path: String, query: Seq[Float],
      radius: Double, asOf: java.sql.Date = null,
      maxDays: Int = VectorIndex.RetentionDays): DataFrame = {
    recover(spark, path)
    val cellRadii = radii(spark, path)
    val q = query.toArray
    val qualifying = centroidRows(spark, path).collect {
      case (cid, c) if math.sqrt(ResidentIvf.d2(c, q)) -
        cellRadii.getOrElse(cid, Double.MaxValue) <= radius => cid
    }
    retained(Lifecycle.dropTombstoned(spark, path, Parquet.read(spark, s"$path/vectors"))
        .filter(col("cell").isin(qualifying: _*)), asOf, maxDays) // partition pruning on disk
      .withColumn("d2", l2Sq(col("embedding"), lit(q)))
      .filter(col("d2") <= radius * radius)
      .select(col("vec_id"), col("label"), col("d2").as("dist_sq"))
      .orderBy(col("vec_id"))
  }

  /** Top-`k` of the `nProbe` cells nearest `query`: (vec_id, label, cid,
    * dist_sq), ordered by (dist_sq, vec_id). Cells rank by (squared L2 to
    * the centroid, cid); with `asOf`, only the `(asOf − maxDays, asOf]`
    * ingest days count.
    *
    * After [[recover]], the index's files held on the driver answer
    * ([[ResidentIvf]] over [[graft.sources.ResidentFiles]]): one listing of
    * `centroids/` and `vectors/` validates them, the first lookup after a
    * write reads the files it does not hold in one job, and the lookups
    * after it run no job. The result is a local frame, bitwise the scan's.
    * The partition-pruned [[scan]] answers instead while a tombstone log
    * exists, when the index passes `ResidentFiles.MaxBytes`, and on a
    * layout the listing cannot read as the scan does.
    */
  def search(spark: SparkSession, path: String, query: Seq[Float],
      k: Int = 10, nProbe: Int = 2, asOf: java.sql.Date = null,
      maxDays: Int = VectorIndex.RetentionDays): DataFrame = {
    recover(spark, path)
    ResidentIvf.search(spark, path, query.toArray, k, nProbe, asOf, maxDays)
      .getOrElse(scan(spark, path, query, k, nProbe, asOf, maxDays))
  }

  /** Probe: rank cells ([[rankCells]] over [[centroidRows]]), scan only
    * those partitions.
    * With `asOf`, the scan is additionally pruned to the retention window's
    * `ingest_date` directories — probe × retention, both at the partition
    * level. Tombstones anti-join the vectors below the probed-cell filter.
    */
  private[graft] def scan(spark: SparkSession, path: String, query: Seq[Float],
      k: Int, nProbe: Int, asOf: java.sql.Date, maxDays: Int): DataFrame = {
    val q = lit(query.toArray)
    val probed = rankCells(centroidRows(spark, path), query.toArray, nProbe)
    retained(Lifecycle.dropTombstoned(spark, path, Parquet.read(spark, s"$path/vectors"))
        .filter(col("cell").isin(probed: _*)), asOf, maxDays) // only probed dirs read
      .withColumn("d2", l2Sq(col("embedding"), q))
      .orderBy(col("d2"), col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("label"), col("cell").cast("long").as("cid"),
        col("d2").as("dist_sq"))
  }

  /** Incremental ingest THROUGH a cosine near-duplicate gate — the vector
    * twin of `text.LshIndex.ingestBatch`: within-batch bitwise-identical
    * embeddings keep only the min-id copy (`batch_dup`); the others probe
    * their nProbe nearest cells and die on any resident vector at
    * cos ≥ threshold (`near_dup` — candidate generation is the same
    * cell-blocked equi-join as `Similarity.cosineDupPairsBlocked`, so an
    * identical re-offer probes identical cells and candidacy is
    * guaranteed); the rest append into the layout (`ingested`). Returns
    * (vec_id, verdict) for the whole batch.
    *
    * Preconditions mirror the text gate: batch vec_ids must be disjoint
    * from resident ids (fail fast — an id collision would both suppress a
    * genuine dup verdict and persist a second row under the id), and
    * appends to one index path are single-writer (the radii sidecar
    * contract on `appendBatch`).
    *
    * Shape: the batch, its probe cells and every tier result stay on the
    * driver ([[graft.sources.LocalFrame]] — a delivery is bounded by
    * contract). The id check, the within-batch tier and the near tier are
    * independent reads, so they run as one [[graft.sources.ConcurrentJobs]]
    * group with the id check first (its error wins); verdicts then resolve
    * per doc on the driver, `batch_dup` before `near_dup`
    * ([[graft.sources.GateBatch.verdicts]]). The append starts after the
    * group, with appendBatch's crash order and the centroid rows this call
    * already collected.
    */
  def dedupIngest(spark: SparkSession, path: String, batch: DataFrame,
      threshold: Double = 0.95, nProbe: Int = 4,
      ingestDate: java.sql.Date = DefaultIngestDate): DataFrame = {
    import graft.sources.{ConcurrentJobs, GateBatch, LocalFrame}
    recover(spark, path)
    val vecPath = new org.apache.hadoop.fs.Path(s"$path/vectors")
    val fs = vecPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(vecPath),
      s"no IVF layout at $path — build(...) the index before dedupIngest")
    // Join posture throughout (the r11 LshIndex.dedupBatch inversion): the
    // batch is bounded BY CONTRACT (a delivery), so every batch-derived
    // side carries an explicit broadcast hint and RESIDENT tables only ever
    // stream map-locally — per-batch cost is column-pruned resident scans,
    // never resident shuffles. Left unhinted, AQE mis-sizing flips these to
    // sort-merge and the full resident corpus crosses the shuffle for one
    // batch (measured on the text gate: 2.6M records for a 500-doc batch).
    val cents = centroidRows(spark, path)
    val b = LocalFrame(batch.select(col("vec_id"), col("label"), col("embedding")))
    val batchIds = b.select(col("vec_id"))
    // The probed-cell union statically prunes the partitioned resident
    // scan to the probed directories (the miningFront convention). Without
    // it the cosine tier streams the FULL resident table per batch — the
    // join on `cell` discards non-probed rows anyway, but only after
    // reading them: the 100× resident probe measured the unpruned scan at
    // 4.7× wall on a fixed batch, all of it scan time. The cell lists are
    // a projection of the local batch: evaluated on the driver, no job.
    val withCells = LocalFrame(b.select(col("vec_id"), col("embedding"),
      probeCells(col("embedding"), cents, nProbe).as("cells")))
    val probedCells = withCells.collect().flatMap(_.getSeq[Long](2)).distinct
    val probed = withCells.select(col("vec_id"), col("embedding"),
      explode(col("cells")).as("cell"))
    val Seq(_, losers, nearDups) = ConcurrentJobs.run[Set[Any]](Seq(
      () => {
        // Disjointness gate off the bucketed id SIDECAR when the layout
        // has one (r13): a point-read pruned to the batch's key
        // buckets/pages instead of a full metadata pass over the cell×date
        // layout. KeyedSidecar falls back to the full (tiny-table or
        // legacy) scan, so the semi-join is what enforces the restriction
        // either way; a legacy layout without the sidecar reads `vectors`.
        // Both read the layout RAW — tombstoned ids stay burned until
        // compact.
        val idsGateP = new org.apache.hadoop.fs.Path(s"$path/ids")
        val idAuthority =
          if (idsGateP.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(idsGateP))
            graft.sources.KeyedSidecar.lookup(spark, s"$path/ids", "vec_id", batchIds)
          else Parquet.read(spark, s"$path/vectors").select(col("vec_id"))
        val clash = idAuthority.select(col("vec_id"))
          .join(broadcast(batchIds), Seq("vec_id"), "left_semi")
          .limit(5).collect()
        require(clash.isEmpty,
          s"batch vec_ids collide with resident ids (e.g. ${clash.map(_.get(0)).mkString(", ")}): " +
            "ingest requires batch ids disjoint from the resident corpus")
        Set.empty[Any]
      },
      () => GateBatch.losers(b, "vec_id", col("embedding")),
      () => {
        // tombstoned residents stop matching as dup candidates; the id
        // gate still reads them. The probed-dir read (r13) lists and reads
        // ONLY the probed cells' directories; the value filter stays as
        // the semantic guard.
        val resident = probedResident(spark, path, probedCells, b)
          .select(col("vec_id").as("r_vec_id"), col("embedding").as("r_emb"),
            col("cell").cast("long").as("cell"))
          .filter(col("cell").isin(probedCells: _*))
        // probed ≤ batch × nProbe rows — contract-bounded; broadcasting it
        // also sidesteps the low-cardinality `cell` key (a shuffle on cell
        // would funnel hot cells through single reducers).
        broadcast(probed).join(resident, "cell")
          .withColumn("cos", dot(col("embedding"), col("r_emb")) /
            (sqrt(dot(col("embedding"), col("embedding"))) *
              sqrt(dot(col("r_emb"), col("r_emb")))))
          .filter(col("cos") >= threshold)
          .select(col("vec_id")).distinct()
          .collect().map(_.get(0)).toSet
      }))
    val keep = GateBatch.survivors(b, "vec_id", losers ++ nearDups)
    appendDated(spark, LocalFrame(dated(keep, cents, ingestDate)), path, cents)
    GateBatch.verdicts(batchIds, Seq("batch_dup" -> losers, "near_dup" -> nearDups))
  }
}
