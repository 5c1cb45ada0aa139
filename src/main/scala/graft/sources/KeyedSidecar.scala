package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed, key-sorted sidecar tables with batch-prunable point lookups —
  * the r13 fix for the ingest gates' per-batch O(resident) scan term.
  *
  * Every persisted ingest gate in this engine (LSH text, IVF vectors,
  * perceptual hashes, paragraph norms, inverted-index doclens) consults
  * resident METADATA per arriving batch: "which of THESE ids/hashes/norms/
  * probes already exist?". The r12 inversions made those consultations
  * shuffle-free (resident tables stream map-locally against broadcast
  * batch sides), but the resident side was still READ in full per batch —
  * per-batch cost grew linearly with the resident corpus (measured: the
  * vec gate at 2.5× wall, the text gate at 1.8×, per 100× residents), and
  * cumulative ingest cost over a corpus lifetime was quadratic.
  *
  * The fix is the `InvertedIndex` term-bucket idea generalized: the batch's
  * key set is BOUNDED (a delivery), so
  *
  *   - layout: sidecars partition by `_kb = pmod(hash(key), 64)` and sort
  *     by key inside each bucket file, written with small parquet pages
  *     (4096 rows) so page-level column-index stats have point-lookup
  *     granularity;
  *   - lookup: the batch's distinct keys collect ONCE (they are bounded by
  *     contract; a cap guards the adversarial case) and the resident scan
  *     prunes to the touched `_kb` directories PLUS a pushed key predicate
  *     — Spark pushes `In` to parquet as OR-of-eq under
  *     `spark.sql.parquet.pushdown.inFilterThreshold` (raised to 1000 in
  *     this engine's session builders) and as a min/max range above it, so
  *     sorted pages prune either way. Per-batch read bytes become
  *     O(batch keys × page size), independent of resident size.
  *
  * Size-adaptive: below [[MinPruneBytes]] of on-disk resident data the
  * lookup returns the plain full scan — at that size the scan is cheaper
  * than the key-collect job, so small corpora (and this repo's bench
  * fixtures) pay ZERO extra jobs and keep their r12 plans bit-for-bit.
  * Legacy layouts (no `_kb` directories) read unpruned, so old indexes
  * stay servable.
  *
  * Correctness note: pruning is a pure RESTRICTION — a resident row whose
  * key is not in the batch's key set cannot join/match anything — and the
  * key predicate re-evaluates post-scan (parquet pushdown is best-effort),
  * so a pruned lookup is semantically identical to the full scan it
  * replaces. Bucket placement uses Spark's own `hash()` on BOTH the write
  * and lookup sides (the `InvertedIndex.termBuckets` rule: build and query
  * can never disagree on the modulus placement).
  */
object KeyedSidecar {

  /** Bucket-count: 64 directories keeps writes one-file-per-bucket at
    * this repo's scales while giving dir-level pruning headroom; at
    * cluster scale the knob would grow with the table (a layout
    * parameter, like `InvertedIndex.nBuckets`).
    */
  val NumBuckets = 64

  /** The partition column name. Underscore-prefixed to stay out of the
    * way of payload columns; lookups drop it before returning.
    */
  val BucketCol = "_kb"

  /** Key-count bound for literal pruning — the parquet OR-of-eq pushdown
    * cap (`spark.sql.parquet.pushdown.inFilterThreshold`, raised to 1000
    * in this engine's session builders). The bound is not about plan size:
    * above the threshold Spark pushes only a min/max RANGE to parquet, and
    * over hash-random keys that range spans every page of every file — no
    * page can be skipped, so the key-collect job and the literal predicate
    * are pure overhead (measured on the Hash64Index probe family, r13:
    * the 65×-exploded batch key set made every perceptual gate SLOWER at
    * 100× residents than the plain scan it replaced). Past the cap,
    * lookups fall back to the full scan; a corpus-scale delivery gets a
    * proportionate scan, which amortizes over its own size.
    */
  val MaxLookupKeys = 1000

  /** Resident tables smaller than this on disk are cheaper to scan in
    * full than to key-collect against — the lookup skips pruning (and its
    * one collect job) entirely, which keeps small-corpus gate calls at
    * their r12 job counts.
    */
  val MinPruneBytes: Long = 32L * 1024 * 1024

  /** Parquet page row bound for sidecar writes: pages are the column-index
    * pruning granule, so small pages = fine-grained point-lookup skipping.
    * 4096 rows ≈ 32 KB for an int64 key column — header overhead stays
    * trivial while a 500-key batch touches ≤ 500 × 4096 rows of a sorted
    * table no matter how large the resident corpus grows.
    */
  val PageRowLimit = 4096

  /** ~1 GB row bound per file (the `IvfIndex.MaxRecordsPerCellFile`
    * rationale, restated locally to keep this package dependency-free).
    */
  val MaxRecordsPerFile: Long = 4L * 1000 * 1000

  def bucketOf(key: Column): Column = pmod(hash(key), lit(NumBuckets))

  /** Write (Overwrite) or append a sidecar — SIZE-ADAPTIVE (r13): a fresh
    * write whose data is estimated below [[MinPruneBytes]] lands as a
    * PLAIN flat parquet table, not a bucketed layout. Rationale: [[lookup]]
    * never prunes below that size (the full scan is cheaper than the
    * key-collect job), so a bucketed layout there is pure write overhead —
    * measured at bench scale as ~1.8 s to append a few thousand rows into
    * 64 partition directories (shuffle + sort + 64 dir commits) vs ~0.2 s
    * flat, ×4 writes per ingest-gate call ⇒ the r13 mm-gate 2.5×
    * regression. Small corpora keep their r12 flat plans bit-for-bit; big
    * corpora get the bucketed point-lookup layout in one write.
    *
    * The estimate: `estimatedBytes` when the caller knows better (e.g. a
    * ×65 probe fan-out that Catalyst's explode stats do not multiply),
    * else the frame's own `optimizedPlan.stats.sizeInBytes` (checkpointed
    * gate frames carry real stats; parquet-scan-derived frames get
    * file-size-based ones). Stats measure in-memory width while the
    * threshold is on-disk, so this errs toward bucketing moderately early
    * — the safe direction: a too-early bucketed layout costs one small
    * write's overhead, a too-late flat layout reads unpruned until
    * [[graft.sources.CompactSwap]]-style rewrites upgrade it (gate
    * compact() paths re-choose the layout from the table's ACTUAL size).
    *
    * Append mode never re-decides from size: an append follows the
    * RESIDENT layout (mixing flat files and partition dirs inside one
    * table breaks partition discovery) — bucketed residents extend
    * bucketed, flat residents extend flat. A flat table that outgrows the
    * threshold through appends upgrades at the next compaction
    * (`IndexLifecycle.keyed`).
    *
    * Bucketed shape: bucket-partitioned, key-sorted within each file,
    * small pages. One shuffle of the written rows — the standard price of
    * a bounded partitioned layout, batch-sized on appends. The sort lists
    * `_kb` first so the writer's required partition ordering is already
    * satisfied and the key order inside each file survives (a
    * writer-inserted partition sort would not preserve it).
    */
  def write(df: DataFrame, keyCol: String, path: String, mode: SaveMode,
      estimatedBytes: Option[Long] = None): Unit =
    if (mode == SaveMode.Append) {
      if (isBucketed(df.sparkSession, path)) writeBucketed(df, keyCol, path, mode)
      else df.drop(BucketCol).write.mode(mode).parquet(path)
      // grow the cached size by the appended frame's estimate (in-memory
      // stats over-estimate parquet bytes — the safe direction; see
      // sizeCache). Only when an entry exists: an absent entry stays
      // absent and the next lookup walks once, exactly.
      val prev = sizeCache.get(path)
      if (prev != null) {
        val est = estimatedBytes.map(BigInt(_))
          .getOrElse(df.queryExecution.optimizedPlan.stats.sizeInBytes)
        val grown = BigInt(prev.longValue) + est
        val capped = if (grown > BigInt(Long.MaxValue)) Long.MaxValue else grown.toLong
        sizeCache.put(path, java.lang.Long.valueOf(capped))
        ()
      }
    } else {
      val est: BigInt = estimatedBytes.map(BigInt(_))
        .getOrElse(df.queryExecution.optimizedPlan.stats.sizeInBytes)
      if (est < BigInt(MinPruneBytes))
        df.drop(BucketCol).write.mode(mode).parquet(path)
      else writeBucketed(df, keyCol, path, mode)
      invalidateSize(path)
    }

  /** The bucketed layout writer, unconditionally — tests and compaction
    * upgrades use it directly; [[write]] routes here for big fresh writes
    * and all appends.
    */
  private[graft] def writeBucketed(df: DataFrame, keyCol: String,
      path: String, mode: SaveMode): Unit =
    df.drop(BucketCol).withColumn(BucketCol, bucketOf(col(keyCol)))
      .repartition(col(BucketCol))
      .sortWithinPartitions(col(BucketCol), col(keyCol))
      .write.mode(mode)
      .option("parquet.page.row.count.limit", PageRowLimit.toString)
      .option("maxRecordsPerFile", MaxRecordsPerFile)
      .partitionBy(BucketCol).parquet(path)

  private def fsOf(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Whether a table on disk carries the bucketed layout. Appends MUST
    * match the resident layout (mixed flat-files-plus-partition-dirs
    * inside one table break partition discovery), so writers branch on
    * this — the Hash64Index legacy-append precedent.
    */
  def isBucketed(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val fs = fsOf(spark, path)
    fs.exists(p) && fs.listStatus(p)
      .exists(_.getPath.getName.startsWith(BucketCol + "="))
  }

  /** Session-lifetime cache of table on-disk bytes, path → bytes (r14,
    * VERDICT #3/#5): [[lookup]] previously ran `getContentSummary` — an
    * O(file-count) driver metadata walk — on EVERY call, a per-batch
    * driver stall once a sidecar holds thousands of files. All sidecar
    * mutations in this engine go through [[write]] (single-writer design,
    * LshIndex scaladoc), which keeps the entry incremental: appends ADD
    * the appended frame's size estimate (in-memory stats ≥ on-disk bytes —
    * errs toward pruning early, the safe direction: pruning is
    * restriction-only and the threshold only gates its economics),
    * overwrites and compaction commits invalidate (next lookup re-walks
    * once). Steady-state ingest pays ONE walk per table per session.
    */
  private val sizeCache = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Drop the cached size for a path — compaction swaps rename fresh
    * directories into place, and file commits rename fresh files in,
    * without going through [[write]] on the live path, so [[CompactSwap]]
    * calls this on every commit.
    */
  private[sources] def invalidateSize(path: String): Unit = {
    sizeCache.remove(path); ()
  }

  private[graft] def cachedBytes(path: String): Option[Long] =
    Option(sizeCache.get(path)).map(_.longValue)

  /** [[tableBytes]] for sibling index layouts (the LSH bands table rides
    * the same size-gated pruning economics without being a keyed sidecar).
    */
  private[graft] def tableBytesOf(spark: SparkSession, path: String): Long =
    tableBytes(spark, path)

  /** On-disk byte size of the table — served from [[sizeCache]]; the
    * O(file-count) `getContentSummary` walk runs only on a miss.
    */
  private def tableBytes(spark: SparkSession, path: String): Long = {
    val cached = sizeCache.get(path)
    if (cached != null) cached.longValue
    else {
      val b = fsOf(spark, path).getContentSummary(new Path(path)).getLength
      sizeCache.put(path, java.lang.Long.valueOf(b))
      b
    }
  }

  /** Point-lookup scan: the sidecar restricted to the batch's key set,
    * pruned as far as the layout allows. `keys` must be a frame whose
    * `keyCol` values are exactly the keys the caller will join/filter on
    * — it is only EVALUATED (one distinct+collect job) when the resident
    * table is big enough for pruning to pay. Returns the full scan when
    * the table is small, the layout is legacy (unbucketed), or the batch
    * key set exceeds [[MaxLookupKeys]]; always drops [[BucketCol]].
    * Either way the result is semantically the full table as far as
    * joins on `keyCol` (or on a superset of columns including it) are
    * concerned — restriction to keys the batch does not carry is
    * invisible to them.
    */
  def lookup(spark: SparkSession, path: String, keyCol: String,
      keys: DataFrame): DataFrame =
    lookup(spark, path, keyCol, keys, MinPruneBytes)

  /** [[lookup]] with an explicit prune threshold — tests pass 0 to
    * exercise the pruned path on small fixtures.
    */
  private[graft] def lookup(spark: SparkSession, path: String, keyCol: String,
      keys: DataFrame, minPruneBytes: Long): DataFrame = {
    val base = Parquet.read(spark, path)
    val bucketed = base.columns.contains(BucketCol)
    def plain = if (bucketed) base.drop(BucketCol) else base
    if (tableBytes(spark, path) < minPruneBytes) return plain
    val collected = keys
      .select(col(keyCol), bucketOf(col(keyCol)).cast("int").as("_b"))
      .distinct().limit(MaxLookupKeys + 1).collect()
    if (collected.length > MaxLookupKeys) return plain
    if (collected.isEmpty) return plain.limit(0)
    val ks: Array[Any] = collected.map(_.get(0))
    val kf = col(keyCol).isin(ks: _*)
    if (bucketed) {
      val buckets: Array[Any] = collected.map(_.getInt(1): Any).distinct
      base.filter(col(BucketCol).isin(buckets: _*) && kf).drop(BucketCol)
    } else base.filter(kf)
  }
}
