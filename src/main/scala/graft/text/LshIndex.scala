package graft.text

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Dedup
import graft.sources.{ConcurrentJobs, IndexLifecycle, Parquet}
import graft.sources.IndexLifecycle.{Table, keyed}

/** Persisted MinHash-LSH index — incremental corpus ingestion's dedup
  * gate. The batch operators (`ops.Dedup`) recompute signatures over the
  * whole corpus per run; a production pipeline dedups EACH ARRIVING BATCH
  * against the resident corpus without touching resident text again. This
  * index persists the derived tables once and lets a batch join against
  * them — the text-dedup analog of the vector side's on-disk IVF family.
  *
  * Layout on disk (all md5-deterministic, so the DuckDB oracle reproduces
  * the candidate sets bit-for-bit). Since r13 every keyed table is a
  * [[graft.sources.KeyedSidecar]] — partitioned by `_kb = pmod(hash(key),
  * 64)` and key-sorted inside each file — so per-batch reads point-prune
  * to the batch's key buckets/pages instead of scanning the resident
  * corpus (the r12 verdict's O(resident) scan term). Legacy flat layouts
  * stay readable and appendable (writes match the resident layout).
  *   path/ids      — (doc_id), keyed by doc_id: the id-disjointness
  *                   gate's authority, written FIRST on append (covers
  *                   unshingleable docs too; legacy layouts fall back to
  *                   `hashes`).
  *   path/bands    — (doc_id, band_id, band_key), partitioned by band_id,
  *                   band_key-sorted within files; the candidate join key.
  *                   At cluster scale this table would be
  *                   bucketBy(band_key) so the per-band join is
  *                   co-located; partitionBy(band_id) keeps the layout
  *                   portable here.
  *   path/shingles — (doc_id, shingle), keyed by doc_id: the
  *                   exact-Jaccard verify side, point-read for CANDIDATE
  *                   resident docs only.
  *   path/sizes    — (doc_id, n_sh, text_hash), keyed by doc_id: sizes
  *                   for the union term, CARRYING the resident content
  *                   hash (the Hash64Index hash-carrying move) so the
  *                   `is_exact` flag needs no separate hashes join.
  *   path/winnow   — (doc_id, fp), keyed by fp: winnowing fingerprints
  *                   (MOSS tier) for the optional local-overlap gate —
  *                   boilerplate/partial plagiarism that whole-doc
  *                   Jaccard stays blind to.
  *   path/hashes   — (doc_id, text_hash), keyed by text_hash: the
  *                   exact-duplicate arm, point-read by the batch's hash
  *                   set.
  *
  * Query cost for a batch of b docs against a resident corpus of N: the
  * batch derives its own shingles/bands map-side; the shingle/size/hash
  * lookups point-read candidate/batch keys through the sidecar layout;
  * only the band-candidate scan still reads O(N) — a narrow 3-column
  * table, sorted by band_key so pushed predicates prune pages at scale.
  * Nothing re-derives over N, and nothing resident crosses a shuffle.
  */
object LshIndex {

  /** Bounded-file band write (the `IvfIndex.writeCells` rationale, adapted
    * to a LOW-cardinality partition column): a bare `partitionBy(band_id)`
    * emits one file per writer task × band (tasks×4 files), while a plain
    * `repartition(band_id)` would funnel the corpus-sized table through 4
    * tasks. The composite key — band_id plus an 8-way sub-key off the
    * band_key — keeps 4·8 = 32 write-parallel units AND bounds each band
    * directory at ≤ 8 files (a directory's files = the distinct tasks
    * among its 8 sub-keys). An append is one batch's bands: one writer
    * task, one file per band directory.
    */
  private def writeBands(bands: DataFrame, path: String, mode: SaveMode): Unit =
    (if (mode == SaveMode.Append) bands.coalesce(1)
     else bands.repartition(col("band_id"), pmod(crc32(col("band_key")), lit(8))))
      // band_key-sorted files: page-level column-index stats then prune
      // pushed band-key predicates at scale (the KeyedSidecar sort rule;
      // band_id leads so the writer's partition ordering is satisfied
      // and no writer-inserted re-sort destroys the key order)
      .sortWithinPartitions(col("band_id"), col("band_key"))
      .write.mode(mode)
      .option("maxRecordsPerFile", graft.vector.IvfIndex.MaxRecordsPerCellFile)
      .option("parquet.page.row.count.limit", graft.sources.KeyedSidecar.PageRowLimit.toString)
      .partitionBy("band_id").parquet(path)

  /** Broadcast-BYTE cap for the gate's candidate-derived join sides.
    * Explicit `hint("broadcast")` bypasses autoBroadcastJoinThreshold
    * entirely, so this guard is the only thing between a hot-band pair
    * explosion and a driver/executor OOM — and a ROW cap stands on an
    * assumed row width that the data controls (the shingle string
    * dominates; the r11 cap of 5M rows already meant ~0.5 GB at ~100 B/row
    * — near the cliff it existed to prevent). The measurement (r13, the
    * r12 verdict's third option): the candidate set is ALREADY
    * `localCheckpoint(true)`-materialized, so its actual block sizes sit
    * in the block manager — [[materializedBytes]] asks the block-manager
    * master for them, a driver-side metadata call: exact-as-stored,
    * ZERO extra jobs. (r12 ran a full string-length scan job per gate
    * call — exact but ~0.3–0.5 s each; a sampled-width shortcut before it
    * was reverted because `limit` drains the first partitions of a
    * band-clustered set and under-estimates exactly in the hot-band
    * blowup this guard backstops.) Blocks store UnsafeRows, so the
    * measure is real row bytes plus object headers — the same
    * representation a broadcast relation holds, which its hash table then
    * roughly doubles: 256 MB stored stays comfortably inside default
    * 1–4 GB driver/executor headroom; past the cap the joins distribute —
    * slower, never a cliff. If the storage lookup cannot resolve (plan
    * shape drift), the guard falls back to the r12 exact string-scan job:
    * correctness-of-memory beats speed here. Test override:
    * `-Dgraft.lsh.maxGateBroadcastBytes=` pins the refusal path in
    * `LshIndexSpec` without a multi-hundred-MB fixture.
    */
  private def maxGateBroadcastBytes: Long =
    sys.props.get("graft.lsh.maxGateBroadcastBytes").map(_.toLong)
      .getOrElse(256L * 1024 * 1024)

  /** Per-row overhead estimate for the scan-fallback measure: three int64
    * pair/count columns + one int64 doc id + string/object headers.
    */
  private val GateRowOverheadBytes = 48L

  /** Measured bytes of an eagerly local-checkpointed DataFrame, straight
    * off the block manager (memSize + diskSize across its cached
    * partitions), asked synchronously of the block-manager master
    * ([[org.apache.spark.GraftStorageBridge]]): the listener-fed
    * `getRDDStorageInfo` could miss blocks stored moments before. Returns
    * None when the plan is not the expected LogicalRDD or the blocks are
    * not registered — callers must fall back to an exact measurement,
    * never assume small.
    */
  private[graft] def materializedBytes(spark: SparkSession,
      df: DataFrame): Option[Long] =
    df.queryExecution.optimizedPlan.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }.flatMap(org.apache.spark.GraftStorageBridge.rddBytes(spark.sparkContext, _))

  /** Derive and persist every index table for the corpus (the r13
    * bucketed sidecar layout — see the object doc).
    */
  def build(spark: SparkSession, docs: DataFrame, path: String): Unit = {
    import graft.sources.KeyedSidecar
    // docs is NOT checkpointed here: a corpus-sized localCheckpoint would
    // trade column-pruned source scans for a full raw materialization in
    // executor storage — wrong at 100 TB. The expensive derivation (the
    // shingle explode) is what gets materialized.
    val d = docs
    val sh = Dedup.shingles(d).localCheckpoint(true)
    // shingles/winnow explode the text (~ShingleN overlapping n-grams per
    // word; fingerprints per window) — fan-outs Catalyst's explode stats
    // do not multiply, so the layout decision reads the CHECKPOINTED
    // shingle set's exact block-manager bytes instead
    val shBytes = materializedBytes(spark, sh)
    val hashRows = d.select(col("doc_id"), md5(col("text")).as("text_hash"))
    // The six table writes are INDEPENDENT jobs over already-materialized
    // inputs (a fresh build into a fresh directory has no append-ordering
    // contract — crash-ordering only matters for appendBatch's gate-
    // authority-first rule). Submitting them from a small driver pool lets
    // each job's tail back-fill the executors the previous one leaves idle
    // (guide §2.6) — at bench scale the build was 6 sequential sub-second
    // jobs of driver-gap-dominated wall.
    ConcurrentJobs.run(Seq(
      () => KeyedSidecar.write(d.select(col("doc_id")), "doc_id",
        s"$path/ids", SaveMode.Overwrite),
      () => KeyedSidecar.write(hashRows, "text_hash", s"$path/hashes", SaveMode.Overwrite),
      () => KeyedSidecar.write(sh, "doc_id", s"$path/shingles", SaveMode.Overwrite,
        estimatedBytes = shBytes),
      () => KeyedSidecar.write(
        sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
          .join(hashRows, Seq("doc_id")),
        "doc_id", s"$path/sizes", SaveMode.Overwrite),
      () => writeBands(Dedup.bandKeys(Dedup.minhashWide(sh)), s"$path/bands",
        SaveMode.Overwrite),
      () => KeyedSidecar.write(Dedup.winnowFingerprints(d)
        .select(col("doc_id"), explode(col("fps")).as("fp")),
        "fp", s"$path/winnow", SaveMode.Overwrite,
        // fp rows ≤ shingle rows (one fingerprint per winnow window vs one
        // shingle per word): the shingle measure is a safe over-estimate
        estimatedBytes = shBytes)))
  }

  /** Default engage bound for the per-band pruned candidate read — see
    * [[residentBands]] for the measured selectivity arithmetic.
    */
  private val BandsPruneBytes: Long = 2L * 1024 * 1024 * 1024

  /** Append a batch's derived rows into the index (no resident rewrite),
    * one file per table (a delivery is bounded by contract).
    * Every write matches the RESIDENT layout — bucketed sidecar appends
    * on r13 layouts, flat appends on legacy ones (mixing the two inside
    * one table breaks partition discovery; the Hash64Index legacy-append
    * precedent) — and the gate-authority tables go FIRST: a crash
    * anywhere in this append leaves the batch's ids visible to the
    * disjointness gate (`ids`, then `hashes` for legacy layouts), so a
    * replayed batch trips the gate LOUDLY instead of silently
    * double-appending the derived tables (duplicated shingle/size rows
    * would inflate every future batch's Jaccard scores against these
    * docs). The worst crash outcome is a doc with id/hash-only presence
    * — caught by the gate and exact tier, never double-counted.
    */
  def appendBatch(spark: SparkSession, batch: DataFrame, path: String): Unit = {
    Lifecycle.recover(spark, path)
    // a delivery is bounded by contract — one checkpoint feeds the five
    // derivations below instead of five source re-reads
    val b = batch.select(col("doc_id"), col("text")).localCheckpoint(true)
    appendBatchWith(spark, b, path, Dedup.shingles(b).localCheckpoint(true))
  }

  /** [[appendBatch]] body with recovery already run and the batch's
    * shingle set precomputed by the caller — `ingestBatch` passes the
    * near-dup tier's local shingles restricted to the survivors
    * (shingles are per-doc, so the restriction IS `shingles(keep)`).
    */
  private def appendBatchWith(spark: SparkSession, batch: DataFrame,
      path: String, sh: DataFrame): Unit = {
    import graft.sources.KeyedSidecar
    // The gate-authority tables go FIRST and SEQUENTIALLY (the crash
    // contract in the method doc: ids visible before any derived rows).
    val idsP = new org.apache.hadoop.fs.Path(s"$path/ids")
    if (idsP.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(idsP))
      KeyedSidecar.write(batch.select(col("doc_id")).coalesce(1), "doc_id",
        s"$path/ids", SaveMode.Append)
    val hashRows = batch.select(col("doc_id"), md5(col("text")).as("text_hash"))
    KeyedSidecar.write(hashRows.coalesce(1), "text_hash", s"$path/hashes", SaveMode.Append)
    val sizeRows = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    // r13 sizes carry the content hash; appends follow the resident
    // SCHEMA (a legacy two-column table must not widen in place —
    // non-merging readers would miss the new rows' hashes). Layout
    // (bucketed vs flat) is KeyedSidecar.write's job, orthogonal to this.
    val residentSizesCarryHash =
      Parquet.read(spark, s"$path/sizes").columns.contains("text_hash")
    val fpRows = Dedup.winnowFingerprints(batch)
      .select(col("doc_id"), explode(col("fps")).as("fp"))
    // shingles/sizes/winnow are mutually independent batch-sized writes
    // over already-materialized inputs — submitted concurrently (guide
    // §2.6) so their job tails back-fill each other. bands still commits
    // strictly AFTER them: candidacy starts at the bands row, so a crash
    // may leave shingle/size/fp rows without bands (invisible — the doc is
    // never a candidate) but never bands without the shingle/size rows the
    // verify join needs (that would silently drop verdicts).
    ConcurrentJobs.run(Seq(
      () => KeyedSidecar.write(sh.coalesce(1), "doc_id", s"$path/shingles", SaveMode.Append),
      () => KeyedSidecar.write(
        (if (residentSizesCarryHash) sizeRows.join(hashRows, Seq("doc_id"))
         else sizeRows).coalesce(1),
        "doc_id", s"$path/sizes", SaveMode.Append),
      () => KeyedSidecar.write(fpRows.coalesce(1), "fp", s"$path/winnow", SaveMode.Append)))
    writeBands(Dedup.bandKeys(Dedup.minhashWide(sh)), s"$path/bands", SaveMode.Append)
  }

  /** Logical deletes — a doc retracted from the corpus must stop matching
    * future batches — on the shared [[graft.sources.IndexLifecycle]]
    * contract. Table order: the gate tables go LAST — `hashes`, then the
    * `ids` authority — so a crash mid-compaction keeps the deleted ids
    * burned in the disjointness gate. Legacy layouts predate `winnow` and
    * `ids`. Compaction rewrites only the files holding a deleted doc: the
    * band_key-sorted bands files keep their order and small pages, and a
    * flat keyed table that outgrew the prune bound upgrades to bucketed.
    */
  private[graft] val Lifecycle = IndexLifecycle("doc_id", IndexLifecycle.Inside, Seq(
    Table("shingles", keyed("doc_id")),
    Table("sizes", keyed("doc_id")),
    Table("bands", (_, _) => IndexLifecycle.DirtyFiles(smallPages = true)),
    Table("winnow", keyed("fp"), optional = true),
    Table("hashes", keyed("text_hash")),
    Table("ids", keyed("doc_id"), optional = true)))

  def delete(spark: SparkSession, path: String, ids: DataFrame): Unit =
    Lifecycle.delete(spark, path, ids)

  def compact(spark: SparkSession, path: String): Unit =
    Lifecycle.compact(spark, path)

  /** The resident band-candidate scan, batch-pruned where the layout
    * allows (r14 — the VERDICT r13 "O(resident) band scan" floor). The
    * candidate join matches on (band_id, band_key) EQUALITY with the
    * batch's rows, so restricting the resident read to the batch's own
    * band keys is invisible to it — and the batch carries at most
    * |batch docs| keys per band (bounded by contract), which fits the
    * parquet OR-of-eq pushdown cap PER BAND even though the total key set
    * exceeds it. Mechanically: one scan per band_id partition directory
    * with that band's `In(band_key, …)` pushed to parquet — band files
    * are band_key-sorted (writeBands), so page-level column-index
    * stats skip everything outside the batch's keys. The r13 attempt at
    * this keyed the whole probe family globally and died on the 1000-key
    * cap; splitting per band is what sidesteps it.
    *
    * ENGAGE BOUND (measured, r14 — the r13 probes-lemon lesson applied
    * before shipping): page pruning wins only when pages-per-band ≫
    * keys-per-band. At the 100×-resident probe (~40 MB bands, ~120
    * pages/band) a 500-doc batch's 500 uniform keys per band hit
    * essentially every page (P[page has no batch key] ≈ e^(−keys/pages)),
    * and the engaged prune measured NET-NEGATIVE: read 18.4→31.9 MB vs
    * 18.4→29.0 full-scan, +2.5 k shuffle records from the key-collect's
    * own distinct, wall 4.5→5.5 s. So the default bound is sized from the
    * contract batch (≤ ~1000 docs/keys-per-band): skipping ≥ ~75% of
    * pages needs pages/band ≥ ~4× keys ⇒ ≥ 4000 pages ⇒ at 4096-row
    * pages × ~40 B/row ≈ 640 MB/band ≈ 2 GB for 4 bands. Below it the
    * plain scan is strictly cheaper and runs unchanged (zero extra jobs);
    * above it — the 100-TB posture, where bands are TBs and 500 keys
    * touch ~500 of millions of pages — the read becomes O(batch) instead
    * of O(resident). Overridable via -Dgraft.lsh.bandsPruneBytes (tests
    * pin the pruned path's semantics with 0).
    *
    * Also falls back when any single band's key count exceeds the
    * pushdown cap, or when the layout is legacy (no band_id=…
    * directories).
    */
  private[graft] def residentBands(spark: SparkSession, path: String,
      bBands: DataFrame): DataFrame = {
    import graft.sources.KeyedSidecar
    val bandsPath = s"$path/bands"
    val full = Parquet.read(spark, bandsPath)
    val pruneBytes = sys.props.get("graft.lsh.bandsPruneBytes").map(_.toLong)
      .getOrElse(BandsPruneBytes)
    if (KeyedSidecar.tableBytesOf(spark, bandsPath) < pruneBytes)
      return full
    val p = new org.apache.hadoop.fs.Path(bandsPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bandDirs = fs.listStatus(p).filter(_.getPath.getName.startsWith("band_id="))
      .map(_.getPath.getName.stripPrefix("band_id=")).toSet
    if (bandDirs.isEmpty) return full // legacy flat layout
    // bounded collect (the KeyedSidecar.lookup guard): a corpus-scale
    // delivery falls back to the full scan instead of building a giant
    // literal plan — and gets a proportionate scan, which amortizes
    val cap = bandDirs.size * KeyedSidecar.MaxLookupKeys
    val collected = bBands.select(col("band_id"), col("band_key")).distinct()
      .limit(cap + 1).collect()
    if (collected.length > cap) return full
    val keys = collected.groupBy(_.getInt(0)).map { case (b, rows) =>
      b -> rows.map(_.getString(1))
    }
    if (keys.isEmpty) return full.limit(0)
    if (keys.values.exists(_.length > KeyedSidecar.MaxLookupKeys)) return full
    val bandIdType = full.schema("band_id").dataType
    keys.toSeq.sortBy(_._1)
      .filter { case (b, _) => bandDirs.contains(b.toString) }
      .map { case (b, ks) =>
        Parquet.read(spark, s"$bandsPath/band_id=$b")
          .filter(col("band_key").isin(ks.toSeq: _*))
          .select(col("doc_id"), lit(b).cast(bandIdType).as("band_id"), col("band_key"))
      }
      .reduceOption(_ unionByName _)
      .getOrElse(full.limit(0))
  }

  /** Fail fast when a batch reuses resident doc_ids. The candidate join
    * excludes same-id pairs (the self-pair guard), so an id collision would
    * silently SUPPRESS a genuine dup verdict against the same-id resident
    * doc, and appendBatch would then persist a second row under that id
    * with no uniqueness check. Disjointness is therefore a precondition,
    * checked against the hashes sidecar (which has a row for every
    * resident doc, including unshingleable ones). Cost: one small
    * semi-join action per batch.
    */
  private def requireDisjointIds(spark: SparkSession, path: String, batch: DataFrame): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasIds = fs.exists(new org.apache.hadoop.fs.Path(s"$path/ids"))
    if (!hasIds && !fs.exists(new org.apache.hadoop.fs.Path(s"$path/hashes"))) return
    val batchIds = batch.select(col("doc_id"))
    // r13: the dedicated id sidecar point-reads the batch's key
    // buckets/pages instead of scanning the corpus-sized hash table;
    // legacy layouts (no ids table) keep the hashes-based gate. The
    // semi-join enforces the restriction on every fallback path.
    val authority =
      if (hasIds) graft.sources.KeyedSidecar.lookup(spark, s"$path/ids", "doc_id", batchIds)
      else Parquet.read(spark, s"$path/hashes").select(col("doc_id"))
    val clash = authority
      .join(batchIds.hint("broadcast"), Seq("doc_id"), "left_semi")
      .limit(5).collect()
    require(clash.isEmpty,
      s"batch doc_ids collide with resident doc_ids (e.g. ${clash.map(_.get(0)).mkString(", ")}): " +
        "ingest requires batch ids disjoint from the resident corpus")
  }

  /** Dup pairs of an arriving batch AGAINST THE RESIDENT INDEX: LSH band
    * candidates → exact shingle-Jaccard verify (identical pipeline to
    * `Dedup.minhashDupPairs`, one side served from disk), plus an
    * `is_exact` flag from the content-hash arm. Exact duplicates surface
    * through the same LSH path (identical text ⇒ identical bands,
    * jaccard 1.0), so one verified pipeline covers both tiers and the
    * hash arm is a flag, not a second code path.
    */
  def dedupBatch(spark: SparkSession, path: String, batch: DataFrame,
      jaccardThreshold: Double = 0.3): DataFrame = {
    Lifecycle.recover(spark, path)
    requireDisjointIds(spark, path, batch)
    dedupPairs(spark, path, batch, Dedup.shingles(batch).localCheckpoint(true),
      jaccardThreshold).orderBy(col("batch_doc_id"), col("resident_doc_id"))
  }

  /** [[dedupBatch]]'s pairs, unordered, with the id-disjointness
    * precondition left to the caller and the batch's shingle set `bSh`
    * precomputed — `ingestBatch` derives it once and restricts it to the
    * survivors for their append (shingles are per-doc, so restriction
    * commutes).
    */
  private def dedupPairs(spark: SparkSession, path: String, batch: DataFrame,
      bSh: DataFrame, jaccardThreshold: Double): DataFrame = {
    val bBands = Dedup.bandKeys(Dedup.minhashWide(bSh))
    val bSizes = bSh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    // BROADCAST DISCIPLINE: the batch side is bounded BY CONTRACT (a
    // delivery batch — the semanticDecontam benchmark-side rationale), so
    // every join against a resident table hints the batch-derived side.
    // Without the hints AQE sometimes picks sort-merge once the resident
    // side grows (measured at the 10×-resident probe: the FULL resident
    // shingle table — 2.6M records — crossed the shuffle for one 500-doc
    // batch). With them, resident tables only ever stream map-locally:
    // per-batch cost is column-pruned resident SCANS, never resident
    // shuffles — the property that makes a daily gate affordable at
    // 100 TB resident.
    //
    // tombstoned residents drop out of the candidate side; every later
    // join (shingles/sizes/hashes) is keyed by surviving candidates, so
    // one anti-join covers the whole near-dup path
    val rBands = Lifecycle.dropTombstoned(spark, path, residentBands(spark, path, bBands))
    val cand = bBands.as("b").hint("broadcast").join(rBands.as("r"),
        col("b.band_id") === col("r.band_id") && col("b.band_key") === col("r.band_key") &&
          col("b.doc_id") =!= col("r.doc_id"))
      .groupBy(col("b.doc_id").as("batch_doc_id"), col("r.doc_id").as("resident_doc_id"))
      .agg(count(lit(1)).as("n_shared_bands"))
    // CANDIDATE-derived sides are NOT batch-bounded in the adversarial
    // case: one hot band_key shared with many residents multiplies the
    // pair count past any contract (nothing df-caps bands the way
    // winnowMaxDf caps fingerprints). Their broadcasts are therefore
    // SIZE-GUARDED: the widest side materializes once (localCheckpoint —
    // it feeds the guard measurement AND the verify join) and broadcasts
    // only under the measured-byte cap; past it the joins distribute —
    // slower, never a forced-broadcast OOM cliff. The raw batch tables
    // above keep their unconditional hints: those ARE contract-bounded.
    val candShingled = cand
      .join(bSh.as("sa").hint("broadcast"), col("batch_doc_id") === col("sa.doc_id"))
      .localCheckpoint(true)
    val candBytes = materializedBytes(spark, candShingled).getOrElse(
      candShingled.agg(coalesce(
        sum(length(col("sa.shingle")).cast("long") + lit(GateRowOverheadBytes)),
        lit(0L)).as("b")).head.getAs[Long]("b"))
    val candSmall = candBytes <= maxGateBroadcastBytes
    def guarded(df: DataFrame): DataFrame = if (candSmall) df.hint("broadcast") else df
    // Candidate-keyed resident reads (r13): the verify and size fetches
    // only need rows for CANDIDATE resident docs — already materialized
    // in the checkpoint above — so shingles and sizes point-read through
    // the KeyedSidecar layout (bucket-dir + sorted-page pruning once the
    // resident table is big; plain scans on small/legacy layouts, where
    // the joins below enforce the restriction as before).
    val candResidentIds = candShingled.select(col("resident_doc_id").as("doc_id"))
    val rSh = graft.sources.KeyedSidecar.lookup(spark,
      s"$path/shingles", "doc_id", candResidentIds)
    val inter = guarded(candShingled)
      .join(rSh.as("sb"),
        col("resident_doc_id") === col("sb.doc_id") && col("sa.shingle") === col("sb.shingle"))
      .groupBy(col("batch_doc_id"), col("resident_doc_id"), col("n_shared_bands"))
      .agg(count(lit(1)).as("n_inter"))
    val rSizes = graft.sources.KeyedSidecar.lookup(spark,
      s"$path/sizes", "doc_id", candResidentIds)
    // r13 sizes CARRY the resident content hash (the Hash64Index
    // hash-carrying move): is_exact needs no hashes join at all. Legacy
    // sizes lack the column — those fall back to the hashes join below.
    val sizesCarryHash = rSizes.columns.contains("text_hash")
    val rSizeCols =
      if (sizesCarryHash)
        rSizes.select(col("doc_id").as("resident_doc_id"), col("n_sh").as("nb"),
          col("text_hash").as("r_hash"))
      else rSizes.select(col("doc_id").as("resident_doc_id"), col("n_sh").as("nb"))
    // downstream sides only shrink (inter ≤ candidate pairs ≤ candShingled
    // rows; scored is jaccard-filtered), so one guard decision covers all
    val scored = guarded(inter
      .join(bSizes.select(col("doc_id").as("batch_doc_id"), col("n_sh").as("na"))
        .hint("broadcast"), "batch_doc_id"))
      .join(rSizeCols, "resident_doc_id")
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("na") + col("nb") - col("n_inter")).cast("double"))
      .filter(col("jaccard") >= jaccardThreshold)
    val bHashes = batch.select(col("doc_id").as("batch_doc_id"), md5(col("text")).as("b_hash"))
    val withHashes =
      if (sizesCarryHash) scored.join(bHashes.hint("broadcast"), "batch_doc_id")
      else guarded(scored.join(bHashes.hint("broadcast"), "batch_doc_id"))
        .join(Parquet.read(spark, s"$path/hashes")
          .select(col("doc_id").as("resident_doc_id"), col("text_hash").as("r_hash")),
          "resident_doc_id")
    withHashes
      .select(col("batch_doc_id"), col("resident_doc_id"), col("n_shared_bands"),
        col("jaccard"), (col("b_hash") === col("r_hash")).as("is_exact"))
  }

  /** The ingestion gate: drop every batch doc with a resident dup AND
    * within-batch exact copies (a crawl batch re-delivers its own rows
    * too — only the min-id copy of identical text proceeds), append the
    * survivors' derived rows, and return (doc_id, verdict) for the whole
    * batch — the loop a daily crawl ingest runs. Within-batch NEAR-dups
    * are out of scope here by design: run `Dedup.minhashDupPairs` over the
    * batch first if the source is known to self-plagiarize.
    *
    * Verdicts by priority: `batch_dup` > `exact_dup` (the content hash —
    * it also catches docs too short to shingle) > `near_dup` (LSH band
    * candidates, shingle-Jaccard verified) > `overlap_dup` (shared
    * winnowing fingerprints, only with `winnowMinShared > 0`) >
    * `ingested`.
    *
    * Shape: the batch, its shingles and every tier result stay on the
    * driver ([[graft.sources.LocalFrame]] — a delivery is bounded by
    * contract, and each tier yields at most one id per batch doc). The
    * id-disjointness check and the four tiers are independent reads of
    * the batch and the resident tables, so they run as one
    * [[graft.sources.ConcurrentJobs]] group with the id check first (its
    * error wins), each tier over the whole batch. A doc's tier verdict
    * depends only on that doc and the resident tables, so resolving the
    * verdicts by priority on the driver ([[graft.sources.GateBatch]])
    * equals a chain that hands each tier the previous tier's survivors.
    * The candidate-derived frames inside the near and overlap tiers are
    * NOT batch-bounded and keep their checkpoints and size guards. The
    * survivors' append starts after the group, in [[appendBatch]]'s
    * crash order.
    */
  def ingestBatch(spark: SparkSession, path: String, rawBatch: DataFrame,
      jaccardThreshold: Double = 0.3, winnowMinShared: Int = 0,
      winnowMaxDf: Int = 1000): DataFrame = {
    import graft.sources.{GateBatch, LocalFrame}
    Lifecycle.recover(spark, path)
    val batch = LocalFrame(rawBatch.select(col("doc_id"), col("text")))
    // derived once: the near tier reads it, and its restriction to the
    // survivors IS their shingle set for the append
    val bSh = LocalFrame(Dedup.shingles(batch))
    val tiers = Seq[() => Set[Any]](
      () => { requireDisjointIds(spark, path, batch); Set.empty },
      () => GateBatch.losers(batch, "doc_id", md5(col("text"))),
      () => exactTier(spark, path, batch),
      () => dedupPairs(spark, path, batch, bSh, jaccardThreshold)
        .select(col("batch_doc_id")).distinct().collect().map(_.get(0)).toSet,
      () => if (winnowMinShared <= 0) Set.empty
        else overlapTier(spark, path, batch, winnowMinShared, winnowMaxDf))
    val Seq(_, losers, exactDups, nearDups, overlapDups) =
      ConcurrentJobs.run(tiers, parallelism = tiers.size)
    val dead = losers ++ exactDups ++ nearDups ++ overlapDups
    // recovery already ran at entry
    appendBatchWith(spark, GateBatch.survivors(batch, "doc_id", dead), path,
      GateBatch.survivors(bSh, "doc_id", dead))
    GateBatch.verdicts(batch.select(col("doc_id")), Seq("batch_dup" -> losers,
      "exact_dup" -> exactDups, "near_dup" -> nearDups, "overlap_dup" -> overlapDups))
  }

  /** Resident exact tier, straight off the hashes sidecar: catches every
    * verbatim re-offer — including docs too short to shingle, which the
    * LSH pairs cannot see. Shape: the RESIDENT side streams map-locally
    * against the broadcast batch hashes (inner join + distinct on the
    * batch-bounded result) — nothing corpus-sized is ever shuffled — and
    * since r13 the hashes table is keyed BY text_hash, so the read
    * point-prunes to the batch's hash buckets/pages on big corpora instead
    * of scanning every resident hash (the join enforces the restriction
    * on fallbacks). Tombstoned residents stop matching.
    */
  private[graft] def exactTier(spark: SparkSession, path: String, batch: DataFrame): Set[Any] = {
    val batchHashes = batch.select(col("doc_id"), md5(col("text")).as("h"))
    Lifecycle.dropTombstoned(spark, path,
        graft.sources.KeyedSidecar.lookup(spark, s"$path/hashes", "text_hash",
          batchHashes.select(col("h").as("text_hash"))))
      .select(col("text_hash").as("h"))
      .join(batchHashes.hint("broadcast"), "h")
      .select(col("doc_id")).distinct()
      .collect().map(_.get(0)).toSet
  }

  /** Local-overlap tier: docs sharing ≥ `winnowMinShared` winnowing
    * fingerprints with one resident doc. A doc splicing a long run out of
    * a resident doc into fresh filler sails under the whole-doc Jaccard
    * threshold, but by the winnowing guarantee any shared run of
    * ≥ w+k−1 tokens forces shared fingerprints. Resident fps with
    * df > winnowMaxDf drop first (the MOSS boilerplate cap — same bound
    * as `Dedup.winnowDupPairs`), so one corpus-wide footer cannot make
    * the probe join quadratic. Legacy layouts predate the winnow table
    * (`compact` tolerates that too): residents written before it simply
    * have no fingerprints, so the tier degrades to an empty resident side
    * rather than throwing — from this batch on, `appendBatch` populates
    * the table, and a full-coverage guarantee needs one `build` rerun
    * (documented here rather than enforced, because the other tiers
    * remain fully live either way).
    */
  private[graft] def overlapTier(spark: SparkSession, path: String, batch: DataFrame,
      winnowMinShared: Int, winnowMaxDf: Int): Set[Any] = {
    import graft.sources.LocalFrame
    val bFp = LocalFrame(Dedup.winnowFingerprints(batch)
      .select(col("doc_id").as("b_doc_id"), explode(col("fps")).as("fp")))
    val bFpSet = bFp.select(col("fp"))
    val winnowP = new org.apache.hadoop.fs.Path(s"$path/winnow")
    val resident =
      if (winnowP.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(winnowP))
        // r13: fp-keyed sidecar — the resident fp read point-prunes to
        // the batch's fingerprint buckets/pages on big corpora
        graft.sources.KeyedSidecar.lookup(spark, s"$path/winnow", "fp", bFpSet)
      else spark.range(0).select(col("id").as("doc_id"), lit("").as("fp"))
    val rFp = Lifecycle.dropTombstoned(spark, path, resident)
    // Only fingerprints the BATCH carries can form pairs, and their
    // resident df is unchanged by the restriction — so the resident fp
    // table is first filtered map-locally against the broadcast batch fp
    // set, and the df cap aggregates over that batch-bounded slice instead
    // of the whole corpus keyspace. The matched slice is candidate-derived
    // (a hot fingerprint is shared by many residents), so it checkpoints:
    // two consumers (the df cap and the pair join) of one resident scan.
    val fpSet = LocalFrame.of(spark, bFpSet.schema, bFpSet.collect().distinct.toSeq)
    val rMatched = rFp.join(fpSet.hint("broadcast"), "fp")
      .select(col("fp"), col("doc_id").as("r_doc_id"))
      .localCheckpoint(true)
    val rare = rMatched.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= winnowMaxDf).select(col("fp"))
    bFp.hint("broadcast")
      .join(rMatched.join(rare.hint("broadcast"), "fp"), "fp")
      .groupBy(col("b_doc_id"), col("r_doc_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= winnowMinShared)
      .select(col("b_doc_id")).distinct()
      .collect().map(_.get(0)).toSet
  }
}
